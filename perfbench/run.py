"""Benchmark entry point: one workload per process, one JSON line out.

    python3 perfbench/run.py --workload netex_station --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout of the repository. The program runs on
``local[N]`` with N the usable cores. All files the run writes (cached
inputs, Spark scratch, export workdirs, spans) stay under
``.perfbench_work/`` in the checkout.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
program's entry points in spans and prints the per-layer metrics. The
last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

UNITS = {
    "setup_s": "s", "job_s": "s", "ok_ratio": "ratio",
}


def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _configure_env(cores: int) -> None:
    """Keep every file the JVM, Spark and Python workers write inside
    the checkout; size the session for this machine."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # no hsperfdata file under /tmp
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _stop_spark(spark) -> None:
    """Stop the session, the JVM behind it and every process they
    started (Python workers outlive the JVM as orphans for a moment);
    wait until each has ended."""
    from pyspark import SparkContext

    import tracing as tr

    started = tr.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(map(tr.alive, started)):
        time.sleep(0.05)
    for pid in filter(tr.alive, started):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(map(tr.alive, started)):
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # each workload runs a fixed-size job that takes longer than the
    # benchmark's run_seconds; the argument does not size it
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import osm2vdv462_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import tracing as tr
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    _configure_env(cores)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = tr.Tracer(run_id) if args.trace else None

    from osm2vdv462_spark import deploy, session

    if tracer:
        tracer.wrap(deploy, "ensure_shipped", "deploy.ensure_shipped")
    # memory is a per-layer metric: no sampler thread in untraced runs
    with tr.PeakRss() if tracer else contextlib.nullcontext() as rss:
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench", cores=cores)
        get_spark_s = time.perf_counter() - t0
        setup_s = process_age_s()
        try:
            result = workloads.WORKLOADS[args.workload](
                spark, workloads.Run(args.seed, WORK, tracer)
            )
        finally:
            t_stop = time.perf_counter()
            _stop_spark(spark)
    result.log.append(f"setup {setup_s:.3f} s, workload "
                      f"{t_stop - t0 - get_spark_s:.3f} s, stop "
                      f"{time.perf_counter() - t_stop:.3f} s")
    if tracer:
        tracer.unwrap_all()
        tracer.dump(os.path.join(WORK, "spans", run_id + ".json"))
        metrics = dict.fromkeys(workloads.LAYER_UNITS, 0)
        metrics.update(result.layers)
        metrics["session.get_spark_s"] = get_spark_s
        shipped = tracer.named("deploy.ensure_shipped")
        metrics["deploy.ensure_shipped_s"] = sum(s.seconds for s in shipped)
        metrics["trace.setup_s"] = setup_s
        metrics["trace.peak_rss_mb"] = rss.peak / 2**20
        metrics["trace.spans"] = len(tracer.spans)
        units = workloads.LAYER_UNITS
    else:
        metrics = {
            "setup_s": setup_s,
            "job_s": result.job_s,
            "ok_ratio": (result.attempted - result.failed) / result.attempted,
        }
        units = UNITS
    for line in result.log:
        print(line, file=sys.stderr)
    print(json.dumps({
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
