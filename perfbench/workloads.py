"""The benchmark's workloads. Each is a closed loop with one client: an
operation starts when the previous one ends.

* ``netex_station``: one cold export of a station-sized ``.osm.pbf``
  (8 stop areas, ~340 elements) from scan to a validated NeTEx document,
  in a fresh process. Fixed per-stage costs dominate it.
* ``geotag_assign``: ``pip_knn_assign_codegen`` over a seeded geotag
  table with one hot stop area, in a fresh session, then
  ``GEOTAG_PASSES`` full passes, each into a ``noop`` sink. No pipeline
  code runs.

Every operation is checked; a failed check counts the operation failed.
With a tracer, the same operations run inside spans and the per-layer
metrics below are filled in.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

STATION_AREAS = 8
GEOTAG_POINTS = 4_000_000
GEOTAG_SAMPLE_EVERY = 2000  # one sample row per this many events
# the geotag job: the operator call and this many full passes; the
# steady pass time is the median of the passes after the first
# WARMUP_PASSES repeats (the first pass is not among them)
GEOTAG_PASSES = 6
WARMUP_PASSES = 2

STOP_PLACE_STAGES = (
    "platforms_with_width", "platforms_split", "platforms_merged",
    "final_quays", "final_entrances", "final_access_spaces",
)
ROUTING_STAGES = (
    "stop_area_edges", "path_links", "access_spaces", "paths_elements_ref",
    "final_site_path_links",
)

LAYER_UNITS = {
    "session.get_spark_s": "s",
    "deploy.ensure_shipped_s": "s",
    "pbf.read_s": "s",
    "pbf.blobs": "count",
    "pbf.elements": "count",
    "pbf.elements_per_s": "1/s",
    "extract.dispatch_s": "s",
    "extract.kept_ratio": "ratio",
    "osm_world.assemble_s": "s",
    "osm_world.resolved_ratio": "ratio",
    "stage.world_s": "s",
    **{f"stage.{s}_s": "s" for s in STOP_PLACE_STAGES},
    "stop_places.s": "s",
    "stop_places.quays": "count",
    **{f"stage.{s}_s": "s" for s in ROUTING_STAGES},
    "routing.s": "s",
    "routing.stitch_calls": "count",
    "routing.edges": "count",
    "routing.path_links": "count",
    "checkpoint.stages_computed": "count",
    "checkpoint.stages_skipped": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.materialize_s": "s",
    "checkpoint.resume_check_s": "s",
    "stage.export_data_s": "s",
    "export.assemble_s": "s",
    "export.document_bytes": "bytes",
    "export.resume_s": "s",
    "runner.self_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "jvm_pip.build_s": "s",
    "jvm_pip.first_pass_s": "s",
    "jvm_pip.pass_s": "s",
    "jvm_pip.points_per_s": "1/s",
    "jvm_pip.warmup_passes": "count",
    "jvm_pip.in_poly_ratio": "ratio",
    "jvm_pip.knn_matched_ratio": "ratio",
    "trace.job_s": "s",
    "trace.setup_s": "s",
    "trace.peak_rss_mb": "MB",
    "trace.spans": "count",
}


@dataclass
class Run:
    seed: int
    work: str
    tracer: object | None = None


@dataclass
class Result:
    job_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    layers: dict = field(default_factory=dict)
    log: list = field(default_factory=list)

    def record(self, what: str, errors: list[str]) -> None:
        """Count one operation; it failed if any check found an error."""
        self.attempted += 1
        if errors:
            self.failed += 1
            self.log.extend(f"FAILED {what}: {e}" for e in errors)


def _spark_counts(spark, group: str) -> dict:
    """Jobs, stages and tasks run under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return {"spark.jobs": len(jobs), "spark.stages": len(stages),
            "spark.tasks": tasks}


# ------------------------------------------------------------ netex_station


def expected_quays(n_areas: int) -> int:
    """Quays build_world yields: platform A, merged B, the two halves of
    split C (even areas) and node platform D (every third area)."""
    return 2 * n_areas + 2 * ((n_areas + 1) // 2) + (n_areas + 2) // 3


def check_export(doc: str, stats: dict, meta: dict, n_areas: int) -> list:
    from osm2vdv462_spark.pipeline import validate

    errors = list(validate.validate_document(doc))
    stop_places = len(re.findall(r"<StopPlace[ >]", doc))
    quays = len(re.findall(r"<Quay[ >]", doc))
    if stop_places != n_areas:
        errors.append(f"{stop_places} StopPlace elements, want {n_areas}")
    if quays != expected_quays(n_areas):
        errors.append(f"{quays} Quay elements, want {expected_quays(n_areas)}")
    for table, want in meta["expected"].items():
        got = stats.get(f"world_{table}", {}).get("rows")
        if got is not None and got != want:
            errors.append(f"world_{table}: {got} rows, want {want}")
    return errors


def netex_station(spark, run: Run) -> Result:
    import osmgen
    from osm2vdv462_spark.pipeline import checkpoint, export, routing, runner

    res = Result()
    path, meta = osmgen.ensure_pbf(
        os.path.join(run.work, "cache"), STATION_AREAS, 0, run.seed
    )
    base = os.path.join(run.work, "exports", str(os.getpid()))
    shutil.rmtree(base, ignore_errors=True)
    tracer = run.tracer
    if tracer:
        tracer.wrap(checkpoint.StageCheckpoint, "materialize",
                    lambda _ck, name, *a, **k: f"stage.{name}")
        tracer.wrap(export, "assemble_document", "export.assemble_document")
        tracer.wrap(routing, "stitch_path_links", "routing.stitch_path_links")

    def export_into(workdir: str, group: str):
        spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        if tracer:
            with tracer.span(f"export.{group}") as span:
                out = runner.run_full_pipeline(spark, workdir, pbf_path=path)
        else:
            span = None
            out = runner.run_full_pipeline(spark, workdir, pbf_path=path)
        wall = time.perf_counter() - t0
        with open(out["document"]) as fh:
            doc = fh.read()
        return out, doc, wall, span

    try:
        cold_dir = os.path.join(base, "cold")
        out, doc, res.job_s, cold_span = export_into(cold_dir, "cold")
        res.record("cold export", check_export(doc, out["stats"], meta,
                                               STATION_AREAS))
        res.log.append(f"cold export {res.job_s:.3f} s, "
                       f"{meta['elements']} elements")
        if tracer:
            res.layers.update(_spark_counts(spark, "cold"))
            _, doc2, resume_s, resume_span = export_into(cold_dir, "resume")
            errs = [] if doc2 == doc else ["resume document differs"]
            res.record("resume export", errs)
            res.layers.update(_export_layers(tracer, cold_span, resume_span,
                                             out["stats"], doc))
            res.layers["export.resume_s"] = resume_s
            res.layers["trace.job_s"] = res.job_s
            res.layers.update(_ingest_probe(spark, path))
        spark.sparkContext.setJobGroup("check", "check")
        res.record("extract", osmgen.matches_write_pbf(
            spark, STATION_AREAS, 0, run.seed, path, base))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return res


def _export_layers(tracer, cold, resume, stats: dict, doc: str) -> dict:
    stage = {s.name[len("stage."):]: s.seconds
             for s in tracer.named("stage.", cold)}
    out = {f"stage.{s}_s": stage.get(s, 0.0)
           for s in STOP_PLACE_STAGES + ROUTING_STAGES + ("export_data",)}
    out["stage.world_s"] = sum(v for k, v in stage.items()
                               if k.startswith("world_"))
    out["stop_places.s"] = sum(stage.get(s, 0.0) for s in STOP_PLACE_STAGES)
    out["routing.s"] = sum(stage.get(s, 0.0) for s in ROUTING_STAGES)
    out["stop_places.quays"] = stats["final_quays"]["rows"]
    out["routing.stitch_calls"] = len(
        tracer.named("routing.stitch_path_links", cold))
    out["routing.edges"] = stats["stop_area_edges"]["rows"]
    out["routing.path_links"] = stats["path_links"]["rows"]
    computed = [k for k, v in stats.items() if not v["skipped"]]
    out["checkpoint.stages_computed"] = len(computed)
    out["checkpoint.stages_skipped"] = len(stats) - len(computed)
    out["checkpoint.bytes_written"] = sum(stats[k]["bytes"] for k in computed)
    out["checkpoint.materialize_s"] = sum(stage.values())
    out["checkpoint.resume_check_s"] = sum(
        s.seconds for s in tracer.named("stage.", resume))
    out["export.assemble_s"] = sum(
        s.seconds for s in tracer.named("export.assemble_document", cold))
    out["export.document_bytes"] = len(doc.encode())
    out["runner.self_s"] = tracer.self_seconds(cold)
    return out


def _ingest_probe(spark, path: str) -> dict:
    """The ingest layers run lazily inside the first world_* stage;
    force each into a noop sink on its own: scan, dispatch over the
    cached scan, way assembly over the cached scan."""
    from pyspark.sql import Observation, functions as F

    from osm2vdv462_spark.pipeline import extract, osm_world
    from osm2vdv462_spark.sources import pbf

    def timed_noop(df, obs):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, obs.get

    spark.sparkContext.setJobGroup("ingest", "ingest")
    out = {}
    raw = pbf.read_pbf(spark, path).cache()
    obs = Observation()
    out["pbf.read_s"], got = timed_noop(
        raw.observe(obs, F.count(F.lit(1)).alias("n")), obs)
    out["pbf.elements"] = got["n"]
    out["pbf.blobs"] = sum(1 for *_, t in pbf.scan_blob_descriptors(path)
                           if t == "OSMData")
    out["pbf.elements_per_s"] = got["n"] / out["pbf.read_s"]
    obs = Observation()
    dispatched = extract.dispatch(pbf.elements_for_dispatch(raw))
    out["extract.dispatch_s"], got = timed_noop(dispatched.observe(
        obs, F.count(F.lit(1)).alias("n"),
        F.count("target_table").alias("kept")), obs)
    out["extract.kept_ratio"] = got["kept"] / got["n"]
    obs = Observation()
    ways = osm_world.assemble_way_geometries(raw)
    out["osm_world.assemble_s"], got = timed_noop(ways.observe(
        obs, F.sum("n_refs").alias("refs"),
        F.sum("n_resolved").alias("resolved")), obs)
    out["osm_world.resolved_ratio"] = got["resolved"] / got["refs"]
    raw.unpersist()
    return out


# ------------------------------------------------------------ geotag_assign


def pass_observation(out, seed: int):
    """``out`` with exact per-pass aggregates attached, computed inside
    the pass on the executors: row and match counts, two sums of the
    stop-area column the numpy oracle repeats, an order-free XOR of a
    per-row hash over every output column, and the rows of a seeded
    sample (event ids in one residue class) for the brute-force check."""
    from pyspark.sql import Observation, functions as F

    import geotags

    obs = Observation()
    rel = F.col("relation_id").cast("long")
    eid = F.col("event_id")
    observed = out.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.count("relation_id").alias("in_poly"),
        F.coalesce(F.sum(rel), F.lit(0)).alias("rel_sum"),
        F.coalesce(F.sum((eid % geotags.WEIGHT_MOD + 1) * rel),
                   F.lit(0)).alias("rel_weighted"),
        F.count("quay_id").alias("matched"),
        F.bit_xor(F.xxhash64("event_id", "relation_id", "quay_id",
                             "dist_m")).alias("row_hash"),
        F.sort_array(F.collect_list(F.when(
            eid % GEOTAG_SAMPLE_EVERY == _sample_residue(seed),
            F.struct("event_id", "relation_id", "quay_id", "dist_m"),
        ))).alias("sample"),
    )
    return observed, obs


def _sample_residue(seed: int) -> int:
    return int(np.random.default_rng([seed, 3]).integers(GEOTAG_SAMPLE_EVERY))


def _assign_pass(out, seed: int) -> tuple[float, dict]:
    """One full pass of the assignment into a ``noop`` sink: every
    output row is computed, none but the sample leaves the executors.
    Returns the pass's seconds and its aggregates."""
    observed, obs = pass_observation(out, seed)
    t0 = time.perf_counter()
    observed.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, obs.get


def geotag_assign(spark, run: Run) -> Result:
    import geotags
    from osm2vdv462_spark.operators import jvm_pip
    from osm2vdv462_spark.pipeline import datagen

    res = Result()
    tracer = run.tracer
    n = GEOTAG_POINTS
    t_gen = time.perf_counter()
    path, sf_dir = geotags.ensure_tables(
        os.path.join(run.work, "cache"), n, run.seed)
    lon, lat = geotags.points(n, run.seed)
    want = geotags.pip_aggregates(geotags.oracle_pip(lon, lat))
    want["matched"] = n
    t_in = time.perf_counter()
    pts = spark.read.parquet(path)
    polys = datagen.stop_area_octagons(spark, sf_dir)
    quays = datagen.quay_sites(spark, sf_dir)
    if tracer:
        tracer.wrap(jvm_pip, "pip_knn_assign_codegen",
                    "jvm_pip.pip_knn_assign_codegen")

    spark.sparkContext.setJobGroup("cold", "cold")
    t0 = time.perf_counter()
    out = jvm_pip.pip_knn_assign_codegen(
        pts, polys, quays, point_keep=["event_id"],
        poly_id="relation_id", target_id="quay_id")
    build_s = time.perf_counter() - t0
    first_s, first = _assign_pass(out, run.seed)
    res.record("first pass", [
        f"{k}: {first[k]}, want {v}" for k, v in want.items()
        if first[k] != v] + check_sample(first["sample"], lon, lat, run.seed))
    if tracer:
        res.layers.update(_spark_counts(spark, "cold"))

    spark.sparkContext.setJobGroup("steady", "steady")
    passes = []
    for _ in range(GEOTAG_PASSES - 1):
        pass_s, got = _assign_pass(out, run.seed)
        passes.append(pass_s)
        res.record("pass", [f"{k} differs from the first pass's"
                            for k in first if got[k] != first[k]])
    res.job_s = time.perf_counter() - t0
    pass_s = statistics.median(passes[WARMUP_PASSES:])
    res.log.append(f"inputs {t_in - t_gen:.3f} s, build {build_s:.3f} s, "
                   "passes " + " ".join(f"{p:.3f}" for p in [first_s] + passes)
                   + f", job {res.job_s:.3f} s")
    if tracer:
        warm = next(i for i, p in enumerate([first_s] + passes)
                    if p <= 1.1 * pass_s)
        res.layers.update({
            "jvm_pip.build_s": build_s,
            "jvm_pip.first_pass_s": first_s,
            "jvm_pip.pass_s": pass_s,
            "jvm_pip.points_per_s": n / pass_s,
            "jvm_pip.warmup_passes": warm,
            "jvm_pip.in_poly_ratio": first["in_poly"] / n,
            "jvm_pip.knn_matched_ratio": first["matched"] / n,
            "trace.job_s": res.job_s,
        })
    return res


def check_sample(rows, lon, lat, seed: int) -> list:
    """The sample rows of a pass (event ids in the seed's residue
    class): stop area, nearest quay and distance against the
    brute-force oracle."""
    import geotags

    ids = np.arange(_sample_residue(seed), len(lon), GEOTAG_SAMPLE_EVERY)
    got_ids = np.array([r["event_id"] for r in rows], np.int64)
    if not np.array_equal(got_ids, ids):
        return [f"{len(rows)} sample rows, want {len(ids)}"]
    if any(r["quay_id"] is None for r in rows):
        return ["sample points without a quay"]
    rel, qid, dist = geotags.oracle(lon[ids], lat[ids])
    got_rel = np.array([-1 if r["relation_id"] is None else r["relation_id"]
                        for r in rows], np.int64)
    got_q = np.array([r["quay_id"] for r in rows], np.int64)
    got_d = np.array([r["dist_m"] for r in rows], np.float64)
    same_d = np.isclose(got_d, dist, rtol=1e-9, atol=1e-6)
    return [f"event {ids[k]}: stop area {got_rel[k]}, quay {got_q[k]} at "
            f"{got_d[k]} m; want {rel[k]}, {qid[k]} at {dist[k]} m"
            for k in np.flatnonzero((got_rel != rel) | (got_q != qid)
                                    | ~same_d)[:10]]


WORKLOADS = {"netex_station": netex_station, "geotag_assign": geotag_assign}
