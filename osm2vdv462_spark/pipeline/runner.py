"""End-to-end pipeline runner with checkpoint/resume, run as a
concurrent stage DAG.

Drives the whole reference pipeline (ingest -> quays -> routing ->
export, the five stages of the reference's export.sh) through
StageCheckpoint: every stage materializes to parquet + manifest, reruns
skip validated stages, and the final NeTEx document is written only from
materialized inputs. This is the engine's `spark-submit` entry body.
``run_stages`` is the DAG without the document; the gated pipeline
queries (queries/pipeline_queries.py) read its stage tables.

* Stage DAG: each stage names the stages it reads and goes to a small
  thread pool in topological order. The pool is FIFO, so a stage only
  ever waits on stages already running or done — a full pool cannot
  deadlock. Independent chains (the world tables, quays vs entrances,
  the parking and organisation XML) overlap instead of queueing behind
  each other on an otherwise idle executor. Pool threads inherit the
  caller's Spark local properties, so every job lands in the caller's
  job group. Stage names and manifest input keys are unchanged, so
  existing workdirs resume.
* World first: ``world_stop_areas`` runs alone, then the other eight
  world tables run together. The first world stage fills the shared
  scan / dispatch caches of a ``.osm.pbf`` ingest; a cache that is
  still being filled is not shared, so nine concurrent world stages
  would each recompute the scan. When ``world_stop_areas`` resumes but
  another world table must compute, that first task fills the caches
  on its own.
* Stitch once: ``path_links``, ``access_spaces`` and
  ``paths_elements_ref`` are three views of one stitcher output, so
  ``synthesize_routes`` + ``stitch_path_links`` run at most once per
  export (not at all when all three resume). ``path_links`` runs first
  and fills the stitcher's cache, which the other two then read.
* Cache scope: what the export persists is released as soon as the
  stages reading it are written — the pbf scan and dispatched base after
  the nine world tables, platforms_merged's clustered rows after that
  stage, the stitcher output after the three routing tables — and all
  of it when a stage fails. Caches the caller made stay.
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from . import export as ex_mod, routing, stop_places as sp
from .checkpoint import StageCheckpoint
from .world import world_dfs

# stages in flight at once: enough to overlap the independent chains of
# the DAG, few enough that their jobs do not crowd a small executor
POOL_WIDTH = 4

WORLD_TABLES = (
    "stop_areas", "platforms", "platforms_edges", "stop_areas_members_ref",
    "entrances", "pois", "highways", "parking", "organisations",
)

_EMPTY_ORGANISATIONS = (
    "id string, label string, alternatives string, official_name string,"
    " short_name string, website string, email string, phone string,"
    " address string, type string"
)


def _once(fn):
    """``fn`` evaluated by the first call only (thread-safe); every call
    returns that result."""
    lock, box = threading.Lock(), []

    def call(*args):
        with lock:
            if not box:
                box.append(fn(*args))
        return box[0]

    return call


class StageDag:
    """Named tasks on a FIFO thread pool, each called with the results
    of the tasks it reads. A task may only name tasks added before it
    (topological order), so a running task only waits on tasks that are
    already running or done."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._pool = ThreadPoolExecutor(POOL_WIDTH, thread_name_prefix="stage")
        self._futures: dict = {}

    def add(self, name: str, fn, *inputs: str, after: tuple = ()) -> None:
        """``fn(*results of inputs)``, started once ``inputs`` and
        ``after`` (ordering only) are done."""
        reads = [self._futures[n] for n in inputs]
        waits = [self._futures[n] for n in after]

        def task():
            for f in waits:
                f.result()
            return fn(*(f.result() for f in reads))

        # wrapped here, on the caller's thread: the task gets its own
        # copy of the caller's local properties (job group, tags)
        target = inheritable_thread_target(self._spark)(task)
        self._futures[name] = self._pool.submit(target)

    def on_success(self, names, fn) -> None:
        """``fn()`` once every task in ``names`` has succeeded, on the
        thread that finished the last of them (it takes no pool slot);
        never if one of them fails or is cancelled."""
        futures = [self._futures[n] for n in names]
        lock, left = threading.Lock(), [len(futures)]

        def done(_):
            with lock:
                left[0] -= 1
                if left[0]:
                    return
            if all(not f.cancelled() and f.exception() is None
                   for f in futures):
                fn()

        for f in futures:
            f.add_done_callback(done)

    def run(self) -> dict:
        """Wait for every task and return {name: result} in the order
        added. On the first failure the tasks not yet started are
        cancelled, the running ones finish, and the failure is raised."""
        try:
            wait(self._futures.values(), return_when=FIRST_EXCEPTION)
        finally:
            self._pool.shutdown(wait=True, cancel_futures=True)
        for f in self._futures.values():
            if not f.cancelled() and f.exception() is not None:
                raise f.exception()
        return {n: f.result() for n, f in self._futures.items()}


def run_stages(
    spark: SparkSession,
    workdir: str,
    n_areas: int = 4,
    seed: int = 42,
    pbf_path: str | None = None,
) -> tuple[dict, dict]:
    """Runs the stage DAG into ``workdir`` and returns (results, stats).

    ``results`` maps each checkpoint stage name to its frame (read back
    from the stage's parquet), plus ``parking_xml`` / ``organisation_xml``
    to their collected fragment lists; ``stats`` holds each stage's
    checkpoint stats, in DAG order. Arguments as for run_full_pipeline."""
    os.makedirs(workdir, exist_ok=True)
    ck = StageCheckpoint(spark, workdir)
    # overlap the ~2-3 s XML-template construction with the stage jobs
    # below (no-op when the per-app template cache is already warm)
    ex_mod.prewarm_templates(spark)
    # what this export persists, by the stages whose end frees it
    scan_cached: list = []  # pbf raw scan + dispatched base: world_*
    merge_cached: list = []  # clustered platforms: platforms_merged
    stitch_cached: list = []  # stitcher output: the three routing tables
    if pbf_path is not None:
        gen = {"generator": f"pbf:{os.path.abspath(pbf_path)}"}

        def build_source():
            from . import osm_world

            # one scan + dispatch + ref->node geometry-assembly shuffle
            # (THE big shuffle of any OSM ingest) for all nine tables
            tables = osm_world.world_from_pbf(spark, pbf_path, scan_cached)
            tables["organisations"] = spark.createDataFrame(
                [], _EMPTY_ORGANISATIONS
            )
            return tables

        source = _once(build_source)
    else:
        gen = {"generator": f"world:n={n_areas}:seed={seed}"}
        source = _once(lambda: world_dfs(spark, n_areas, seed))

    dag = StageDag(spark)

    def stage(name, build, after=(), **inputs):
        """Checkpoint stage ``name``: ``inputs`` maps each manifest
        snapshot key to the stage it reads; ``build`` gets their
        frames in that order."""

        def run(*frames):
            snaps = {key: ck.snapshot_of(s) for key, s in inputs.items()}
            return ck.materialize(name, lambda: build(*frames), snaps)

        dag.add(name, run, *inputs.values(), after=after)

    def first_world():
        out = ck.materialize("world_stop_areas",
                             lambda: source()["stop_areas"], gen)
        # computing world_stop_areas filled the pbf scan caches; when it
        # was skipped, fill them here if another world table will
        # compute, or each of those would run its own scan concurrently
        if (
            pbf_path is not None
            and ck.stats["world_stop_areas"]["skipped"]
            and not all(ck.is_current(f"world_{t}", gen)
                        for t in WORLD_TABLES[1:])
        ):
            source()
            for df in scan_cached:
                df.count()
        return out

    def world(t):
        dag.add(
            f"world_{t}",
            lambda: ck.materialize(f"world_{t}", lambda: source()[t], gen),
            after=("world_stop_areas",),
        )

    # submission order is start order: the quay chain (the critical
    # path) goes ahead of the world tables it does not read
    dag.add("world_stop_areas", first_world)
    for t in WORLD_TABLES[1:4]:
        world(t)
    stage("platforms_with_width", sp.platforms_with_width,
          platforms="world_platforms")
    stage("platforms_split", sp.platforms_split,
          pww="platforms_with_width", platforms_edges="world_platforms_edges")
    for t in WORLD_TABLES[4:]:
        world(t)
    stage("platforms_merged",
          lambda split: sp.platforms_merged(split, merge_cached),
          split="platforms_split")
    stage("final_quays", sp.final_quays, merged="platforms_merged",
          stop_areas_members_ref="world_stop_areas_members_ref")
    stage("final_entrances", sp.final_entrances, entrances="world_entrances",
          stop_areas_members_ref="world_stop_areas_members_ref")
    stage("stop_area_edges", routing.stop_area_edges,
          fq="final_quays", fe="final_entrances")

    stitched = _once(
        lambda edges: routing.stitch_path_links(
            routing.synthesize_routes(edges), stitch_cached
        )
    )
    stage("path_links", lambda e: stitched(e)[0], edges="stop_area_edges")
    stage("access_spaces", lambda e: stitched(e)[1], after=("path_links",),
          edges="stop_area_edges")
    stage("paths_elements_ref", lambda e: stitched(e)[2],
          after=("path_links",), edges="stop_area_edges")

    stage("final_access_spaces", sp.final_access_spaces,
          access="access_spaces", pois="world_pois")
    stage("final_site_path_links", routing.final_site_path_links,
          links="path_links", refs="paths_elements_ref",
          highways="world_highways")

    def export_data(fq, fe, facc, fspl, stop_areas, orgs, members, platforms):
        fsp = ex_mod.final_stop_places(
            ex_mod.stop_places_with_geometry(
                ex_mod.stop_places_with_organisations(stop_areas, orgs),
                members,
                platforms,
            ),
            fq, fe, facc,
        )
        return ex_mod.export_data(fsp, fq, fe, facc, fspl)

    stage("export_data", export_data,
          fq="final_quays", fe="final_entrances", facc="final_access_spaces",
          fspl="final_site_path_links", stop_areas="world_stop_areas",
          organisations="world_organisations",
          stop_areas_members_ref="world_stop_areas_members_ref",
          platforms="world_platforms")

    # parking and organisation XML need world tables only: collected as
    # soon as those exist, not after the stop-place chain
    dag.add(
        "parking_xml",
        lambda parking, members: ex_mod.collect_parkings(
            ex_mod.xml_parkings(ex_mod.export_parkings_data(parking, members))
        ),
        "world_parking", "world_stop_areas_members_ref",
    )
    dag.add(
        "organisation_xml",
        lambda orgs: ex_mod.collect_organisations(ex_mod.xml_organisations(orgs)),
        "world_organisations",
    )

    def release(frames):
        """Unpersists ``frames`` when called (the list is read then, so
        it may still be empty when the release is registered)."""
        return lambda: [df.unpersist() for df in frames]

    # each cache goes as soon as the stages reading it are written (the
    # frames later stages get are read back from parquet, not these);
    # on a failure, whatever is left goes before the error is raised
    dag.on_success([f"world_{t}" for t in WORLD_TABLES], release(scan_cached))
    dag.on_success(["platforms_merged"], release(merge_cached))
    dag.on_success(["path_links", "access_spaces", "paths_elements_ref"],
                   release(stitch_cached))

    try:
        res = dag.run()
    except BaseException:
        release(scan_cached + merge_cached + stitch_cached)()
        raise
    # stats in DAG order, not completion order
    return res, {n: ck.stats[n] for n in res if n in ck.stats}


def run_full_pipeline(
    spark: SparkSession,
    workdir: str,
    n_areas: int = 4,
    seed: int = 42,
    timestamp: str = "2024-01-01T00:00:00",
    pbf_path: str | None = None,
) -> dict:
    """Returns {'document': path, 'stats': per-stage stats dict}.

    ``pbf_path``: ingest from a REAL .osm.pbf extract (sources/pbf.py
    scan + dispatch + way-geometry assembly) instead of the synthetic
    world — the reference's production scenario; organisations then
    start empty (supply the CSV source separately if available)."""
    res, stats = run_stages(spark, workdir, n_areas, seed, pbf_path)
    doc = ex_mod.assemble_document(
        ex_mod.xml_stop_places(res["export_data"]),
        res["parking_xml"],
        res["organisation_xml"],
        timestamp=timestamp,
    )
    doc_path = os.path.join(workdir, "netex_export.xml")
    with open(doc_path, "w") as fh:
        fh.write(doc)
    return {"document": doc_path, "stats": stats}
