"""Checkpoint/resume + lineage manifest tests (north rule)."""

import json
import os
import threading

import pytest

from osm2vdv462_spark.pipeline.runner import run_full_pipeline


class _StitchCounter:
    """Counts calls into routing.stitch_path_links while active."""

    def __enter__(self):
        from osm2vdv462_spark.pipeline import routing

        self.calls, self._real = 0, routing.stitch_path_links

        def counting(*args, **kwargs):
            self.calls += 1
            return self._real(*args, **kwargs)

        routing.stitch_path_links = counting
        return self

    def __exit__(self, *exc):
        from osm2vdv462_spark.pipeline import routing

        routing.stitch_path_links = self._real


@pytest.fixture(scope="module")
def first_run(spark, tmp_path_factory):
    """The module's cold run, under its own job group, with the
    stitcher's calls and the jobs outside the group recorded."""
    wd = str(tmp_path_factory.mktemp("ckpt"))
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("ckpt-cold", "cold export")
    try:
        with _StitchCounter() as stitch:
            out = run_full_pipeline(spark, wd, n_areas=2, seed=42)
    finally:
        sc._jsc.clearJobGroup()
    out["probe"] = {
        "stitch_calls": stitch.calls,
        "jobs": set(tracker.getJobIdsForGroup("ckpt-cold")),
        "ungrouped": set(tracker.getJobIdsForGroup(None)) - ungrouped,
    }
    # later tests rewrite this workdir's document; keep the first one
    out["document_text"] = open(out["document"]).read()
    return wd, out


class TestCheckpoint:
    def test_all_stages_computed_first_run(self, first_run):
        wd, out = first_run
        assert all(not s["skipped"] for s in out["stats"].values())
        assert os.path.getsize(out["document"]) > 1000

    def test_manifests_have_lineage_and_metrics(self, first_run):
        wd, out = first_run
        m = json.load(open(os.path.join(wd, "final_quays.manifest.json")))
        assert m["input_snapshots"]  # lineage recorded
        assert m["metrics"]["rows"] > 0
        assert m["metrics"]["bytes"] > 0
        assert m["metrics"]["content_hash"] > 0
        assert m["partitions"] and all(
            "rows" in p and "bytes" in p for p in m["partitions"]
        )
        assert sum(p["rows"] for p in m["partitions"]) == m["metrics"]["rows"]

    def test_rerun_skips_everything_and_is_bit_stable(self, spark, first_run):
        wd, out1 = first_run
        doc1 = open(out1["document"]).read()
        out2 = run_full_pipeline(spark, wd, n_areas=2, seed=42)
        assert all(s["skipped"] for s in out2["stats"].values())
        assert open(out2["document"]).read() == doc1
        # content hashes stable across runs
        for name, s in out2["stats"].items():
            assert s["content_hash"] == out1["stats"][name]["content_hash"]

    def test_stitcher_runs_once_cold_and_never_resumed(self, spark, first_run):
        wd, out = first_run
        assert out["probe"]["stitch_calls"] == 1
        with _StitchCounter() as stitch:
            resumed = run_full_pipeline(spark, wd, n_areas=2, seed=42)
        assert all(s["skipped"] for s in resumed["stats"].values())
        assert stitch.calls == 0

    def test_every_cold_job_in_callers_group(self, first_run):
        probe = first_run[1]["probe"]
        assert probe["jobs"]
        assert probe["ungrouped"] == set()

    def test_partial_resume_after_manifest_loss(self, spark, first_run):
        wd, out1 = first_run
        os.remove(os.path.join(wd, "path_links.manifest.json"))
        out3 = run_full_pipeline(spark, wd, n_areas=2, seed=42)
        st = out3["stats"]
        assert st["final_quays"]["skipped"]  # upstream untouched
        assert not st["path_links"]["skipped"]  # recomputed
        # recomputation is bit-identical
        assert st["path_links"]["content_hash"] == out1["stats"]["path_links"]["content_hash"]

    def test_two_parallelism_levels_byte_identical(self, spark, tmp_path):
        # SURVEY §5 determinism gate: same input at two parallelism
        # levels -> identical content hashes and identical document
        # (guards the order-sensitive merges A1/A6/A8)
        old = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "3")
            a = run_full_pipeline(spark, str(tmp_path / "p3"), n_areas=1, seed=42)
            spark.conf.set("spark.sql.shuffle.partitions", "17")
            b = run_full_pipeline(spark, str(tmp_path / "p17"), n_areas=1, seed=42)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        for name in a["stats"]:
            assert (
                a["stats"][name]["content_hash"] == b["stats"][name]["content_hash"]
            ), name
        assert open(a["document"]).read() == open(b["document"]).read()

    def test_input_change_invalidates(self, spark, first_run):
        wd, _ = first_run
        out = run_full_pipeline(spark, wd, n_areas=1, seed=7)  # new generator
        assert not out["stats"]["world_platforms"]["skipped"]
        assert not out["stats"]["final_quays"]["skipped"]


class TestStageDag:
    """The runner's concurrent stage DAG under a failing stage."""

    def test_failed_stage_reraises_then_resumes(
        self, spark, tmp_path, monkeypatch, first_run
    ):
        from osm2vdv462_spark.pipeline import stop_places

        def broken(*args, **kwargs):
            raise RuntimeError("final_entrances broke")

        monkeypatch.setattr(stop_places, "final_entrances", broken)
        wd = str(tmp_path / "fail")
        failure: list = []

        def run():
            try:
                run_full_pipeline(spark, wd, n_areas=2, seed=42)
            except Exception as e:
                failure.append(e)

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout=600)
        assert not t.is_alive(), "runner hung after a failed stage"
        assert len(failure) == 1 and "final_entrances broke" in str(failure[0])
        assert not os.path.exists(os.path.join(wd, "netex_export.xml"))
        upstream = ["world_stop_areas", "world_entrances",
                    "world_stop_areas_members_ref"]
        for name in upstream:
            assert os.path.exists(os.path.join(wd, f"{name}.manifest.json")), name
        assert not os.path.exists(os.path.join(wd, "final_entrances.manifest.json"))

        monkeypatch.undo()
        out = run_full_pipeline(spark, wd, n_areas=2, seed=42)
        st = out["stats"]
        assert all(st[name]["skipped"] for name in upstream)
        assert not st["final_entrances"]["skipped"]
        assert open(out["document"]).read() == first_run[1]["document_text"]


def _tiny_extract(spark, path: str) -> None:
    """One stop area with two platforms, an entrance, a footway and a
    parking lot, as a single-file .osm.pbf."""
    from osm2vdv462_spark.sources import pbf

    rows, nid = [], [100]

    def node(osm_id, lon, lat, tags=None):
        rows.append(("node", osm_id, lon, lat, tags, None, None, None, None))

    def ring(osm_id, x, y, tags, w=0.0004, h=0.0001):
        refs = []
        for dx, dy in ((0, 0), (w, 0), (w, h), (0, h)):
            node(nid[0], x + dx, y + dy)
            refs.append(nid[0])
            nid[0] += 1
        rows.append(("way", osm_id, None, None, tags, refs + refs[:1],
                     None, None, None))

    ring(11, 11.5, 48.1, {"public_transport": "platform",
                          "ref:IFOPT": "de:1:1:1", "ref": "1"})
    ring(12, 11.5, 48.1005, {"public_transport": "platform",
                             "ref:IFOPT": "de:1:1:2", "ref": "2"})
    ring(40, 11.499, 48.099, {"amenity": "parking", "capacity": "5"})
    node(20, 11.5006, 48.1002, {"entrance": "main", "level": "0"})
    node(21, 11.5, 48.1002)
    node(22, 11.5006, 48.1002)
    rows.append(("way", 30, None, None, {"highway": "footway"}, [21, 22],
                 None, None, None))
    rows.append(("relation", 1, None, None,
                 {"type": "public_transport", "public_transport": "stop_area",
                  "ref:IFOPT": "de:1:1", "name": "Tiny"},
                 None, ["way", "way", "node", "way"], [11, 12, 20, 40],
                 ["platform", "platform", "", ""]))
    pbf.write_pbf(spark.createDataFrame(rows, pbf.PBF_SCHEMA), path)


class _CacheCapture:
    """Records the ``cached`` list each of the export's caching calls
    (pbf world, platforms_merged, stitcher) was given."""

    def __init__(self, monkeypatch):
        from osm2vdv462_spark.pipeline import osm_world, routing, stop_places

        self.lists: list = []
        for mod, name in ((osm_world, "world_from_pbf"),
                          (stop_places, "platforms_merged"),
                          (routing, "stitch_path_links")):
            monkeypatch.setattr(mod, name, self._wrap(getattr(mod, name)))

    def _wrap(self, real):
        def call(*args):
            self.lists.append(args[-1])
            return real(*args)

        return call

    def frames(self) -> list:
        return [df for frames in self.lists for df in frames]


def _cache_loaded(spark, df) -> bool:
    """Whether ``df``'s cache is registered and its buffers are filled."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    hit = cm.lookupCachedData(df._jdf)
    return bool(
        hit.isDefined()
        and hit.get().cachedRepresentation().cacheBuilder()
        .isCachedColumnBuffersLoaded()
    )


def test_pbf_export_releases_only_its_own_caches(spark, tmp_path, monkeypatch):
    import gc
    import time

    from pyspark.sql import functions as F

    from osm2vdv462_spark.pipeline import export

    sc = spark.sparkContext
    caches = _CacheCapture(monkeypatch)
    at_assembly: list = []
    real_assemble = export.assemble_document

    def assemble(*args, **kwargs):
        at_assembly.extend(df.storageLevel.useMemory for df in caches.frames())
        return real_assemble(*args, **kwargs)

    monkeypatch.setattr(export, "assemble_document", assemble)

    def persistent_rdds() -> set:
        return set(sc._jsc.getPersistentRDDs().keySet())

    path = str(tmp_path / "tiny.osm.pbf")
    _tiny_extract(spark, path)
    mine = spark.range(0, 100).select((F.col("id") * 7).alias("x")).cache()
    mine.count()
    before = persistent_rdds()
    out = run_full_pipeline(spark, str(tmp_path / "run"), pbf_path=path)
    assert "<StopPlace " in open(out["document"]).read()
    # scan + base, clustered platforms, stitcher output: each released
    # when the stages reading it were written, before the assembly
    assert len(caches.frames()) == 4
    assert at_assembly == [False] * 4
    caches.lists.clear()  # their lineage pins the stages' checkpoints
    assert mine.storageLevel.useMemory  # the caller's cache survives
    # the stages' localCheckpoint RDDs are garbage once the export ends
    # and go with the next GC; a cache left registered never goes
    deadline = time.time() + 60
    while not persistent_rdds() <= before and time.time() < deadline:
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.5)
    assert persistent_rdds() <= before
    assert mine.storageLevel.useMemory
    mine.unpersist()


def test_pbf_partial_world_resume_fills_scan_once(spark, tmp_path, monkeypatch):
    """world_stop_areas resumes but world_platforms must recompute: the
    scan caches are filled before the world tables run concurrently, not
    by each of them."""
    from osm2vdv462_spark.pipeline import checkpoint

    path = str(tmp_path / "tiny.osm.pbf")
    _tiny_extract(spark, path)
    wd = str(tmp_path / "run")
    cold = run_full_pipeline(spark, wd, pbf_path=path)
    cold_doc = open(cold["document"]).read()
    os.remove(os.path.join(wd, "world_platforms.manifest.json"))

    caches = _CacheCapture(monkeypatch)
    loaded_at_start: list = []
    real_materialize = checkpoint.StageCheckpoint.materialize

    def materialize(self, name, *args, **kwargs):
        if name == "world_platforms":
            loaded_at_start.extend(
                _cache_loaded(spark, df) for df in caches.frames()
            )
        return real_materialize(self, name, *args, **kwargs)

    monkeypatch.setattr(checkpoint.StageCheckpoint, "materialize", materialize)
    out = run_full_pipeline(spark, wd, pbf_path=path)
    st = out["stats"]
    assert st["world_stop_areas"]["skipped"]
    assert not st["world_platforms"]["skipped"]
    assert loaded_at_start == [True, True]  # raw scan, dispatched base
    assert open(out["document"]).read() == cold_doc


class TestObserveMetrics:
    """r6: stage metrics ride the write job (observe + parquet footers)
    instead of a second full read-back scan — pin the replacements
    against the old computations."""

    def test_parquet_footer_rows_match_spark(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from osm2vdv462_spark.pipeline.checkpoint import parquet_num_rows

        p = str(tmp_path / "t")
        (
            spark.range(0, 5000, 1, 9)
            .select(
                "id",
                F.map_from_arrays(
                    F.array(F.lit("a")), F.array(F.col("id").cast("string"))
                ).alias("m"),
                F.encode(F.col("id").cast("string"), "utf-8").alias("b"),
            )
            .write.mode("overwrite")
            .parquet(p)
        )
        import os

        per_file_spark = {
            r["f"].rsplit("/", 1)[-1]: r["n"]
            for r in spark.read.parquet(p)
            .groupBy(F.input_file_name().alias("f"))
            .count()
            .withColumnRenamed("count", "n")
            .collect()
        }
        checked = 0
        for fn in os.listdir(p):
            if fn.endswith(".parquet"):
                mine = parquet_num_rows(os.path.join(p, fn))
                assert mine == per_file_spark.get(fn, 0), fn
                checked += 1
        assert checked >= 9 and sum(per_file_spark.values()) == 5000

    def test_observed_hash_equals_readback_hash(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from osm2vdv462_spark.pipeline.checkpoint import (
            StageCheckpoint,
            content_hash,
        )

        ck = StageCheckpoint(spark, str(tmp_path))
        df = spark.range(0, 777, 1, 5).select(
            "id",
            (F.col("id") * -1.5).alias("d"),
            F.map_from_arrays(
                F.array(F.lit("k"), F.lit("z")),
                F.array(F.col("id").cast("string"), F.lit("v")),
            ).alias("m"),
        )
        ck.materialize("s", lambda: df, {"i": "1"})
        st = ck.stats["s"]
        rb = content_hash(spark.read.parquet(str(tmp_path / "s")))
        assert st["content_hash"] == rb  # pre-write == post-read
        assert st["rows"] == 777

    def test_empty_stage_materializes(self, spark, tmp_path):
        from osm2vdv462_spark.pipeline.checkpoint import StageCheckpoint

        ck = StageCheckpoint(spark, str(tmp_path))
        empty = spark.createDataFrame([], "id string, label string")
        ck.materialize("e", lambda: empty, {"i": "1"})
        assert ck.stats["e"]["rows"] == 0
        assert ck.stats["e"]["content_hash"] == 0


class TestTemplateCache:
    def test_xml_templates_cached_per_app(self, spark):
        from osm2vdv462_spark.pipeline import export as ex_mod

        a = ex_mod._stop_place_templates(spark)
        b = ex_mod._stop_place_templates(spark)
        assert a is b  # second call is a dict lookup, not a rebuild
        assert set(a) == {"ing", "frags", "head"}
        assert [c for c, _ in a["frags"]] == [
            "QUAY", "ENTRANCE", "ACCESS_SPACE", "SITE_PATH_LINK",
        ]
