"""Gate queries leave the session as they found it: they set no session
conf (a concurrent query, or any plan made meanwhile, would see it) and
keep no persistent RDD once their frames are garbage."""

import gc
import time

from pyspark.sql.conf import RuntimeConfig

PIPELINE_QUERIES = (
    "final_quays_pipeline",
    "path_links_pipeline",
    "access_spaces_pipeline",
    "export_data_stats",
    "netex_stop_places_xml",
    "parkings_pipeline",
)


def _conf_sets(monkeypatch) -> list:
    """Records every (key, value) set on any session's RuntimeConfig."""
    calls: list = []
    real = RuntimeConfig.set

    def record(self, key, value):
        calls.append((key, value))
        return real(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", record)
    return calls


def test_pipeline_queries_set_no_conf_and_keep_no_rdd(spark, sf_dir, monkeypatch):
    from osm2vdv462_spark.queries import pipeline_queries as pq

    sc = spark.sparkContext

    def persistent_rdds() -> set:
        return set(sc._jsc.getPersistentRDDs().keySet())

    monkeypatch.setattr(pq, "_memo", {})  # run the stages, not a memo hit
    sets = _conf_sets(monkeypatch)
    before = persistent_rdds()
    for name in PIPELINE_QUERIES:
        assert getattr(pq, name)(spark, sf_dir).collect(), name
    assert sets == []
    # the stages' internal localCheckpoint RDDs go with the next GC; a
    # cache left registered, or a checkpoint the memo holds, never goes
    deadline = time.time() + 60
    while not persistent_rdds() <= before and time.time() < deadline:
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(0.5)
    assert persistent_rdds() <= before


def test_scc_sets_no_conf(spark, monkeypatch):
    from osm2vdv462_spark.operators.graph import strongly_connected_components

    sets = _conf_sets(monkeypatch)
    v = spark.range(0, 6)
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (3, 4), (4, 3), (4, 5)], "src long, dst long"
    )
    got = {
        r["id"]: r["scc_id"]
        for r in strongly_connected_components(v, e).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}
    assert sets == []
