"""connected_components (operators/cluster.py): labels, and isolation
from the session's shuffle-partition setting under concurrent callers."""

import threading

from osm2vdv462_spark.operators.cluster import connected_components


def _chains(spark, first: int, n_chains: int, length: int):
    """``n_chains`` paths of ``length`` vertices each, ids from
    ``first``; returns (vertices, edges, expected {id: component})."""
    ids = list(range(first, first + n_chains * length))
    edges, expected = [], {}
    for c in range(n_chains):
        chain = ids[c * length:(c + 1) * length]
        edges += list(zip(chain, chain[1:]))
        expected.update({v: chain[0] for v in chain})
    verts = spark.createDataFrame([(v,) for v in ids], "id long")
    return verts, spark.createDataFrame(edges, "src long, dst long"), expected


def test_concurrent_calls_leave_shuffle_partitions_alone(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    graphs = [_chains(spark, 0, 5, 4), _chains(spark, 1000, 3, 6)]
    results: dict = {}
    errors: list = []
    seen: set = set()
    done = threading.Event()

    def poll():
        while not done.is_set():
            seen.add(spark.conf.get(key))
            done.wait(0.005)

    def run(i):
        try:
            verts, edges, _ = graphs[i]
            results[i] = {
                r["id"]: r["component"]
                for r in connected_components(verts, edges).collect()
            }
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    poller = threading.Thread(target=poll)
    poller.start()
    workers = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    done.set()
    poller.join()

    assert not errors, errors
    assert seen == {before}
    assert spark.conf.get(key) == before
    for i, (_, _, expected) in enumerate(graphs):
        assert results[i] == expected
