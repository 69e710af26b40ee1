"""Spatial clustering: ST_ClusterDBSCAN(eps=0, minpoints=1) OVER ()
(ref /root/reference/pipeline/stop_places/sql/stop_places.sql:1062).

eps=0 + minpoints=1 makes DBSCAN degenerate into *connected components of
the "geometries intersect" graph* (every geometry is core; edges = pairs
at distance 0, i.e. touching/overlapping). Singletons form their own
cluster.

Scalable plan:
1. candidate pairs from the grid-cell cover equi-join (operators.
   spatial_join.touches_join with predicate="intersects");
2. connected components via iterative min-label propagation over the
   pair list (Spark-side joins, converges in O(graph diameter) rounds —
   platform clusters have diameter <= a few).

No global window, no driver-side graph: works at any table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    vid: str = "id",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Label each vertex with the min vertex id of its component.

    vertices: one column ``vid`` (long). edges: ``src``,``dst`` (long,
    undirected; self-loops/duplicates fine). Returns (vid, component).
    """
    # materialize the edge list once — the loop below must not re-derive
    # its (possibly expensive: spatial-join) lineage every iteration.
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = vertices.select(
        F.col(vid).alias("a"), F.col(vid).alias("component")
    ).localCheckpoint(eager=True)
    # the loop's shuffles are planned at the session's own
    # spark.sql.shuffle.partitions, AQE coalescing the empty ones; the
    # session conf is never changed here, so concurrent callers (the
    # export's stage DAG) plan with their own setting. No explicit
    # repartition either: the neighbour minimum's groupBy keeps its own
    # exchange, so the partial (map-side) min runs before the shuffle —
    # a repartition on "a" ahead of it would ship every directed edge
    # row instead of the per-partition minima.
    return _cc_loop(sym, labels, vid, max_iter)


def _cc_loop(sym, labels, vid: str, max_iter: int) -> DataFrame:
    from pyspark.sql import Observation

    for _ in range(max_iter):
        # neighbor minimum
        nbr_min = (
            sym.join(labels.withColumnRenamed("a", "b2"), sym.b == F.col("b2"))
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
        )
        # the did-anything-change signal rides the SAME job that
        # materializes the new labels (observe fires through the eager
        # localCheckpoint) — the old join-back change-count was a
        # second job per iteration
        new = F.least(
            F.col("component"), F.coalesce("nbr_component", F.col("component"))
        )
        obs = Observation()
        new_labels = (
            labels.join(nbr_min, "a", "left")
            .select(
                "a",
                new.alias("component"),
                (new != F.col("component")).alias("_chg"),
            )
            .observe(obs, F.max(F.col("_chg").cast("int")).alias("chg"))
            .drop("_chg")
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        if int(obs.get["chg"] or 0) == 0:
            break
    return labels.select(F.col("a").alias(vid), "component")
