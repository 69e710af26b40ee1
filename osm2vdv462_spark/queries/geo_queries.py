"""Geospatial queries: the engine's flagship operators run against
oracle-checkable synthetic layers (datagen.py).

Each Spark callable exercises the REAL engine machinery (grid cell index,
two-phase join, exact numpy kernel); the oracle reproduces the *result* by
plain algebra in DuckDB SQL — never the same code path.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.knn import knn_join_broadcast
from ..operators.spatial_join import pip_join_broadcast, pip_join_shuffle
from ..pipeline import datagen
from . import register, register_extra

_POINTS_CTE = f"WITH p AS ({datagen.SQL_POINTS})"


# --------------------------------------------------------------------- PIP


@register(
    "pip_assign",
    f"""
    {_POINTS_CTE}
    SELECT p.event_id, n.n_nationkey AS relation_id
    FROM p {datagen.SQL_OCTAGONS_JOIN}
    """,
)
def pip_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-polygon assignment: geotagged points -> stop-area octagons.

    North-star op (BASELINE.json): H3-style cell prefilter -> exact
    ray-cast PIP, broadcast plan (zero shuffle of the point table).
    Reference semantics: ST_Contains membership, stop_places.sql:1072-1077.
    """
    pts = datagen.geo_points(spark, sf_dir)
    polys = datagen.stop_area_octagons(spark, sf_dir)
    out = pip_join_broadcast(
        pts,
        polys,
        point_keep=["event_id"],
        poly_id="relation_id",
        poly_wkb="geom",
        res=12,
    )
    from pyspark.sql.types import IntegerType

    return out.select("event_id", F.col("relation_id").cast(IntegerType()))


@register_extra(
    "pip_assign_shuffle",
    f"""
    {_POINTS_CTE}
    SELECT p.event_id, n.n_nationkey AS relation_id
    FROM p {datagen.SQL_OCTAGONS_JOIN}
    """,
)
def pip_assign_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as pip_assign but on the shuffle plan with salted
    hot cells — the both-sides-huge strategy (SURVEY.md §4 item 3)."""
    pts = datagen.geo_points(spark, sf_dir)
    polys = datagen.stop_area_octagons(spark, sf_dir)
    out = pip_join_shuffle(
        pts,
        polys,
        point_keep=["event_id"],
        poly_id="relation_id",
        poly_wkb="geom",
        res=12,
        salt=4,
    )
    return out.select("event_id", F.col("relation_id").cast("int"))


@register_extra(
    "pip_density",
    f"""
    {_POINTS_CTE}
    SELECT n.n_nationkey AS relation_id, count(*) AS n_images
    FROM p {datagen.SQL_OCTAGONS_JOIN}
    GROUP BY 1
    """,
)
def pip_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile/stop-area image density: PIP join + partial-aggregated count
    (the tiling rollup half of the north star)."""
    pts = datagen.geo_points(spark, sf_dir)
    polys = datagen.stop_area_octagons(spark, sf_dir)
    out = pip_join_broadcast(
        pts, polys, point_keep=["event_id"], poly_id="relation_id", poly_wkb="geom", res=12
    )
    return out.groupBy(F.col("relation_id").cast("int").alias("relation_id")).agg(
        F.count("*").alias("n_images")
    )


@register(
    "tile_pyramid",
    f"""
    {_POINTS_CTE},
    levels AS (SELECT UNNEST([8, 10, 12]) AS res),
    c AS (
      SELECT res,
        (CAST(res AS BIGINT) << 57)
        + (CAST(least(greatest(floor((lon + 180.0) / 360.0
                                     * pow(2.0, res + 1)), 0),
                      pow(2.0, res + 1) - 1) AS BIGINT) << 28)
        + CAST(least(greatest(floor((lat + 90.0) / 180.0
                                    * pow(2.0, res)), 0),
                     pow(2.0, res) - 1) AS BIGINT) AS cell
      FROM p CROSS JOIN levels
    )
    SELECT res, cell, count(*) AS n_points
    FROM c GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution tile rollup (web-map pyramid): per-point cell
    ids at 3 zoom levels in ONE scan (explode x levels -> partial-agg
    count). Cell arithmetic is the same Catalyst expression the codegen
    flagship uses (jvm_pip.cell_expr — bit-identical to the numpy
    kernel); the shuffle key is (res, cell), 16 bytes, and map-side
    combine collapses to the distinct-cell count per partition."""
    from ..operators.jvm_pip import cell_expr

    pts = datagen.geo_points(spark, sf_dir)
    levels = [8, 10, 12]
    stacked = pts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("res"),
                        cell_expr(F.col("lon"), F.col("lat"), r).alias(
                            "cell"
                        ),
                    )
                    for r in levels
                ]
            )
        ).alias("rc")
    )
    return (
        stacked.groupBy(
            F.col("rc.res").alias("res"), F.col("rc.cell").alias("cell")
        )
        .agg(F.count("*").alias("n_points"))
        .orderBy("res", "cell")
    )


# --------------------------------------------------------------------- kNN

_HAVERSINE_SQL = (
    "2 * 6371008.8 * asin(sqrt(least(1.0, "
    "pow(sin((radians(t.lat) - radians(p.lat)) / 2), 2) "
    "+ cos(radians(p.lat)) * cos(radians(t.lat)) "
    "* pow(sin((radians(t.lon) - radians(p.lon)) / 2), 2))))"
)


@register_extra(
    "knn_nearest_quay",
    f"""
    {_POINTS_CTE}, t AS ({datagen.SQL_QUAYS}),
    d AS (
      SELECT p.event_id, t.quay_id, {_HAVERSINE_SQL} AS dist,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY {_HAVERSINE_SQL}, t.quay_id
             ) AS rn
      FROM p CROSS JOIN t
    )
    SELECT event_id, quay_id, CAST(round(dist, 0) AS BIGINT) AS dist_m_round
    FROM d WHERE rn = 1
    """,
)
def knn_nearest_quay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star kNN: nearest quay per geotagged image via cell
    ring-expansion + exact haversine (top-1, ties by id). Distance is
    rounded to whole meters in the comparison so cross-library ulp noise
    can't flip the hash."""
    pts = datagen.geo_points(spark, sf_dir)
    quays = datagen.quay_sites(spark, sf_dir)
    out = knn_join_broadcast(
        pts,
        quays,
        point_keep=["event_id"],
        target_id="quay_id",
        k=1,
        res=8,
        max_rings=3,
    )
    return out.select(
        "event_id",
        "quay_id",
        F.round(F.col("dist_m"), 0).cast("long").alias("dist_m_round"),
    )


@register(
    "knn_top3",
    f"""
    {_POINTS_CTE}, t AS ({datagen.SQL_QUAYS}),
    d AS (
      SELECT p.event_id, t.quay_id,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY {_HAVERSINE_SQL}, t.quay_id
             ) AS rn
      FROM p CROSS JOIN t
    )
    SELECT event_id, quay_id, CAST(rn AS INT) AS knn_rank
    FROM d WHERE rn <= 3
    """,
)
def knn_top3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k=3 variant: proves the ring-expansion terminates with the correct
    k-th neighbor, not just the nearest."""
    pts = datagen.geo_points(spark, sf_dir)
    quays = datagen.quay_sites(spark, sf_dir)
    out = knn_join_broadcast(
        pts,
        quays,
        point_keep=["event_id"],
        target_id="quay_id",
        k=3,
        res=8,
        max_rings=3,
    )
    return out.select("event_id", "quay_id", "knn_rank")


@register_extra(
    "dwithin_pairs",
    f"""
    {_POINTS_CTE}, t AS ({datagen.SQL_QUAYS})
    SELECT p.event_id, t.quay_id,
           CAST(round({_HAVERSINE_SQL}, 0) AS BIGINT) AS dist_m_round
    FROM p CROSS JOIN t
    WHERE {_HAVERSINE_SQL} <= 8000.0
    """,
)
def dwithin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_DWithin join (north-star op): all (image, quay) pairs within
    8 km, via fixed-radius cell ring search + exact haversine."""
    from ..operators.knn import dwithin_join_broadcast

    pts = datagen.geo_points(spark, sf_dir)
    quays = datagen.quay_sites(spark, sf_dir)
    out = dwithin_join_broadcast(
        pts, quays, point_keep=["event_id"], target_id="quay_id",
        distance_m=8000.0,
    )
    return out.select(
        "event_id", "quay_id",
        F.round(F.col("dist_m"), 0).cast("long").alias("dist_m_round"),
    )


@register_extra(
    "fused_assign_jvm",
    f"""
    {_POINTS_CTE}, t AS ({datagen.SQL_QUAYS}),
    near AS (
      SELECT p.event_id, t.quay_id, {_HAVERSINE_SQL} AS dist,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY {_HAVERSINE_SQL}, t.quay_id
             ) AS rn
      FROM p CROSS JOIN t
    )
    SELECT p.event_id, n.n_nationkey AS relation_id, near.quay_id,
           CAST(round(near.dist, 0) AS BIGINT) AS dist_m_round
    FROM p
    LEFT {datagen.SQL_OCTAGONS_JOIN}
    JOIN near ON near.event_id = p.event_id AND near.rn = 1
    """,
)
def fused_assign_jvm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused PIP + kNN on the ZERO-Python-crossing plan (operators/
    jvm_pip.py): Catalyst cell ids, broadcast per-cell candidate arrays,
    higher-order-function ray cast and (dist, id) minimum — the variant
    whose throughput scales with executor cores instead of the per-JVM
    Python channel (BENCH/BASELINE.md round-1 finding)."""
    from ..operators.jvm_pip import pip_knn_assign_jvm

    pts = datagen.geo_points(spark, sf_dir)
    polys = datagen.stop_area_octagons(spark, sf_dir)
    quays = datagen.quay_sites(spark, sf_dir)
    out = pip_knn_assign_jvm(
        pts, polys, quays, point_keep=["event_id"],
        poly_id="relation_id", target_id="quay_id",
        poly_res=12,  # target_res: auto-sized from target density
    )
    return out.select(
        "event_id",
        F.col("relation_id").cast("int").alias("relation_id"),
        "quay_id",
        F.round(F.col("dist_m"), 0).cast("long").alias("dist_m_round"),
    )


@register(
    "fused_assign_codegen",
    f"""
    {_POINTS_CTE}, t AS ({datagen.SQL_QUAYS}),
    near AS (
      SELECT p.event_id, t.quay_id, {_HAVERSINE_SQL} AS dist,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY {_HAVERSINE_SQL}, t.quay_id
             ) AS rn
      FROM p CROSS JOIN t
    )
    SELECT p.event_id, n.n_nationkey AS relation_id, near.quay_id,
           CAST(round(near.dist, 0) AS BIGINT) AS dist_m_round
    FROM p
    LEFT {datagen.SQL_OCTAGONS_JOIN}
    JOIN near ON near.event_id = p.event_id AND near.rn = 1
    """,
)
def fused_assign_codegen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused PIP + kNN on the UNROLLED whole-stage-codegen plan
    (operators/jvm_pip.pip_knn_assign_codegen): one broadcast hash join
    per point against a single non-nullable map of fixed per-cell
    target and polygon slots, the nearest quay taken on scalar
    haversines (least distance, then the least id at that distance),
    unrolled ray-cast parity — the N->4N scaling flagship."""
    from ..operators.jvm_pip import pip_knn_assign_codegen

    pts = datagen.geo_points(spark, sf_dir)
    polys = datagen.stop_area_octagons(spark, sf_dir)
    quays = datagen.quay_sites(spark, sf_dir)
    out = pip_knn_assign_codegen(
        pts, polys, quays, point_keep=["event_id"],
        poly_id="relation_id", target_id="quay_id",
        poly_res=12,  # target_res: auto-sized from target density
    )
    return out.select(
        "event_id",
        F.col("relation_id").cast("int").alias("relation_id"),
        "quay_id",
        F.round(F.col("dist_m"), 0).cast("long").alias("dist_m_round"),
    )


@register(
    "streaming_tile_counts",
    f"""
    {_POINTS_CTE.replace("WITH p AS (", "WITH p0 AS (")},
    p AS (SELECT p0.*, e.ts FROM p0 JOIN events e USING (event_id))
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
             AS window_start_epoch,
           (CAST(12 AS BIGINT) << 57)
           + (CAST(least(greatest(floor((lon + 180.0) / 360.0 * 8192.0),
                                  0), 8191.0) AS BIGINT) << 28)
           + CAST(least(greatest(floor((lat + 90.0) / 180.0 * 4096.0),
                                 0), 4095.0) AS BIGINT) AS cell,
           count(*) AS n
    FROM p GROUP BY 1, 2
    """,
)
def streaming_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tile-density rollup (geo x streaming): a stream of
    geotagged rows -> JVM-side cell ids -> watermarked tumbling-window
    counts per tile, drained hermetically with Trigger.AvailableNow.
    The oracle is the exact batch semantics (time_bucket + the
    tile_pyramid cell algebra at res 12 in DuckDB) — stream==batch
    convergence for the north star's tiling rollup. Gate row (late r4,
    took quality_score's slot); the cell algebra is also covered by
    tile_pyramid, the streaming harness by streaming_windowed_counts."""
    import os
    import tempfile

    from ..streaming import geo as sg

    work = tempfile.mkdtemp(prefix="stream_tiles_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    os.symlink(f"{sf_dir}/events.parquet", os.path.join(src, "part-0.parquet"))
    out = os.path.join(work, "out")
    df = sg.windowed_tile_counts_stream(
        spark,
        src,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    sg.drain_available_now(df, out, os.path.join(work, "ckpt"))
    return spark.read.parquet(out).select(
        F.col("window_start").cast("long").alias("window_start_epoch"),
        "cell",
        "n",
    )


# ------------------------------------------------ image-table flagship

# The BASELINE.json headline, taken literally: the PIP + kNN join runs
# over the image+caption table itself (input_hint schema + lon/lat
# geotag), not a points projection of `events`. image_id and caption are
# deterministic functions of event_id, so the oracle re-derives the
# whole table closed-form.
_IMAGES_SELECT = """
  SELECT
    'img_' || lpad(CAST(event_id AS VARCHAR), 9, '0') AS image_id,
    'caption for image ' || CAST(event_id AS VARCHAR) AS caption,
    -0.25 + (((event_id * 37 + 11) % 2000) / 4000.0) AS lon,
    -0.25 + (((event_id * 73 + 29) % 2000) / 4000.0) AS lat
  FROM events WHERE event_id % 10 = 0
"""

_IMAGES_CTE = f"WITH p AS ({_IMAGES_SELECT})"


@register(
    "image_geo_assign",
    f"""
    {_IMAGES_CTE}, t AS ({datagen.SQL_QUAYS}),
    near AS (
      SELECT p.image_id, t.quay_id, {_HAVERSINE_SQL} AS dist,
             row_number() OVER (
               PARTITION BY p.image_id
               ORDER BY {_HAVERSINE_SQL}, t.quay_id
             ) AS rn
      FROM p CROSS JOIN t
    )
    SELECT p.image_id, p.caption, n.n_nationkey AS relation_id,
           near.quay_id,
           CAST(round(near.dist, 0) AS BIGINT) AS dist_m_round
    FROM p
    LEFT {datagen.SQL_OCTAGONS_JOIN}
    JOIN near ON near.image_id = p.image_id AND near.rn = 1
    """,
)
def image_geo_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The headline metric end-to-end: geotagged IMAGES (full input_hint
    table, binary payloads and all) -> fused PIP stop-area assignment +
    nearest-quay kNN on the zero-Python codegen plan, with image_id and
    caption carried through the join (the caption-equality half of the
    per-row invariant is hash-fatal here).

    At 100 TB the image table is columnar (Iceberg/parquet) and this
    join reads only (image_id, caption, lon, lat) — the multi-KB
    `bytes` column never leaves the scan (plan-asserted in
    tests/test_pushdown.py on a parquet materialization). Gate row
    (late r4, took fused_assign_jvm's slot): the join semantics are
    also covered by fused_assign_codegen; this row pins the image-table
    shape and caption equality on top of them."""
    from ..operators.jvm_pip import pip_knn_assign_codegen
    from ..pipeline import images as im

    imgs = im.images_df(spark, sf_dir, every=10).select(
        "image_id", "caption", "lon", "lat"
    )
    polys = datagen.stop_area_octagons(spark, sf_dir)
    quays = datagen.quay_sites(spark, sf_dir)
    out = pip_knn_assign_codegen(
        imgs, polys, quays, point_keep=["image_id", "caption"],
        poly_id="relation_id", target_id="quay_id", poly_res=12,
    )
    return out.select(
        "image_id",
        "caption",
        F.col("relation_id").cast("int").alias("relation_id"),
        "quay_id",
        F.round(F.col("dist_m"), 0).cast("long").alias("dist_m_round"),
    )


def _s2_sql_expr(level: int) -> str:
    from ..functions import s2cells

    return s2cells.s2_sql("lon", "lat", level)


@register(
    "s2_cell_counts",
    f"""
    {_IMAGES_CTE}
    SELECT {_s2_sql_expr(12)} AS s2_cell,
           count(*) AS n_images
    FROM p GROUP BY 1
    """,
)
def s2_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell image density on the S2-STYLE cube-face Hilbert index
    (functions/s2cells.py) — the cell family BASELINE.json's north rule
    names ("H3/S2 cell-indexed"), complementing the equal-angle tile
    grid the flagship joins use. The index expression is pure Catalyst
    bit arithmetic (whole-stage codegen, zero Python — plan-asserted in
    tests/test_s2cells.py), so at 10^12 rows this is one map pass plus
    a partial-agg count shuffle of (cell, count) pairs. Oracle = the
    SAME unrolled Hilbert recurrence generated as DuckDB SQL — all
    three twins (numpy / Catalyst / SQL) are bit-identical on fuzzed
    globes before this query ever runs."""
    from ..functions import s2cells
    from ..pipeline import images as im

    geo = im.images_df(spark, sf_dir, every=10).select("lon", "lat")
    return (
        s2cells.with_s2_cell(geo, "lon", "lat", 12)
        .groupBy("s2_cell")
        .agg(F.count("*").alias("n_images"))
    )


@register_extra(
    "s2_pyramid",
    f"""
    {_IMAGES_CTE},
    c AS (SELECT {_s2_sql_expr(12)} AS s2_cell FROM p),
    l12 AS (SELECT 12 AS level, s2_cell, count(*) AS n_images
            FROM c GROUP BY 2),
    l10 AS (SELECT 10 AS level, s2_cell >> 4 AS s2_cell,
            CAST(sum(n_images) AS BIGINT) AS n_images FROM l12 GROUP BY 2),
    l8 AS (SELECT 8 AS level, s2_cell >> 4 AS s2_cell,
           CAST(sum(n_images) AS BIGINT) AS n_images FROM l10 GROUP BY 2)
    SELECT * FROM l12 UNION ALL SELECT * FROM l10 UNION ALL SELECT * FROM l8
    """,
)
def s2_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical image-density pyramid on the S2-style index: the
    corpus is scanned ONCE (level-12 cells + partial-agg counts); every
    coarser level re-aggregates the PREVIOUS level's counts after an
    integer shift (parent = cell >> 2 per level), never the corpus.
    That is the scale recurrence tile_pyramid uses, but with zero
    re-projection work per level — at 10^12 rows levels 11..0 together
    cost less than one extra corpus scan. Oracle = the same recurrence
    in SQL on the shared Hilbert unroll."""
    from ..functions import s2cells
    from ..pipeline import images as im

    geo = im.images_df(spark, sf_dir, every=10).select("lon", "lat")
    l12 = (
        s2cells.with_s2_cell(geo, "lon", "lat", 12)
        .groupBy("s2_cell")
        .agg(F.count("*").alias("n_images"))
    )
    levels = [l12.withColumn("level", F.lit(12))]
    prev = l12
    for lev in (10, 8):
        prev = (
            prev.withColumn("s2_cell", F.shiftright("s2_cell", 4))
            .groupBy("s2_cell")
            .agg(F.sum("n_images").alias("n_images"))
        )
        levels.append(prev.withColumn("level", F.lit(lev)))
    out = levels[0]
    for df in levels[1:]:
        out = out.unionByName(df)
    return out.select("level", "s2_cell", "n_images")


_LON_CUT = 0.1


@register(
    "image_geo_assign_pruned",
    f"""
    WITH p AS (SELECT * FROM ({_IMAGES_SELECT}) WHERE lon >= {_LON_CUT}),
    t AS ({datagen.SQL_QUAYS}),
    near AS (
      SELECT p.image_id, t.quay_id, {_HAVERSINE_SQL} AS dist,
             row_number() OVER (
               PARTITION BY p.image_id
               ORDER BY {_HAVERSINE_SQL}, t.quay_id
             ) AS rn
      FROM p CROSS JOIN t
    )
    SELECT p.image_id, p.caption, n.n_nationkey AS relation_id,
           near.quay_id,
           CAST(round(near.dist, 0) AS BIGINT) AS dist_m_round
    FROM p
    LEFT {datagen.SQL_OCTAGONS_JOIN}
    JOIN near ON near.image_id = p.image_id AND near.rn = 1
    """,
)
def image_geo_assign_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The headline join over the SNAPSHOT TABLE FORMAT with manifest
    min/max file pruning (the Iceberg-shaped half of the north rule):
    materialize the full input_hint image table (bytes and all) as a
    snaptable clustered by lon, scan it with a lon >= {cut} predicate
    that drops non-matching data files from manifest stats BEFORE Spark
    opens them (asserted: files_scanned < files_total), then run the
    same fused PIP + kNN codegen join on the pruned scan. At 10^12
    images the predicate is a tile/region restriction and pruning is
    the difference between scanning a continent and scanning the
    planet; row-level re-application keeps pruning a superset
    guarantee, so the oracle is exactly `WHERE lon >= cut`."""
    import tempfile

    from ..operators.jvm_pip import pip_knn_assign_codegen
    from ..pipeline import images as im
    from ..sources import snaptable as st

    imgs = im.images_df(spark, sf_dir, every=10)
    work = tempfile.mkdtemp(prefix="imgsnap_")
    st.create_table(imgs, work, cluster_by="lon", files_hint=8)
    report: dict = {}
    scan = st.read_table(
        spark, work, filters=[("lon", ">=", _LON_CUT)], report=report
    )
    assert report["files_scanned"] < report["files_total"], report
    pts = scan.select("image_id", "caption", "lon", "lat")
    polys = datagen.stop_area_octagons(spark, sf_dir)
    quays = datagen.quay_sites(spark, sf_dir)
    out = pip_knn_assign_codegen(
        pts, polys, quays, point_keep=["image_id", "caption"],
        poly_id="relation_id", target_id="quay_id", poly_res=12,
    )
    return out.select(
        "image_id",
        "caption",
        F.col("relation_id").cast("int").alias("relation_id"),
        "quay_id",
        F.round(F.col("dist_m"), 0).cast("long").alias("dist_m_round"),
    )


_ZONAL_ORACLE = """
WITH o AS (SELECT n_nationkey AS k,
        -0.2 + 0.1 * (n_nationkey % 5) AS cx,
        -0.2 + 0.1 * (n_nationkey // 5) AS cy FROM nation),
tx AS (SELECT k, cx, cy, unnest(range(
        CAST(floor((cx - 0.0299 + 180.0) / 360.0 * 8192) AS BIGINT),
        CAST(floor((cx + 0.0299 + 180.0) / 360.0 * 8192) AS BIGINT) + 1))
          AS ix FROM o),
txy AS (SELECT *, unnest(range(
        CAST(floor((cy - 0.0299 + 90.0) / 180.0 * 4096) AS BIGINT),
        CAST(floor((cy + 0.0299 + 90.0) / 180.0 * 4096) AS BIGINT) + 1))
          AS iy FROM tx),
cellz AS (SELECT k, cx, cy, ix, iy,
        (CAST(12 AS BIGINT) << 57) | (ix << 28) | iy AS cell FROM txy),
pix AS (SELECT *, unnest(range(0, 16)) AS i FROM cellz),
pxy AS (SELECT *, unnest(range(0, 16)) AS j FROM pix),
pts AS (SELECT k, cell, i, j, cx, cy,
        -180.0 + (ix + (j + 0.5) / 16) * 360.0 / 8192 AS lon,
        -90.0 + (iy + (i + 0.5) / 16) * 180.0 / 4096 AS lat FROM pxy),
inside AS (SELECT k, cell, i, j FROM pts
           WHERE abs(lon - cx) < 0.0299 AND abs(lat - cy) < 0.0299
             AND abs(lon - cx) + abs(lat - cy) < 0.0451),
v AS (SELECT k, (j * 7 + i * 11 + (cell % 9973) * 13) % 256 AS val
      FROM inside)
SELECT k AS relation_id,
       CAST(count(*) AS BIGINT) AS n_px,
       CAST(sum(val) AS BIGINT) AS sum_v,
       CAST(round(CAST(sum(val) AS DOUBLE) / count(*), 4) AS DOUBLE)
         AS mean_v
FROM v GROUP BY k ORDER BY k
"""


@register("zonal_stats_octagons", _ZONAL_ORACLE)
def zonal_stats_octagons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster -> vector: zonal statistics of a synthetic tile raster
    (res 12, 16x16 px, closed-form band) over the stop-area octagons —
    the north rule's raster<->vector capability through the oracle
    standard. One raster scan; vector side broadcast through the cell
    equi-join; the oracle re-derives tiles, pixel centers, the exact
    octagon PIP algebra and the band values in SQL."""
    from ..operators.raster import synth_tile_table, zonal_stats

    polys = datagen.stop_area_octagons(spark, sf_dir)
    tiles = synth_tile_table(polys, res=12, px=16)
    return zonal_stats(tiles, polys, res=12, px=16).orderBy("relation_id")


# ------------------------------------------------- checkpointed image DAG

# One shared workdir per (sf_dir, process): the second query RESUMES from
# the first one's manifests, so the oracle gate itself exercises the
# skip-validated-stages path, not just pytest.
_PIPE_DIRS: dict = {}


def _image_pipeline(spark: SparkSession, sf_dir: str) -> dict:
    import tempfile

    from ..pipeline.geopipe import run_image_pipeline

    work = _PIPE_DIRS.setdefault(
        os.path.abspath(sf_dir), tempfile.mkdtemp(prefix="geopipe_")
    )
    return run_image_pipeline(spark, work, sf_dir, every=10)


@register(
    "image_pipeline_join_rows",
    f"""
    {_IMAGES_CTE}, t AS ({datagen.SQL_QUAYS}),
    near AS (
      SELECT p.image_id, t.quay_id, {_HAVERSINE_SQL} AS dist,
             row_number() OVER (
               PARTITION BY p.image_id
               ORDER BY {_HAVERSINE_SQL}, t.quay_id
             ) AS rn
      FROM p CROSS JOIN t
    )
    SELECT p.image_id, p.caption, n.n_nationkey AS relation_id,
           near.quay_id,
           CAST(round(near.dist, 0) AS BIGINT) AS dist_m_round
    FROM p
    LEFT {datagen.SQL_OCTAGONS_JOIN}
    JOIN near ON near.image_id = p.image_id AND near.rn = 1
    """,
)
def image_pipeline_join_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`image_geo_assign` re-run THROUGH the checkpoint-resumable image
    DAG (pipeline/geopipe.py): the join reads the materialized stage-1
    parquet (pruned scan — bytes never read) and its output is itself a
    manifest-tracked stage. Same oracle as the gate row; a hash match
    proves materialize->resume round-trips the rows bit-stably."""
    return _image_pipeline(spark, sf_dir)["frames"]["join_rows"]


@register_extra(
    "image_pipeline_tile_counts",
    f"""
    {_IMAGES_CTE},
    levels AS (SELECT UNNEST([8, 10, 12]) AS res),
    c AS (
      SELECT res,
        (CAST(res AS BIGINT) << 57)
        + (CAST(least(greatest(floor((lon + 180.0) / 360.0
                                     * pow(2.0, res + 1)), 0),
                      pow(2.0, res + 1) - 1) AS BIGINT) << 28)
        + CAST(least(greatest(floor((lat + 90.0) / 180.0
                                    * pow(2.0, res)), 0),
                     pow(2.0, res) - 1) AS BIGINT) AS cell
      FROM p CROSS JOIN levels
    )
    SELECT res, cell, count(*) AS n_images
    FROM c GROUP BY 1, 2
    """,
)
def image_pipeline_tile_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-density rollup of the checkpointed DAG's tile_assign stage
    (per-image cell ids at 3 zooms, materialized + manifest-tracked,
    then a partial-agg count). The tile arithmetic is jvm_pip.cell_expr
    — bit-identical to the `tile_pyramid` gate row's."""
    return _image_pipeline(spark, sf_dir)["frames"]["tile_counts"]


_WDS_DIRS: dict = {}


@register(
    "wds_geo_assign",
    f"""
    {_IMAGES_CTE}, t AS ({datagen.SQL_QUAYS}),
    near AS (
      SELECT p.image_id, t.quay_id, {_HAVERSINE_SQL} AS dist,
             row_number() OVER (
               PARTITION BY p.image_id
               ORDER BY {_HAVERSINE_SQL}, t.quay_id
             ) AS rn
      FROM p CROSS JOIN t
    )
    SELECT p.image_id, p.caption, n.n_nationkey AS relation_id,
           near.quay_id,
           CAST(round(near.dist, 0) AS BIGINT) AS dist_m_round
    FROM p
    LEFT {datagen.SQL_OCTAGONS_JOIN}
    JOIN near ON near.image_id = p.image_id AND near.rn = 1
    """,
)
def wds_geo_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The headline join fed from WEBDATASET TAR SHARDS (sources/wds.py)
    instead of parquet: image table -> executor-written tar shard pool
    -> one-task-per-shard scan -> fused PIP + kNN codegen join. Same
    DuckDB oracle as `image_geo_assign`, so caption equality and the
    join rows are hash-gated THROUGH the tar round-trip — the
    training-loader interchange format can't silently corrupt rows."""
    import tempfile

    from ..operators.jvm_pip import pip_knn_assign_codegen
    from ..pipeline import images as im
    from ..sources import wds

    pool = _WDS_DIRS.get(os.path.abspath(sf_dir))
    if pool is None:
        pool = tempfile.mkdtemp(prefix="wdspool_")
        wds.write_shards(im.images_df(spark, sf_dir, every=10), pool, shards=8)
        _WDS_DIRS[os.path.abspath(sf_dir)] = pool
    pts = wds.read_shards(spark, pool).select("image_id", "caption", "lon", "lat")
    polys = datagen.stop_area_octagons(spark, sf_dir)
    quays = datagen.quay_sites(spark, sf_dir)
    out = pip_knn_assign_codegen(
        pts, polys, quays, point_keep=["image_id", "caption"],
        poly_id="relation_id", target_id="quay_id", poly_res=12,
    )
    return out.select(
        "image_id",
        "caption",
        F.col("relation_id").cast("int").alias("relation_id"),
        "quay_id",
        F.round(F.col("dist_m"), 0).cast("long").alias("dist_m_round"),
    )


_INC_DIRS: dict = {}


@register_extra(
    "image_appends_incremental",
    f"""
    WITH p AS (
      SELECT * FROM ({_IMAGES_SELECT})
      WHERE CAST(substr(image_id, 5) AS BIGINT) % 20 = 10
    )
    SELECT image_id, caption, lon, lat FROM p
    """,
)
def image_appends_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style INCREMENTAL read on the snapshot image table:
    v1 = half the corpus, v2 appends the other half; `since=1` plans
    exactly v2's appended files from the two immutable manifests (pure
    metadata — the v1 files are never listed, opened, or row-filtered).
    The daily-crawl consumption pattern at 10^12 rows: each day's new
    shards process in O(new data). Oracle = the appended half
    closed-form, so a file misattributed to either snapshot flips rows
    AND hash."""
    import tempfile

    from ..pipeline import images as im
    from ..sources import snaptable as st

    table = _INC_DIRS.get(os.path.abspath(sf_dir))
    if table is None:
        table = tempfile.mkdtemp(prefix="imginc_")
        imgs = im.images_df(spark, sf_dir, every=10)
        eid = F.regexp_extract("image_id", r"(\d+)$", 1).cast("long")
        st.create_table(
            imgs.filter(eid % 20 == 0), table, cluster_by="lon", files_hint=4
        )
        st.append_table(imgs.filter(eid % 20 == 10), table, files_hint=4)
        _INC_DIRS[os.path.abspath(sf_dir)] = table
    return st.read_table(spark, table, since=1).select(
        "image_id", "caption", "lon", "lat"
    )


_ZORD_DIRS: dict = {}


@register(
    "image_bbox_zorder",
    f"""
    WITH p AS (
      SELECT * FROM ({_IMAGES_SELECT})
      WHERE lon >= 0.0 AND lon <= 0.12 AND lat >= -0.1 AND lat <= 0.15
    )
    SELECT image_id, caption, lon, lat FROM p
    """,
)
def image_bbox_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounding-box scan over a Z-ORDER-clustered image snaptable
    (cluster_by=["lon","lat"] — Morton-interleaved write order, the
    public Iceberg/Delta Z-ORDER strategy): the 2-D box prunes data
    files from manifest min/max on BOTH axes before Spark opens them
    (asserted), then the same predicate re-applies row-level. At 10^12
    images this is the 'give me one city' scan — metadata-bounded, not
    corpus-bounded. Oracle = the box closed-form."""
    import tempfile

    from ..pipeline import images as im
    from ..sources import snaptable as st

    table = _ZORD_DIRS.get(os.path.abspath(sf_dir))
    if table is None:
        table = tempfile.mkdtemp(prefix="imgzord_")
        st.create_table(
            im.images_df(spark, sf_dir, every=10), table,
            cluster_by=["lon", "lat"], files_hint=16,
        )
        _ZORD_DIRS[os.path.abspath(sf_dir)] = table
    report: dict = {}
    box = [("lon", ">=", 0.0), ("lon", "<=", 0.12),
           ("lat", ">=", -0.1), ("lat", "<=", 0.15)]
    scan = st.read_table(spark, table, filters=box, report=report)
    assert report["files_scanned"] < report["files_total"], report
    return scan.select("image_id", "caption", "lon", "lat")


_BLM_DIRS: dict = {}


@register(
    "image_id_lookup_bloom",
    f"""
    {_IMAGES_CTE}
    SELECT image_id, caption, lon, lat FROM p
    WHERE CAST(substr(image_id, 5) AS BIGINT) % 1000 = 0
    """,
)
def image_id_lookup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched point lookup by image_id on a Z-order (lon,lat)-clustered
    image snaptable. The geo clustering scatters ids across every data
    file, so id min/max spans the whole key range and stats-only pruning
    would scan the corpus; per-file manifest BLOOM FILTERS (bloom_cols)
    prove per-member absence, and the ONE batched scan (op "in") opens
    only files that may hold a requested id (asserted). Two known-absent
    probes must plan to ZERO files — the bloom's definite-absence
    guarantee. At 10^12 rows this is 'fetch these images by id' as a
    metadata question. Oracle = the id set closed-form."""
    import tempfile

    from ..operators import _guard
    from ..pipeline import images as im
    from ..sources import snaptable as st

    table = _BLM_DIRS.get(os.path.abspath(sf_dir))
    if table is None:
        table = tempfile.mkdtemp(prefix="imgblm_")
        st.create_table(
            im.images_df(spark, sf_dir, every=10).select(
                "image_id", "caption", "lon", "lat"
            ),
            table, cluster_by=["lon", "lat"], bloom_cols=["image_id"],
            files_hint=32,
        )
        _BLM_DIRS[os.path.abspath(sf_dir)] = table
    pts = datagen.geo_points(spark, sf_dir)
    ids = sorted(
        f"img_{int(r['event_id']):09d}"
        for r in _guard.collect_dim(
            pts.filter(F.col("event_id") % 1000 == 0).select("event_id"),
            "bloom lookup id set",
        )
    )
    # absence proof: event 7 is filtered out by every=10, the big id was
    # never generated — both must prune to zero files (deterministic:
    # md5 probes over a deterministic table, a false positive here
    # would fail reproducibly, not flake)
    for ghost in ("img_000000007", "img_999999999"):
        miss = st.plan_scan(table, filters=[("image_id", "==", ghost)])
        assert miss["files_scanned"] == 0, (ghost, miss)
    report: dict = {}
    scan = st.read_table(
        spark, table, filters=[("image_id", "in", ids)], report=report
    )
    assert report["files_scanned"] < report["files_total"], report
    return scan.select("image_id", "caption", "lon", "lat")


_UPS_DIRS: dict = {}


@register_extra(
    "image_upsert_refresh",
    f"""
    {_IMAGES_CTE}
    SELECT image_id, caption, lon, lat FROM p
    """,
)
def image_upsert_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert on the snapshot image table (Iceberg v2
    equality-delete files): v1 is committed with half the captions
    corrupted ('STALE ...'), then one upsert_table call replaces
    exactly those keys with corrected rows — merge-on-read, no data
    file rewritten. The oracle is simply the CANONICAL table: only a
    correct merge (stale rows anti-joined out, corrected rows in,
    untouched half intact) can hash-match it."""
    import tempfile

    from ..pipeline import images as im
    from ..sources import snaptable as st

    table = _UPS_DIRS.get(os.path.abspath(sf_dir))
    if table is None:
        table = tempfile.mkdtemp(prefix="imgups_")
        imgs = im.images_df(spark, sf_dir, every=10).select(
            "image_id", "caption", "lon", "lat"
        )
        eid = F.regexp_extract("image_id", r"(\d+)$", 1).cast("long")
        stale = imgs.filter(eid % 20 == 0).withColumn(
            "caption", F.concat(F.lit("STALE "), F.col("caption"))
        )
        st.create_table(
            stale.unionByName(imgs.filter(eid % 20 == 10)), table,
            cluster_by="lon", files_hint=4,
        )
        st.upsert_table(spark, imgs.filter(eid % 20 == 0), table, "image_id")
        _UPS_DIRS[os.path.abspath(sf_dir)] = table
    return st.read_table(spark, table).select(
        "image_id", "caption", "lon", "lat"
    )


_IVW_DIRS: dict = {}


@register(
    "image_tiles_incremental",
    f"""
    {_IMAGES_CTE},
    levels AS (SELECT UNNEST([8, 10, 12]) AS res),
    c AS (
      SELECT res,
        (CAST(res AS BIGINT) << 57)
        + (CAST(least(greatest(floor((lon + 180.0) / 360.0
                                     * pow(2.0, res + 1)), 0),
                      pow(2.0, res + 1) - 1) AS BIGINT) << 28)
        + CAST(least(greatest(floor((lat + 90.0) / 180.0
                                    * pow(2.0, res)), 0),
                     pow(2.0, res) - 1) AS BIGINT) AS cell
      FROM p CROSS JOIN levels
    )
    SELECT res, cell, count(*) AS n_images
    FROM c GROUP BY 1, 2
    """,
)
def image_tiles_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL materialized-view maintenance: the tile rollup is
    initialized over HALF the image table, the other half is appended,
    and one `refresh_tile_view` advances the view from the changelog
    (delta partial-agg + keyed upsert, O(new data)). The oracle states
    the FULL-corpus rollup closed-form — only base + delta = full, with
    no key double-counted or missed, can hash-match."""
    import tempfile

    from ..pipeline import images as im, incremental as iv
    from ..sources import snaptable as st

    view = _IVW_DIRS.get(os.path.abspath(sf_dir))
    if view is None:
        srcdir = tempfile.mkdtemp(prefix="imgivsrc_")
        view = tempfile.mkdtemp(prefix="imgivw_") + "/view"
        imgs = im.images_df(spark, sf_dir, every=10).select(
            "image_id", "caption", "lon", "lat"
        )
        eid = F.regexp_extract("image_id", r"(\d+)$", 1).cast("long")
        st.create_table(
            imgs.filter(eid % 20 == 0), srcdir, cluster_by="lon",
            files_hint=4,
        )
        iv.init_tile_view(spark, srcdir, view)
        st.append_table(imgs.filter(eid % 20 == 10), srcdir, files_hint=4)
        out = iv.refresh_tile_view(spark, srcdir, view)
        assert out["refreshed"], out
        _IVW_DIRS[os.path.abspath(sf_dir)] = view
    return st.read_table(spark, view).select("res", "cell", "n_images")


def _bearing_oracle() -> str:
    """SQL twin of geo_bearing_project. Degree<->radian conversions are
    written as explicit multiplications by (pi()/180.0) / (180.0/pi())
    on BOTH engines — Java's toRadians computes x/180*PI while DuckDB's
    radians() computes x*(PI/180), a 1-ulp divergence this sidesteps;
    remaining trig-libm ulps are absorbed by the 5/6-dp rounding."""
    phi1 = "(p.lat * (pi()/180.0))"
    lam1 = "(p.lon * (pi()/180.0))"
    phi2 = "(t.lat * (pi()/180.0))"
    dlam = f"((t.lon * (pi()/180.0)) - {lam1})"
    br = (
        f"atan2(sin({dlam}) * cos({phi2}),"
        f" cos({phi1}) * sin({phi2})"
        f" - sin({phi1}) * cos({phi2}) * cos({dlam}))"
    )
    delta = "(1000.0 / 6371008.8)"
    phid = (
        f"asin(sin({phi1}) * cos({delta})"
        f" + cos({phi1}) * sin({delta}) * cos(br))"
    )
    lamd = (
        f"({lam1} + atan2(sin(br) * sin({delta}) * cos({phi1}),"
        f" cos({delta}) - sin({phi1}) * sin(phid)))"
    )
    return f"""
    WITH p AS ({datagen.SQL_POINTS}),
    t AS ({datagen.SQL_QUAYS}),
    j AS (
      SELECT p.event_id, t.quay_id, {br} AS br,
             p.lon AS plon, p.lat AS plat, t.lon AS tlon, t.lat AS tlat
      FROM p JOIN t ON t.quay_id = p.event_id % 7
      WHERE p.event_id % 10 = 0
    ),
    d AS (
      SELECT event_id, quay_id, br, plon, plat,
             {phid.replace('p.lat', 'plat').replace('p.lon', 'plon')} AS phid
      FROM j
    )
    SELECT event_id, quay_id,
           round(((br * (180.0/pi())) + 360.0) % 360.0, 5) AS bearing_r5,
           round({lamd.replace('p.lat', 'plat').replace('p.lon', 'plon')}
                 * (180.0/pi()), 6) AS dest_lon,
           round(phid * (180.0/pi()), 6) AS dest_lat
    FROM d
    """


@register_extra("geo_bearing_project", _bearing_oracle())
def geo_bearing_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geodesic direction functions (ST_Azimuth / ST_Project analogs):
    forward bearing from each point to its assigned quay, plus the
    destination point 1000 m along that bearing (spherical direct
    problem). Pure built-in trig — whole-stage codegen, a zero-shuffle
    map over the fact side with a broadcast 7-row dim join; at 100 TB
    this is scan-bound, exactly what a direction/offset feature column
    should be. Degree/radian conversions are explicit *(pi/180)
    multiplications so both engines evaluate identical IEEE chains
    (see _bearing_oracle)."""
    import math

    RAD = math.pi / 180.0
    pts = datagen.geo_points(spark, sf_dir).filter(F.col("event_id") % 10 == 0)
    quays = datagen.quay_sites(spark, sf_dir).select(
        "quay_id", F.col("lon").alias("tlon"), F.col("lat").alias("tlat")
    )
    j = pts.join(
        F.broadcast(quays), quays.quay_id == pts.event_id % 7
    )
    phi1 = F.col("lat") * F.lit(RAD)
    lam1 = F.col("lon") * F.lit(RAD)
    phi2 = F.col("tlat") * F.lit(RAD)
    dlam = F.col("tlon") * F.lit(RAD) - lam1
    br = F.atan2(
        F.sin(dlam) * F.cos(phi2),
        F.cos(phi1) * F.sin(phi2) - F.sin(phi1) * F.cos(phi2) * F.cos(dlam),
    )
    delta = F.lit(1000.0 / 6371008.8)
    j = j.withColumn("br", br)
    phid = F.asin(
        F.sin(phi1) * F.cos(delta) + F.cos(phi1) * F.sin(delta) * F.cos(F.col("br"))
    )
    j = j.withColumn("phid", phid)
    lamd = lam1 + F.atan2(
        F.sin(F.col("br")) * F.sin(delta) * F.cos(phi1),
        F.cos(delta) - F.sin(phi1) * F.sin(F.col("phid")),
    )
    DEG = F.lit(180.0 / math.pi)
    return j.select(
        "event_id",
        "quay_id",
        F.round((F.col("br") * DEG + 360.0) % 360.0, 5).alias("bearing_r5"),
        F.round(lamd * DEG, 6).alias("dest_lon"),
        F.round(F.col("phid") * DEG, 6).alias("dest_lat"),
    )


@register_extra(
    "geodesic_area_octagons",
    """
    WITH offs AS (
      SELECT * FROM (VALUES
        (0, -(0.0451 - 0.0299), -0.0299),
        (1,  (0.0451 - 0.0299), -0.0299),
        (2,  0.0299, -(0.0451 - 0.0299)),
        (3,  0.0299,  (0.0451 - 0.0299)),
        (4,  (0.0451 - 0.0299), 0.0299),
        (5, -(0.0451 - 0.0299), 0.0299),
        (6, -0.0299,  (0.0451 - 0.0299)),
        (7, -0.0299, -(0.0451 - 0.0299)),
        (8, -(0.0451 - 0.0299), -0.0299)
      ) AS t(idx, dx, dy)
    ),
    v AS (
      SELECT n.n_nationkey AS relation_id, o.idx,
             (-0.2 + 0.1 * (n.n_nationkey % 5)) + o.dx AS lon,
             (-0.2 + 0.1 * (n.n_nationkey // 5)) + o.dy AS lat
      FROM nation n CROSS JOIN offs o
    ),
    e AS (
      SELECT v1.relation_id,
             (v2.lon * 0.017453292519943295
              - v1.lon * 0.017453292519943295)
             * (sin(v1.lat * 0.017453292519943295)
                + sin(v2.lat * 0.017453292519943295)) AS term
      FROM v v1
      JOIN v v2 ON v2.relation_id = v1.relation_id AND v2.idx = v1.idx + 1
    )
    SELECT relation_id,
           CAST(round(abs(sum(term)) * 0.5 * 6371008.8 * 6371008.8, 1)
                AS DOUBLE) AS area_m2
    FROM e GROUP BY 1 ORDER BY 1
    """,
)
def geodesic_area_octagons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical area of every stop-area octagon through the real WKB
    decode path (geo/columns.py::spherical_area_m2 — the ST_Area
    analogue, completing the geodesic family: length, bearing,
    destination, now area). The oracle rebuilds the closed-form ring
    vertices and replays the identical cylindrical-equal-area shoelace
    (same DEG2RAD literal, same operation order), so the hash gates the
    formula itself; only sin() may differ by an ulp across libms, far
    under the 1-dp rounding."""
    from ..geo import columns as geo_cols

    polys = datagen.stop_area_octagons(spark, sf_dir)
    return polys.select(
        "relation_id",
        F.round(geo_cols.spherical_area_m2(F.col("geom")), 1).alias("area_m2"),
    ).orderBy("relation_id")


@register_extra(
    "tile_clip_areas",
    """
    WITH r AS (
      SELECT p_partkey AS poly_id,
             ((p_partkey * 7) % 97) * 2 AS x1,
             ((p_partkey * 11) % 89) * 2 AS y1
      FROM part
    ),
    rr AS (
      SELECT poly_id, x1, y1,
             x1 + 3 + poly_id % 7 AS x2,
             y1 + 2 + poly_id % 5 AS y2
      FROM r
    ),
    tx AS (
      SELECT rr.*, unnest(range(x1 // 8, x2 // 8 + 1)) AS tile_x FROM rr
    ),
    txy AS (
      SELECT tx.*, unnest(range(y1 // 8, y2 // 8 + 1)) AS tile_y FROM tx
    ),
    ov AS (
      SELECT poly_id, tile_x, tile_y,
             least(x2, tile_x * 8 + 8) - greatest(x1, tile_x * 8) AS ox,
             least(y2, tile_y * 8 + 8) - greatest(y1, tile_y * 8) AS oy
      FROM txy
    )
    SELECT poly_id, tile_x, tile_y, CAST(ox * oy AS BIGINT) AS clip_area
    FROM ov WHERE ox > 0 AND oy > 0
    ORDER BY poly_id, tile_x, tile_y
    """,
)
def tile_clip_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_Intersection-to-a-tile-grid: every polygon is clipped to each
    tile of a fixed grid it overlaps, emitting the exact clipped area
    per (polygon, tile) — the tiling step of any vector-tile /
    map-reduce overlay pipeline (reference analogue: the subdivide +
    per-cell geometry work behind its spatial joins, vdv462 export
    `subdivide` usage).

    Candidate generation is bbox-banded JVM-side (sequence/posexplode
    over the covering tile range — never polygon x all-tiles); the clip
    itself is the generic Sutherland-Hodgman kernel
    (geo/kernel.py::clip_ring_by_rect) + planar shoelace, run per
    candidate in one Arrow-batched mapInPandas pass with no shuffle
    after the explode. The gate world uses integer axis-aligned
    rectangles so the oracle can state the clipped area in closed form
    (interval-overlap algebra in SQL) while the Spark side still runs
    the full generic clip; rotated-polygon area conservation through
    the SAME operator is pytest-gated (test_geo_clip.py)."""
    import pandas as pd

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    rr = part.select(
        F.col("p_partkey").alias("poly_id"),
        ((F.col("p_partkey") * 7 % 97) * 2).alias("x1"),
        ((F.col("p_partkey") * 11 % 89) * 2).alias("y1"),
    ).select(
        "poly_id",
        "x1",
        "y1",
        (F.col("x1") + 3 + F.col("poly_id") % 7).alias("x2"),
        (F.col("y1") + 2 + F.col("poly_id") % 5).alias("y2"),
    )
    cand = rr.select(
        "*",
        F.explode(
            F.sequence(F.floor(F.col("x1") / 8), F.floor(F.col("x2") / 8))
        ).alias("tile_x"),
    ).select(
        "*",
        F.explode(
            F.sequence(F.floor(F.col("y1") / 8), F.floor(F.col("y2") / 8))
        ).alias("tile_y"),
    )

    def _clip(batches):
        import numpy as np

        from ..geo import kernel

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                ring = np.array(
                    [
                        [row.x1, row.y1],
                        [row.x2, row.y1],
                        [row.x2, row.y2],
                        [row.x1, row.y2],
                        [row.x1, row.y1],
                    ],
                    dtype=np.float64,
                )
                clipped = kernel.clip_ring_by_rect(
                    ring,
                    row.tile_x * 8.0,
                    row.tile_y * 8.0,
                    row.tile_x * 8.0 + 8.0,
                    row.tile_y * 8.0 + 8.0,
                )
                if len(clipped) < 4:
                    continue
                x, y = clipped[:, 0], clipped[:, 1]
                area = 0.5 * abs(
                    float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))
                )
                a = int(round(area))
                if a > 0:
                    out.append((row.poly_id, row.tile_x, row.tile_y, a))
            yield pd.DataFrame(
                out, columns=["poly_id", "tile_x", "tile_y", "clip_area"]
            )

    return cand.mapInPandas(
        _clip,
        "poly_id long, tile_x long, tile_y long, clip_area long",
    ).orderBy("poly_id", "tile_x", "tile_y")


_DBSCAN_EPS_ORACLE = f"""
WITH RECURSIVE pts AS (
  SELECT event_id AS id, lon, lat FROM ({datagen.SQL_POINTS})
  WHERE event_id % 7 = 0
),
e AS (
  SELECT p.id AS a, t.id AS b
  FROM pts p JOIN pts t ON p.id <> t.id
  WHERE {_HAVERSINE_SQL} <= 1200.0
),
reach AS (
  SELECT id, id AS comp FROM pts
  UNION
  SELECT e.b AS id, r.comp FROM reach r JOIN e ON e.a = r.id
),
lab AS (SELECT id, min(comp) AS cluster FROM reach GROUP BY id),
sz AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY cluster)
SELECT id AS event_id, cluster, cluster_size, cluster_size = 1 AS is_noise
FROM lab JOIN sz USING (cluster)
ORDER BY event_id
"""


@register_extra("dbscan_eps_clusters", _DBSCAN_EPS_ORACLE)
def dbscan_eps_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_ClusterDBSCAN with a REAL radius (eps=1.2 km, minpoints=2) —
    the general case of the reference's stop-area clustering
    (sql/stop_places.sql uses eps=0, gated as W1; PostGIS's operator is
    the eps>0 form). Composition of two already-gated operators:
    fixed-radius cell-ring dwithin self-join for the eps-neighbor graph
    (eps picked so the gate world mixes noise, pairs, and chains)
    (broadcast index, map-side only — at 10^12 points the same graph
    comes from the cell-bucketed shuffle variant, identical algebra),
    then iterative min-label connected components (Spark joins, no
    driver graph). minpoints=2 semantics: singleton components are
    noise. The oracle is deliberately independent: brute-force pair
    join + a WITH RECURSIVE transitive min-label closure in DuckDB, so
    the hash gates candidate completeness (a missed neighbor merges or
    splits a cluster) as well as the propagation fixpoint."""
    from ..operators.cluster import connected_components
    from ..operators.knn import dwithin_join_broadcast

    pts = datagen.geo_points(spark, sf_dir).filter(
        F.col("event_id") % 7 == 0
    )
    nbrs = pts.select(
        F.col("event_id").alias("nbr_id"), "lon", "lat"
    )
    edges = dwithin_join_broadcast(
        pts,
        nbrs,
        point_keep=["event_id"],
        target_id="nbr_id",
        distance_m=1200.0,
    ).filter(F.col("event_id") != F.col("nbr_id"))
    verts = pts.select(F.col("event_id").alias("id"))
    cc = connected_components(
        verts, edges.select("event_id", "nbr_id"),
        vid="id", src="event_id", dst="nbr_id",
    )
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        cc.join(sizes, "component")
        .select(
            F.col("id").alias("event_id"),
            F.col("component").alias("cluster"),
            "cluster_size",
            (F.col("cluster_size") == 1).alias("is_noise"),
        )
        .orderBy("event_id")
    )


@register_extra(
    "idw_interpolation",
    f"""
    {_POINTS_CTE}, t AS ({datagen.SQL_QUAYS}),
    v AS (SELECT quay_id, lon, lat,
                 CAST((quay_id * 13) % 97 AS DOUBLE) AS quay_value
          FROM t),
    d AS (
      SELECT p.event_id, v.quay_value,
             greatest({_HAVERSINE_SQL.replace('t.', 'v.')}, 0.5) AS dm,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY {_HAVERSINE_SQL.replace('t.', 'v.')}, v.quay_id
             ) AS rn
      FROM p CROSS JOIN v
    )
    SELECT event_id,
           CAST(round(sum(quay_value / (dm * dm)) / sum(1.0 / (dm * dm)), 4)
                AS DOUBLE) AS idw_value
    FROM d WHERE rn <= 3
    GROUP BY event_id ORDER BY event_id
    """,
)
def idw_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-distance-weighted spatial interpolation (power 2, k=3
    neighbors, 0.5 m distance clamp against exact-coincidence): the
    standard gridding/imputation operator — estimate a field value at
    every point from its nearest measured sites. Rides the gated kNN
    machinery (broadcast cell index, ring expansion, pinned
    (dist, quay_id) tie order), so the whole plan stays map-side +
    one per-point aggregation that reuses the kNN output partitioning.
    numpy and SQL haversine may differ by ulps; the weights divide
    distances of ~equal magnitude so the ratio error stays ~1e-15,
    ten orders under the 4-dp rounding."""
    pts = datagen.geo_points(spark, sf_dir)
    quays = datagen.quay_sites(spark, sf_dir).select(
        "quay_id",
        "lon",
        "lat",
        ((F.col("quay_id") * 13) % 97).cast("double").alias("quay_value"),
    )
    nn = knn_join_broadcast(
        pts,
        quays.select("quay_id", "lon", "lat"),
        point_keep=["event_id"],
        target_id="quay_id",
        k=3,
        res=8,
        max_rings=3,
    )
    j = nn.join(
        F.broadcast(quays.select("quay_id", "quay_value")), "quay_id"
    ).select(
        "event_id",
        "quay_value",
        F.greatest(F.col("dist_m"), F.lit(0.5)).alias("dm"),
    )
    return (
        j.groupBy("event_id")
        .agg(
            F.round(
                F.sum(F.col("quay_value") / (F.col("dm") * F.col("dm")))
                / F.sum(F.lit(1.0) / (F.col("dm") * F.col("dm"))),
                4,
            ).alias("idw_value")
        )
        .orderBy("event_id")
    )


# ------------------------------------------------------------- geohash


def _geohash_sql_expr(precision: int) -> str:
    from ..functions import geohash

    return geohash.geohash_sql("lon", "lat", precision)


@register_extra(
    "geohash_prefix_rollup",
    f"""
    {_POINTS_CTE},
    g AS (SELECT {_geohash_sql_expr(6)} AS gh6 FROM p)
    SELECT substr(gh6, 1, 4) AS gh4,
           count(*) AS n_points,
           count(DISTINCT gh6) AS n_subcells,
           min(gh6) AS first_cell,
           max(gh6) AS last_cell
    FROM g GROUP BY 1
    """,
)
def geohash_prefix_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash cell counts with the STRING-prefix rollup that is the
    index family's whole point: substr(gh6, 1, 4) IS the precision-4
    parent, so hierarchy = string prefix and spatial ranges =
    lexicographic ranges (the property that lets parquet/Iceberg
    min/max column stats prune by location when the table is sorted by
    this key). Encoding is the closed-form pure-Catalyst twin
    (functions/geohash.py — two floors + shift/mask packing, zero
    Python, one map pass at any scale); the rollup re-aggregates only
    gh6 cell rows, never the corpus. min/max cells per prefix ride the
    same partial agg and double as the range-pruning bounds a sorted
    layout would expose. Oracle = the same closed form generated as
    DuckDB SQL; all three twins are bit-checked against a classic
    bisection geohash + the public 'ezs42' vectors before this query
    runs (tests/test_geohash.py)."""
    from ..functions import geohash

    pts = datagen.geo_points(spark, sf_dir)
    g6 = geohash.with_geohash(pts, "lon", "lat", 6, out="gh6")
    cells = g6.groupBy("gh6").agg(F.count("*").alias("n_points"))
    return (
        cells.groupBy(F.substring("gh6", 1, 4).alias("gh4"))
        .agg(
            F.sum("n_points").alias("n_points"),
            F.count("*").alias("n_subcells"),
            F.min("gh6").alias("first_cell"),
            F.max("gh6").alias("last_cell"),
        )
    )


# ------------------------------------------------------------- hex bins


def _hexbin_sql_expr(size: float) -> str:
    from ..functions import hexgrid

    return hexgrid.hexbin_sql("p.lon", "p.lat", size)


_HEX_SIZE = 0.01


@register_extra(
    "hexbin_density",
    f"""
    {_POINTS_CTE},
    h AS (SELECT {_hexbin_sql_expr(_HEX_SIZE)} AS hex_id FROM p),
    c AS (SELECT hex_id, count(*) AS n_points FROM h GROUP BY 1),
    u AS (SELECT hex_id, n_points,
                 (hex_id >> 21) - {1 << 20} AS hq,
                 (hex_id & {(1 << 21) - 1}) - {1 << 20} AS hr
          FROM c)
    SELECT hex_id, hq, hr, n_points,
           round(CAST({_HEX_SIZE!r} AS DOUBLE)
                 * CAST({__import__('math').sqrt(3.0)!r} AS DOUBLE)
                 * (hq + hr / 2.0), 6) AS center_x,
           round(CAST({_HEX_SIZE!r} AS DOUBLE) * CAST(1.5 AS DOUBLE) * hr,
                 6) AS center_y
    FROM u
    """,
)
def hexbin_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex-bin density — the H3-style hexagonal cell family of the
    north rule ("H3/S2 cell-indexed") in its closed-form core: axial
    coordinates + cube rounding (functions/hexgrid.py), pure-Catalyst
    whole-stage codegen, zero Python, so binning 10^12 rows is one
    map pass plus a partial-agg (cell, count) shuffle. Hexagons are
    the density cell of choice because every point is within one
    circumradius of its center and all cells have equal area —
    tests/test_hexgrid.py proves the Voronoi property (assigned
    center is the nearest of the 7 candidate centers) before this
    query runs. Centers are recovered from the packed id by integer
    shifts (no second geometry pass). Oracle = the same cube-rounding
    algebra generated as DuckDB SQL, bit-identical floor(+0.5)
    rounding in all three twins (engine round() ties disagree)."""
    from ..functions import hexgrid

    pts = datagen.geo_points(spark, sf_dir)
    cells = (
        hexgrid.with_hexbin(pts, "lon", "lat", _HEX_SIZE)
        .groupBy("hex_id")
        .agg(F.count("*").alias("n_points"))
    )
    q = hexgrid.hex_q(F.col("hex_id")).alias("hq")
    r = hexgrid.hex_r(F.col("hex_id")).alias("hr")
    cells = cells.select("hex_id", q, r, "n_points")
    return cells.select(
        "hex_id",
        "hq",
        "hr",
        "n_points",
        F.round(
            F.lit(_HEX_SIZE) * hexgrid.SQRT3
            * (F.col("hq") + F.col("hr") / 2.0),
            6,
        ).alias("center_x"),
        F.round(F.lit(_HEX_SIZE) * 1.5 * F.col("hr"), 6).alias("center_y"),
    )


# ---------------------------------------------------------- EXIF geotags


_EXIF_LEFT_OCT_JOIN = datagen.SQL_OCTAGONS_JOIN.replace(
    "JOIN nation", "LEFT JOIN nation"
)


@register_extra(
    "image_exif_geotags",
    f"""
    WITH p0 AS ({datagen.SQL_POINTS}),
    d AS (
      SELECT event_id, lon, lat,
        CASE WHEN (event_id * 73 + 29) % 2000 < 1000
             THEN 'S' ELSE 'N' END AS lat_ref,
        abs((event_id * 73 + 29) % 2000 - 1000) * 60 AS lat_min_num,
        CAST(4000 AS BIGINT) AS lat_min_den,
        CASE WHEN (event_id * 37 + 11) % 2000 < 1000
             THEN 'W' ELSE 'E' END AS lon_ref,
        abs((event_id * 37 + 11) % 2000 - 1000) * 60 AS lon_min_num,
        CAST(4000 AS BIGINT) AS lon_min_den
      FROM p0 WHERE event_id % 5 = 0
    )
    SELECT p.event_id, p.lat_ref, p.lat_min_num, p.lat_min_den,
           p.lon_ref, p.lon_min_num, p.lon_min_den,
           n.n_nationkey AS relation_id
    FROM d AS p {_EXIF_LEFT_OCT_JOIN}
    """,
)
def image_exif_geotags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl-corpus geotag path end-to-end: JPEGs whose coordinates
    live in the EXIF APP1 GPS IFD (functions/exif.py — from-scratch
    TIFF/EXIF wire format, both byte orders in the corpus), parsed
    DISTRIBUTED from the bytes column (one Arrow-batched pass), then
    fed straight into the gated PIP machinery (broadcast cell index ->
    exact ray-cast) as a LEFT join so unassigned images survive with
    NULL relation_id. Coordinates cross engines as exact integer
    RATIONALs (minutes num/den) — the oracle reconstructs them
    closed-form from the synthesis LCG and replays the octagon
    predicate algebraically, so the hash gates the EXIF writer, the
    marker/IFD parser, the DMS reconstruction, AND the spatial join at
    once. Scale shape: synth is test scaffolding; the real path is
    bytes-scan -> mapInPandas parse -> map-side PIP -> one thin
    (event_id, relation_id) join — no corpus shuffle."""
    from pyspark.sql.types import IntegerType

    from ..pipeline import images as im

    # the synth+parse subtree feeds BOTH the PIP branch and the final
    # join-back; without a lineage cut Spark executes it twice per run
    # (guide §1.2: don't compute things twice) — localCheckpoint
    # materializes the 20k thin parsed rows once (bytes column already
    # dropped by with_exif_gps)
    dec = im.with_exif_gps(
        im.exif_images_df(spark, sf_dir, size=16, every=5)
    ).localCheckpoint()
    polys = datagen.stop_area_octagons(spark, sf_dir)
    assign = pip_join_broadcast(
        dec.select("event_id", "lon_deg", "lat_deg"),
        polys,
        point_keep=["event_id"],
        lon="lon_deg",
        lat="lat_deg",
        poly_id="relation_id",
        poly_wkb="geom",
        res=12,
    )
    return (
        dec.drop("lat_deg", "lon_deg")
        .join(assign, "event_id", "left")
        .withColumn("relation_id", F.col("relation_id").cast(IntegerType()))
    )


# ------------------------------------------------------ linear referencing


@register_extra(
    "snap_points_to_edges",
    f"""
    {_POINTS_CTE},
    e AS ({datagen.SQL_EDGE_SEGMENTS}),
    c AS (
      SELECT p.event_id, e.edge_id, p.lon, p.lat, e.ax, e.ay,
             e.bx - e.ax AS dx, e.by - e.ay AS dy
      FROM p CROSS JOIN e
    ),
    t0 AS (SELECT *, dx * dx + dy * dy AS seg2 FROM c),
    t1 AS (
      SELECT *, CASE WHEN seg2 = 0 THEN CAST(0 AS DOUBLE)
        ELSE least(greatest(((lon - ax) * dx + (lat - ay) * dy) / seg2,
                            CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE)) END AS t
      FROM t0
    ),
    d AS (
      SELECT event_id, edge_id, t,
        (lon - (ax + t * dx)) * (lon - (ax + t * dx))
        + (lat - (ay + t * dy)) * (lat - (ay + t * dy)) AS d2
      FROM t1
    ),
    r AS (
      SELECT event_id, edge_id, t, d2,
        row_number() OVER (PARTITION BY event_id ORDER BY d2, edge_id) AS rn
      FROM d
    )
    SELECT event_id, edge_id, round(t, 6) AS frac,
           round(sqrt(d2), 7) AS dist_deg
    FROM r WHERE rn = 1
    """,
)
def snap_points_to_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear referencing: snap every point to its nearest edge segment
    — the ST_ClosestPoint / ST_LineLocatePoint pair (map-matching's
    core step, and the resolution the reference's path stitcher does
    when it locates path points on member ways). The segment layer is
    dimension-sized, so the plan is the kNN broadcast shape: edges are
    collect_dim'd into a vectorized numpy kernel
    (geo/kernel.py::snap_to_segments — fixed-order IEEE algebra, ties
    to the lowest edge_id) and the point table is scanned ONCE
    map-side, no shuffle at all; the rounded (frac, dist) leave the
    kernel, raw doubles never cross engines. A degenerate (a == b)
    edge is in the layer on purpose — the point-snap branch is gated
    too. For fact-sized edge layers the cell-cover candidate join
    (operators/spatial_join.py) replaces the broadcast, same algebra.
    Oracle: the identical projection algebra replayed stepwise in SQL
    over the cross join + row_number top-1."""
    out = _snapped_points(spark, sf_dir)
    return out.select(
        "event_id",
        "edge_id",
        F.round("t", 6).alias("frac"),
        F.round(F.sqrt("d2"), 7).alias("dist_deg"),
    )


def _snapped_points(
    spark: SparkSession, sf_dir: str, keep: tuple = ()
) -> DataFrame:
    """Shared snap flow for the linear-referencing family: broadcast
    the dimension-sized edge layer into the vectorized kernel, scan the
    point table once map-side, carry ``keep`` event columns through."""
    import numpy as np
    import pandas as pd

    from ..geo import kernel as K
    from ..operators._guard import collect_dim

    edges = sorted(
        (
            (r["edge_id"], r["ax"], r["ay"], r["bx"], r["by"])
            for r in collect_dim(
                datagen.edge_segments(spark, sf_dir),
                "snap_points_to_edges edge dim",
            )
        ),
    )
    ids = np.array([e[0] for e in edges], dtype=np.int64)
    ax = np.array([e[1] for e in edges])
    ay = np.array([e[2] for e in edges])
    bx = np.array([e[3] for e in edges])
    by = np.array([e[4] for e in edges])

    pts = datagen.geo_points(spark, sf_dir, keep=keep)

    def _snap(batches):
        for pdf in batches:
            idx, t, d2 = K.snap_to_segments(
                pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), ax, ay, bx, by
            )
            out = {"event_id": pdf["event_id"]}
            for k in keep:
                out[k] = pdf[k]
            out.update({"edge_id": ids[idx], "t": t, "d2": d2})
            yield pd.DataFrame(out)

    keep_schema = "".join(
        f", {k} {'timestamp_ntz' if k == 'ts' else 'bigint'}" for k in keep
    )
    return pts.mapInPandas(
        _snap,
        f"event_id bigint{keep_schema}, edge_id bigint, t double,"
        " d2 double",
    )


# ------------------------------------------------------------ focal raster


_FOCAL_R, _FOCAL_PX = 12, 16
_FOCAL_IX0, _FOCAL_IY0 = 4090, 2042  # near (0 deg, 0 deg); no edge wrap


@register_extra(
    "raster_focal_stats",
    f"""
    WITH g AS (
      SELECT CAST({_FOCAL_IX0} + n_nationkey % 5 AS BIGINT) AS ix,
             CAST({_FOCAL_IY0} + n_nationkey // 5 AS BIGINT) AS iy
      FROM nation
    ),
    pxls AS (
      SELECT ix * {_FOCAL_PX} + rj.j AS gx, iy * {_FOCAL_PX} + ri.i AS gy,
             (rj.j * 7 + ri.i * 11
              + (((CAST({_FOCAL_R} AS BIGINT) << 57) | (ix << 28) | iy)
                 % 9973) * 13) % 256 AS val
      FROM g, range({_FOCAL_PX}) rj(j), range({_FOCAL_PX}) ri(i)
    ),
    f AS (
      SELECT p.gx, p.gy,
             (CAST(sum(n.val) AS BIGINT) * 36) // count(*) AS foc36
      FROM pxls p JOIN pxls n
        ON n.gx BETWEEN p.gx - 1 AND p.gx + 1
       AND n.gy BETWEEN p.gy - 1 AND p.gy + 1
      GROUP BY 1, 2
    )
    SELECT (CAST({_FOCAL_R} AS BIGINT) << 57)
             | ((gx // {_FOCAL_PX}) << 28) | (gy // {_FOCAL_PX}) AS cell,
           count(*) AS n_px,
           round(CAST(sum(foc36) AS DOUBLE) / {36 * _FOCAL_PX * _FOCAL_PX}.0,
                 4) AS avg_focal,
           round(CAST(min(foc36) AS DOUBLE) / 36.0, 4) AS min_focal,
           round(CAST(max(foc36) AS DOUBLE) / 36.0, 4) AS max_focal
    FROM f GROUP BY 1
    """,
)
def raster_focal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 focal mean over a tiled raster through a REAL distributed
    halo exchange (operators/raster.py::focal_stats36): tiles ship only
    edge strips/corner pixels to neighbors, one groupBy assembles the
    padded block, the convolution is 9 shifted adds. The x36 integer
    focal value makes every aggregate order-independent (counts 4/6/9
    at rectangle edges all divide 36), so the hash is exact with no
    float discipline beyond the final display rounding. The 5x5 tile
    block derives from `nation`; bands are the closed-form synth
    pattern, so the DuckDB oracle recomputes the whole stencil from
    scratch on a flat pixel table (range x range self-join) — an
    implementation with nothing in common with the halo plan."""
    import pandas as pd

    from ..operators.raster import focal_stats36, synth_band

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    k = F.col("n_nationkey").cast("long")
    cells_df = nat.select(
        (
            F.lit(_FOCAL_R).cast("long") * (1 << 57)
            + F.shiftleft(F.lit(_FOCAL_IX0).cast("long") + k % 5, 28)
            + (F.lit(_FOCAL_IY0).cast("long") + F.floor(k / 5))
        ).alias("cell")
    )

    def _bands(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "cell": pdf["cell"],
                    "band": [
                        bytearray(
                            synth_band(int(c), _FOCAL_PX).tobytes()
                        )
                        for c in pdf["cell"]
                    ],
                }
            )

    tiles = cells_df.mapInPandas(_bands, "cell bigint, band binary")
    out = focal_stats36(tiles, _FOCAL_PX)
    return out.select(
        "cell",
        "n_px",
        F.round(
            F.col("sum_foc36") / float(36 * _FOCAL_PX * _FOCAL_PX), 4
        ).alias("avg_focal"),
        F.round(F.col("min_foc36") / 36.0, 4).alias("min_focal"),
        F.round(F.col("max_foc36") / 36.0, 4).alias("max_focal"),
    )


@register_extra(
    "line_interpolate_points",
    """
    WITH seg0 AS (
      SELECT CAST(n_nationkey AS BIGINT) AS line_id, r.i AS seg_i,
        CAST(-0.2 AS DOUBLE) + CAST(0.1 AS DOUBLE) * (n_nationkey % 5) AS cx,
        CAST(-0.2 AS DOUBLE) + CAST(0.1 AS DOUBLE) * (n_nationkey // 5) AS cy,
        CAST(0.011 AS DOUBLE) * ((n_nationkey * 7 + r.i * 3) % 5 - 2) AS dx,
        CAST(0.009 AS DOUBLE) * ((n_nationkey * 5 + r.i * 7) % 7 - 3) AS dy
      FROM nation, range(3) r(i)
    ),
    seg AS (
      SELECT line_id, seg_i, dx, dy,
        cx + COALESCE(sum(dx) OVER (PARTITION BY line_id ORDER BY seg_i
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ax,
        cy + COALESCE(sum(dy) OVER (PARTITION BY line_id ORDER BY seg_i
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ay,
        sqrt(dx * dx + dy * dy) AS len,
        COALESCE(sum(sqrt(dx * dx + dy * dy)) OVER (PARTITION BY line_id
              ORDER BY seg_i
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
        sum(sqrt(dx * dx + dy * dy))
          OVER (PARTITION BY line_id) AS total_len
      FROM seg0
    ),
    j AS (
      SELECT e.event_id, s.line_id, s.seg_i, s.ax, s.ay, s.dx, s.dy,
             s.len, s.cum,
             ((e.event_id % 100) / 100.0) * s.total_len AS st
      FROM events e JOIN seg s ON s.line_id = e.event_id % 25
    ),
    q AS (
      SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY seg_i)
               AS rn
      FROM j WHERE cum + len >= st
    ),
    t AS (
      SELECT event_id, line_id, seg_i,
             CASE WHEN len = 0 THEN CAST(0 AS DOUBLE)
                  ELSE (st - cum) / len END AS tt,
             ax, ay, dx, dy
      FROM q WHERE rn = 1
    )
    SELECT event_id, line_id, CAST(seg_i AS INT) AS seg_i,
           round(ax + tt * dx, 7) AS px,
           round(ay + tt * dy, 7) AS py
    FROM t
    """,
)
def line_interpolate_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_LineInterpolatePoint: walk each event's fraction (0..0.99)
    along its assigned 4-vertex polyline — cumulative arc-length
    search, then linear interpolation inside the found segment. With
    snap_points_to_edges (ST_ClosestPoint/ST_LineLocatePoint) this
    completes the linear-referencing pair. ENTIRELY pure Catalyst: the
    polyline layer is 75 closed-form segment rows (broadcast), the
    search is a filter + row_number window, and three of the lines
    carry a zero-length segment on purpose (the CASE len=0 branch is
    gated). Ordered window sums make the cumulative lengths
    bit-identical across engines; only the rounded interpolated point
    leaves the plan. Oracle = the same recurrence in SQL windows."""
    from pyspark.sql import Window

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    k = F.col("n_nationkey").cast("long")
    seg0 = nat.select(
        k.alias("line_id"),
        F.explode(F.array(*[F.lit(i) for i in range(3)])).alias("seg_i"),
    )
    i = F.col("seg_i")
    kk = F.col("line_id")
    seg0 = seg0.select(
        "line_id",
        "seg_i",
        (F.lit(-0.2) + 0.1 * (kk % 5)).alias("cx"),
        (F.lit(-0.2) + 0.1 * F.floor(kk / 5)).alias("cy"),
        (F.lit(0.011) * ((kk * 7 + i * 3) % 5 - 2)).alias("dx"),
        (F.lit(0.009) * ((kk * 5 + i * 7) % 7 - 3)).alias("dy"),
    )
    w_prev = (
        Window.partitionBy("line_id")
        .orderBy("seg_i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy("line_id")
    ln = F.sqrt(F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy"))
    seg = seg0.select(
        "line_id",
        "seg_i",
        "dx",
        "dy",
        (F.col("cx") + F.coalesce(F.sum("dx").over(w_prev), F.lit(0.0))).alias(
            "ax"
        ),
        (F.col("cy") + F.coalesce(F.sum("dy").over(w_prev), F.lit(0.0))).alias(
            "ay"
        ),
        ln.alias("len"),
        F.coalesce(F.sum(ln).over(w_prev), F.lit(0.0)).alias("cum"),
        F.sum(ln).over(w_all).alias("total_len"),
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    j = ev.join(
        F.broadcast(seg), seg["line_id"] == ev["event_id"] % 25
    ).withColumn(
        "st", ((F.col("event_id") % 100) / 100.0) * F.col("total_len")
    )
    w_pick = Window.partitionBy("event_id").orderBy("seg_i")
    q = (
        j.filter(F.col("cum") + F.col("len") >= F.col("st"))
        .withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
    )
    tt = F.when(F.col("len") == 0, F.lit(0.0)).otherwise(
        (F.col("st") - F.col("cum")) / F.col("len")
    )
    return q.select(
        "event_id",
        "line_id",
        F.col("seg_i").cast("int").alias("seg_i"),
        F.round(F.col("ax") + tt * F.col("dx"), 7).alias("px"),
        F.round(F.col("ay") + tt * F.col("dy"), 7).alias("py"),
    )


@register_extra(
    "streaming_geofence_counts",
    f"""
    {_POINTS_CTE.replace("WITH p AS (", "WITH p0 AS (")},
    p AS (SELECT p0.*, e.ts FROM p0 JOIN events e USING (event_id))
    SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', p.ts)) AS BIGINT)
             AS window_start_epoch,
           n.n_nationkey AS relation_id,
           count(*) AS n
    FROM p {datagen.SQL_OCTAGONS_JOIN}
    GROUP BY 1, 2
    """,
)
def streaming_geofence_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming geofencing (geo x streaming): live geotagged rows
    stream-static-joined against the octagon fence layer (broadcast
    theta join, pure Catalyst) -> watermarked per-fence window counts,
    drained with Trigger.AvailableNow. Complements
    streaming_tile_counts (cell algebra, no membership) and
    streaming_interval_join (stream-stream): this row gates the
    STREAM-STATIC join mode. Oracle = exact batch semantics
    (time_bucket + the algebraic octagon membership)."""
    import os
    import tempfile

    from ..streaming import geo as sg

    work = tempfile.mkdtemp(prefix="stream_fence_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    os.symlink(f"{sf_dir}/events.parquet", os.path.join(src, "part-0.parquet"))
    out = os.path.join(work, "out")
    df = sg.windowed_geofence_counts_stream(
        spark,
        src,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
        f"{sf_dir}/nation.parquet",
    )
    sg.drain_available_now(df, out, os.path.join(work, "ckpt"))
    return spark.read.parquet(out).select(
        F.col("window_start").cast("long").alias("window_start_epoch"),
        "relation_id",
        "n",
    )


# ------------------------------------------------------- cover compaction


@register_extra(
    "compact_cell_cover",
    """
    WITH k AS (SELECT DISTINCT event_id % 144 AS k FROM events),
    c12 AS (
      SELECT 4088 + k % 12 AS ix, 2040 + k // 12 AS iy FROM k
      WHERE ((4088 + k % 12) * 3 + (2040 + k // 12) * 7) % 11 <> 0
    ),
    p11 AS (SELECT ix // 2 AS ix, iy // 2 AS iy, count(*) AS n
            FROM c12 GROUP BY 1, 2),
    keep12 AS (
      SELECT (CAST(12 AS BIGINT) << 57) | (ix << 28) | iy AS cell,
             CAST(12 AS INT) AS res
      FROM c12
      WHERE NOT EXISTS (SELECT 1 FROM p11 f WHERE f.n = 4
                        AND f.ix = c12.ix // 2 AND f.iy = c12.iy // 2)
    ),
    c11 AS (SELECT ix, iy FROM p11 WHERE n = 4),
    p10 AS (SELECT ix // 2 AS ix, iy // 2 AS iy, count(*) AS n
            FROM c11 GROUP BY 1, 2),
    keep11 AS (
      SELECT (CAST(11 AS BIGINT) << 57) | (ix << 28) | iy AS cell,
             CAST(11 AS INT) AS res
      FROM c11
      WHERE NOT EXISTS (SELECT 1 FROM p10 f WHERE f.n = 4
                        AND f.ix = c11.ix // 2 AND f.iy = c11.iy // 2)
    ),
    keep10 AS (
      SELECT (CAST(10 AS BIGINT) << 57) | (ix << 28) | iy AS cell,
             CAST(10 AS INT) AS res
      FROM p10 WHERE n = 4
    )
    SELECT cell, res FROM keep12
    UNION ALL SELECT cell, res FROM keep11
    UNION ALL SELECT cell, res FROM keep10
    """,
)
def compact_cell_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2-style covering COMPACTION: a 12x12 res-12 cell block with
    deterministic holes collapses to its minimal mixed-resolution form
    (complete 2x2 quads promoted to parents, two levels). Compacted
    covers are the normalized region-filter representation — 4-64x
    fewer join keys, identical semantics — and the promotion relation
    is the same quadtree id shift the pyramids roll up on
    (operators/spatial_join.py::compact_cells: per level one
    groupBy(parent) + one anti join, rows only shrink). The oracle
    replays both levels as grouped counts + tuple anti-membership;
    pytest proves expansion back to leaves reproduces the input set
    exactly."""
    from ..operators.spatial_join import compact_cells

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.col("k")
    cover = (
        ev.select((F.col("event_id") % 144).alias("k"))
        .distinct()
        .select(
            (F.lit(4088).cast("long") + k % 12).alias("ix"),
            (F.lit(2040).cast("long") + F.floor(k / 12)).alias("iy"),
        )
        .filter((F.col("ix") * 3 + F.col("iy") * 7) % 11 != 0)
        .select(
            (
                F.lit(12).cast("long") * (1 << 57)
                + F.shiftleft("ix", 28)
                + F.col("iy")
            ).alias("cell")
        )
    )
    return compact_cells(cover, res=12, min_res=10)


@register_extra(
    "image_count_pushdown",
    f"""
    SELECT count(*) AS n_rows,
           TRUE AS meta_files_used,
           TRUE AS partial_files_scanned
    FROM ({_IMAGES_SELECT}) WHERE lon >= {_LON_CUT}
    """,
)
def image_count_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(*) answered mostly from MANIFEST METADATA (the public
    Iceberg/DuckDB aggregate-pushdown optimization,
    sources/snaptable.py::count_rows): on the lon-clustered image
    table, files whose min/max prove every row matches `lon >= cut`
    are counted from footer row counts with ZERO data IO; only the
    boundary files are scanned with the predicate re-applied. The
    in-query asserts pin the plan shape — at least one file counted
    purely from metadata AND fewer files scanned than exist — so the
    gate fails if the pushdown silently degrades to a full scan. At
    10^12 rows this is the difference between a dashboard count in
    manifest-read time and a corpus scan. Oracle = the plain filtered
    count over the closed-form table."""
    import tempfile

    from ..pipeline import images as im
    from ..sources import snaptable as st

    imgs = im.images_df(spark, sf_dir, every=10)
    work = tempfile.mkdtemp(prefix="imgcount_")
    st.create_table(imgs, work, cluster_by="lon", files_hint=8)
    report: dict = {}
    n = st.count_rows(
        spark, work, filters=[("lon", ">=", _LON_CUT)], report=report
    )
    assert report["files_meta_counted"] > 0, report
    assert report["files_scanned"] < report["files_total"], report
    return spark.createDataFrame(
        [(n, True, True)],
        "n_rows bigint, meta_files_used boolean,"
        " partial_files_scanned boolean",
    )


# trajectory QA: the GPS-outlier pass a geotagged-corpus curation
# pipeline runs before any spatial aggregation — per-user ordered
# steps, haversine step length, implied speed, teleport flag. The
# cross-engine float discipline follows knn_nearest_quay: distances
# round to whole meters, speeds to 2 dp, and the flag compares the
# ROUNDED speed so both engines test identical doubles.
@register(
    "trajectory_teleports",
    """
    WITH p AS (
      SELECT event_id, user_id, ts,
             -0.25 + (((event_id * 37 + 11) % 2000) / 4000.0) AS lon,
             -0.25 + (((event_id * 73 + 29) % 2000) / 4000.0) AS lat
      FROM events
    ),
    w AS (
      SELECT event_id, user_id, ts, lon, lat,
             lag(ts)  OVER win AS pts,
             lag(lon) OVER win AS plon,
             lag(lat) OVER win AS plat
      FROM p WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    d AS (
      SELECT event_id, user_id,
             epoch_us(ts) - epoch_us(pts) AS dt_us,
             2 * 6371008.8 * asin(sqrt(least(1.0,
               pow(sin((radians(lat) - radians(plat)) / 2), 2)
               + cos(radians(plat)) * cos(radians(lat))
               * pow(sin((radians(lon) - radians(plon)) / 2), 2)))) AS step
      FROM w WHERE pts IS NOT NULL
    )
    SELECT event_id, user_id,
           CAST(round(step, 0) AS BIGINT) AS step_m_round,
           round(dt_us / 1000000.0, 3) AS dt_s,
           round(step / (dt_us / 1000000.0), 2) AS speed_mps,
           round(step / (dt_us / 1000000.0), 2) > 40.0 AS is_teleport
    FROM d ORDER BY event_id
    """,
)
def trajectory_teleports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trajectory step speeds with teleport (GPS outlier)
    flags: order each user's geotagged events by time, haversine the
    consecutive steps, and flag implied speeds over 40 m/s — the
    filter step before trusting geotags for PIP/tiling. Scale shape:
    ONE window shuffle on user_id (the trajectory key — exactly the
    partitioning a 10^12-row event log would already be bucketed by),
    then map-side trig; no joins, no collect. Ties in ts pin on
    event_id so the merge order is deterministic (CLAUDE.md A1/A6/A8
    discipline)."""
    from pyspark.sql import Window

    pts = datagen.geo_points(spark, sf_dir, keep=("user_id", "ts"))
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = (
        pts.withColumn("pts", F.lag("ts").over(win))
        .withColumn("plon", F.lag("lon").over(win))
        .withColumn("plat", F.lag("lat").over(win))
        .filter(F.col("pts").isNotNull())
    )
    # events.ts is TIMESTAMP_NTZ (unix_micros rejects it); timestampdiff
    # gives the exact integer microsecond delta, matching epoch_us diff
    dt_us = F.expr("timestampdiff(MICROSECOND, pts, ts)")
    a = (
        F.pow(F.sin((F.radians("lat") - F.radians("plat")) / 2), 2)
        + F.cos(F.radians("plat"))
        * F.cos(F.radians("lat"))
        * F.pow(F.sin((F.radians("lon") - F.radians("plon")) / 2), 2)
    )
    step = F.lit(2.0) * 6371008.8 * F.asin(F.sqrt(F.least(F.lit(1.0), a)))
    dt_s = dt_us / F.lit(1000000.0)
    speed = F.round(step / dt_s, 2)
    return w.select(
        "event_id",
        "user_id",
        F.round(step, 0).cast("bigint").alias("step_m_round"),
        F.round(dt_s, 3).alias("dt_s"),
        speed.alias("speed_mps"),
        (speed > F.lit(40.0)).alias("is_teleport"),
    ).orderBy("event_id")


# STR (sort-tile-recursive) spatial partitioning: the load-balancing
# step a distributed spatial join runs BEFORE shuffling when the data
# is skewed — ntile on lon makes equal-count vertical slabs, ntile on
# lat within each slab makes equal-count cells, so every partition
# holds n/P rows (+/-1) REGARDLESS of spatial skew (hot urban clusters
# just get geographically smaller partitions). Both engines replay the
# same pinned-order ntile pair, so partition ids, counts, and exact
# bbox doubles hash identically.
@register(
    "str_spatial_partition",
    """
    WITH p AS (
      SELECT event_id,
             -0.25 + (((event_id * 37 + 11) % 2000) / 4000.0) AS lon,
             -0.25 + (((event_id * 73 + 29) % 2000) / 4000.0) AS lat
      FROM events
    ),
    slab AS (
      SELECT event_id, lon, lat,
             ntile(4) OVER (ORDER BY lon, event_id) - 1 AS sx
      FROM p
    ),
    cell AS (
      SELECT event_id, lon, lat, sx,
             ntile(4) OVER (PARTITION BY sx ORDER BY lat, event_id) - 1
               AS sy
      FROM slab
    )
    SELECT CAST(sx * 4 + sy AS INT) AS part_id,
           count(*) AS n_points,
           min(lon) AS min_lon, max(lon) AS max_lon,
           min(lat) AS min_lat, max(lat) AS max_lat
    FROM cell GROUP BY sx * 4 + sy ORDER BY part_id
    """,
)
def str_spatial_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STR packing of the point table into a 4x4 balanced spatial grid:
    per partition its row count (guaranteed n/P +/-1 by ntile) and its
    actual bounding box. Scale shape: two window exchanges (the second
    already partitioned by slab), then one groupBy — at 10^12 rows the
    production form samples ~1e5 points to learn the slab/cell cut
    points and broadcasts them (this query IS that learner, run on the
    sample); the balanced bboxes then drive a skew-free range
    repartition of the full table. Raw coordinate doubles pass through
    untouched (min/max selection only), so the hash needs no
    rounding."""
    from pyspark.sql import Window

    pts = datagen.geo_points(spark, sf_dir)
    slab = pts.withColumn(
        "sx",
        (F.ntile(4).over(Window.orderBy("lon", "event_id")) - 1),
    )
    cell = slab.withColumn(
        "sy",
        (
            F.ntile(4).over(
                Window.partitionBy("sx").orderBy("lat", "event_id")
            )
            - 1
        ),
    )
    return (
        cell.groupBy((F.col("sx") * 4 + F.col("sy")).cast("int").alias("part_id"))
        .agg(
            F.count("*").alias("n_points"),
            F.min("lon").alias("min_lon"),
            F.max("lon").alias("max_lon"),
            F.min("lat").alias("min_lat"),
            F.max("lat").alias("max_lat"),
        )
        .orderBy("part_id")
    )


# Mapbox Vector Tile sink (functions/mvt.py — from-scratch protobuf
# wire, reusing the PBF codec's varint primitives): every stop-area
# polygon is assigned to each 0.2-degree tile its bbox overlaps,
# quantized to the tile's 4096 extent in PURE INTEGER math (1e-4-degree
# units, positivity-shifted floor division — no float quantization to
# diverge across engines), encoded into a real MVT layer, then DECODED
# BACK through the wire format. The emitted stats come from the decoded
# bytes, so the hash gates encoder AND decoder; geom_len is the packed
# geometry payload size, which the oracle recomputes with a SQL varint
# length ladder over the zigzag deltas.
@register(
    "mvt_features",
    """
    WITH offs(idx, dx, dy) AS (VALUES
      (0, -152, -299), (1, 152, -299), (2, 299, -152), (3, 299, 152),
      (4, 152, 299), (5, -152, 299), (6, -299, 152), (7, -299, -152)
    ),
    n AS (
      SELECT n_nationkey AS rid,
             -2000 + 1000 * (n_nationkey % 5) AS cx,
             -2000 + 1000 * (n_nationkey // 5) AS cy
      FROM nation
    ),
    tx AS (
      SELECT rid, cx, cy,
             unnest(range((cx - 451 + 20000) // 2000 - 10,
                          (cx + 451 + 20000) // 2000 - 10 + 1)) AS tile_x
      FROM n
    ),
    txy AS (
      SELECT rid, cx, cy, tile_x,
             unnest(range((cy - 451 + 20000) // 2000 - 10,
                          (cy + 451 + 20000) // 2000 - 10 + 1)) AS tile_y
      FROM tx
    ),
    v AS (
      SELECT rid, tile_x, tile_y, idx,
             ((cx + dx - tile_x * 2000 + 8000) * 4096) // 2000 - 16384
               AS qx,
             (((tile_y + 1) * 2000 - (cy + dy) + 8000) * 4096) // 2000
               - 16384 AS qy
      FROM txy CROSS JOIN offs
    ),
    d AS (
      SELECT rid, tile_x, tile_y, qx, qy,
             qx - COALESCE(lag(qx) OVER w, 0) AS ddx,
             qy - COALESCE(lag(qy) OVER w, 0) AS ddy
      FROM v WINDOW w AS (PARTITION BY rid, tile_x, tile_y ORDER BY idx)
    ),
    z AS (
      SELECT rid, tile_x, tile_y, qx, qy,
             2 * abs(ddx) - CASE WHEN ddx < 0 THEN 1 ELSE 0 END AS zx,
             2 * abs(ddy) - CASE WHEN ddy < 0 THEN 1 ELSE 0 END AS zy
      FROM d
    )
    SELECT CAST(tile_x AS INT) AS tile_x, CAST(tile_y AS INT) AS tile_y,
           CAST(rid AS BIGINT) AS relation_id,
           CAST(count(*) AS INT) AS n_vertices,
           CAST(sum(qx) AS BIGINT) AS sum_qx,
           CAST(sum(qy) AS BIGINT) AS sum_qy,
           CAST(3 + sum(
                 CASE WHEN zx < 128 THEN 1 WHEN zx < 16384 THEN 2
                      WHEN zx < 2097152 THEN 3 ELSE 4 END
               + CASE WHEN zy < 128 THEN 1 WHEN zy < 16384 THEN 2
                      WHEN zy < 2097152 THEN 3 ELSE 4 END) AS INT)
             AS geom_len,
           'rel_' || rid AS name
    FROM z GROUP BY tile_x, tile_y, rid
    ORDER BY tile_x, tile_y, relation_id
    """,
)
def mvt_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-tile export of the stop-area layer: bbox tile assignment
    (integer grid math), per-tile MVT encode of every overlapping
    octagon (deterministic feature order), then a decode round-trip —
    the per-feature rows (vertex counts, quantized coordinate sums,
    packed geometry payload bytes, property strings) are read from the
    DECODED tile. Scale shape: one shuffle on the tile key (exactly
    how a planet tiler parallelizes), each tile group builds its own
    bytes executor-side; no collect, no cross-tile state. MVT buffer
    semantics carry geometry past the tile edge, so no clipping is
    needed here (tile_clip_areas gates the clipping half)."""
    import pandas as pd

    import numpy as np

    from ..functions import mvt
    from ..geo import wkb as _wkb

    polys = datagen.stop_area_octagons(spark, sf_dir)
    k = F.col("relation_id")
    cxi = (F.lit(-2000) + 1000 * (k % 5)).cast("long")
    cyi = (F.lit(-2000) + 1000 * F.expr("relation_id div 5")).cast("long")
    cand = (
        polys.withColumn("cx", cxi)
        .withColumn("cy", cyi)
        .withColumn(
            "tile_x",
            F.explode(
                F.sequence(
                    F.expr("(cx - 451 + 20000) div 2000") - 10,
                    F.expr("(cx + 451 + 20000) div 2000") - 10,
                )
            ),
        )
        .withColumn(
            "tile_y",
            F.explode(
                F.sequence(
                    F.expr("(cy - 451 + 20000) div 2000") - 10,
                    F.expr("(cy + 451 + 20000) div 2000") - 10,
                )
            ),
        )
    )

    def _tile(pdf: pd.DataFrame) -> pd.DataFrame:
        tx = int(pdf["tile_x"].iloc[0])
        ty = int(pdf["tile_y"].iloc[0])
        feats = []
        order = sorted(
            zip(pdf["relation_id"], pdf["geom"]), key=lambda t: int(t[0])
        )
        for rid, blob in order:
            # the same integer quantizer the .mvt tile sink uses
            # (sources/mvtiles.py::quantize_ring)
            from ..sources.mvtiles import quantize_ring

            q = quantize_ring(_wkb.decode(bytes(blob)).ring(0), tx, ty)
            feats.append((int(rid), [q], {"name": f"rel_{int(rid)}"}))
        buf = mvt.encode_tile("stop_areas", feats)
        out = []
        for f in mvt.decode_tile(buf)[0]["features"]:
            ring = f["rings"][0]
            out.append(
                (
                    tx,
                    ty,
                    int(f["id"]),
                    int(len(ring)),
                    int(ring[:, 0].sum()),
                    int(ring[:, 1].sum()),
                    int(f["geom_len"]),
                    f["props"]["name"],
                )
            )
        return pd.DataFrame(
            out,
            columns=[
                "tile_x", "tile_y", "relation_id", "n_vertices",
                "sum_qx", "sum_qy", "geom_len", "name",
            ],
        )

    return (
        cand.groupBy("tile_x", "tile_y")
        .applyInPandas(
            _tile,
            "tile_x int, tile_y int, relation_id bigint, n_vertices int,"
            " sum_qx bigint, sum_qy bigint, geom_len int, name string",
        )
        .orderBy("tile_x", "tile_y", "relation_id")
    )


# Local Moran's I hotspot statistic (LISA / Getis-Ord family): the
# spatial-autocorrelation screen a geo analytics stack runs over a
# density grid ("is this cell's load correlated with its neighbors,
# or noise?"). ALL-INTEGER trick: with dev_i = N*x_i - S (N cells,
# S total events), the local Moran numerator scales to
# dev_i * sum(dev_j over 8-adjacent observed cells) — exact BIGINTs
# both engines reproduce bit-for-bit, no means or variances cross
# engines. Coordinates use 5e-5-degree integer units (lon*20000 =
# -5000 + 5*m exactly) so cell assignment is pure integer floor-div.
@register_extra(
    "local_moran_hotspots",
    """
    WITH p AS (
      SELECT ((-5000 + 5 * ((event_id * 37 + 11) % 2000)) + 1000000)
               // 1000 - 1000 AS cx,
             ((-5000 + 5 * ((event_id * 73 + 29) % 2000)) + 1000000)
               // 1000 - 1000 AS cy
      FROM events
    ),
    cells AS (SELECT cx, cy, count(*) AS x FROM p GROUP BY cx, cy),
    st AS (SELECT count(*) AS n, sum(x) AS s FROM cells),
    dv AS (
      SELECT cx, cy, x, st.n * x - st.s AS dev FROM cells CROSS JOIN st
    ),
    offs(dx, dy) AS (VALUES
      (-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)
    ),
    nb AS (
      SELECT a.cx, a.cy,
             count(b.cx) AS n_neighbors,
             COALESCE(sum(b.dev), 0) AS nb_dev_sum
      FROM dv a
      CROSS JOIN offs o
      LEFT JOIN dv b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
      GROUP BY a.cx, a.cy
    )
    SELECT CAST(d.cx AS INT) AS cell_x, CAST(d.cy AS INT) AS cell_y,
           CAST(d.x AS BIGINT) AS n_events,
           CAST(d.dev AS BIGINT) AS dev,
           CAST(nb.n_neighbors AS INT) AS n_neighbors,
           CAST(nb.nb_dev_sum AS BIGINT) AS nb_dev_sum,
           CAST(d.dev * nb.nb_dev_sum AS BIGINT) AS i_scaled,
           d.dev > 0 AND nb.nb_dev_sum > 0 AS hotspot
    FROM dv d JOIN nb ON nb.cx = d.cx AND nb.cy = d.cy
    ORDER BY cell_x, cell_y
    """,
)
def local_moran_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell local Moran hotspot screen over the 0.05-degree event
    grid. Scale shape: one groupBy builds the density grid (rows
    collapse from 10^12 events to the cell count), the global (N, S)
    pair rides a broadcast 1-row aggregate, and the neighborhood sum is
    an 8-way offset explode + self equi-join ON CELL KEYS — grid-sized,
    never event-sized, the same halo-exchange shape as
    focal_stats36."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cx = F.expr(
        "((-5000 + 5 * ((event_id * 37 + 11) % 2000)) + 1000000)"
        " div 1000 - 1000"
    )
    cy = F.expr(
        "((-5000 + 5 * ((event_id * 73 + 29) % 2000)) + 1000000)"
        " div 1000 - 1000"
    )
    cells = (
        ev.select(cx.alias("cx"), cy.alias("cy"))
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("x"))
    )
    st = cells.agg(
        F.count("*").alias("n"), F.sum("x").alias("s")
    )
    dv = cells.crossJoin(F.broadcast(st)).select(
        "cx", "cy", "x", (F.col("n") * F.col("x") - F.col("s")).alias("dev")
    )
    offs = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]
    probes = dv.select(
        "cx",
        "cy",
        F.explode(
            F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx, dy in offs])
        ).alias("o"),
    ).select(
        "cx", "cy",
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    )
    nbr = dv.select(
        F.col("cx").alias("nx"), F.col("cy").alias("ny"), F.col("dev").alias("ndev")
    )
    nb = (
        probes.join(nbr, ["nx", "ny"], "left")
        .groupBy("cx", "cy")
        .agg(
            F.count("ndev").alias("n_neighbors"),
            F.coalesce(F.sum("ndev"), F.lit(0)).alias("nb_dev_sum"),
        )
    )
    return (
        dv.join(nb, ["cx", "cy"])
        .select(
            F.col("cx").cast("int").alias("cell_x"),
            F.col("cy").cast("int").alias("cell_y"),
            F.col("x").cast("bigint").alias("n_events"),
            F.col("dev").cast("bigint").alias("dev"),
            F.col("n_neighbors").cast("int").alias("n_neighbors"),
            F.col("nb_dev_sum").cast("bigint").alias("nb_dev_sum"),
            (F.col("dev") * F.col("nb_dev_sum")).cast("bigint").alias("i_scaled"),
            ((F.col("dev") > 0) & (F.col("nb_dev_sum") > 0)).alias("hotspot"),
        )
        .orderBy("cell_x", "cell_y")
    )


# map matching: the trajectory-level composition of the gated snap
# (linear referencing) and the gaps-and-islands run merge — per-user
# ordered GPS points become EDGE TRAVERSAL INTERVALS, the deliverable
# a routing/ETA pipeline consumes. frac is rounded per point BEFORE
# the run min/max so both engines aggregate identical doubles.
@register_extra(
    "map_match_traversals",
    f"""
    WITH p0 AS ({datagen.SQL_POINTS}),
    p AS (
      SELECT p0.event_id, p0.lon, p0.lat, e2.user_id, e2.ts
      FROM p0 JOIN events e2 ON e2.event_id = p0.event_id
    ),
    e AS ({datagen.SQL_EDGE_SEGMENTS}),
    c AS (
      SELECT p.event_id, p.user_id, p.ts, e.edge_id, p.lon, p.lat,
             e.ax, e.ay, e.bx - e.ax AS dx, e.by - e.ay AS dy
      FROM p CROSS JOIN e
    ),
    t0 AS (SELECT *, dx * dx + dy * dy AS seg2 FROM c),
    t1 AS (
      SELECT *, CASE WHEN seg2 = 0 THEN CAST(0 AS DOUBLE)
        ELSE least(greatest(((lon - ax) * dx + (lat - ay) * dy) / seg2,
                            CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE)) END AS t
      FROM t0
    ),
    d AS (
      SELECT event_id, user_id, ts, edge_id, t,
        (lon - (ax + t * dx)) * (lon - (ax + t * dx))
        + (lat - (ay + t * dy)) * (lat - (ay + t * dy)) AS d2
      FROM t1
    ),
    r AS (
      SELECT event_id, user_id, ts, edge_id, round(t, 6) AS frac,
        row_number() OVER (PARTITION BY event_id ORDER BY d2, edge_id)
          AS rn
      FROM d
    ),
    s AS (
      SELECT user_id, ts, edge_id, frac,
             epoch_us(ts) - epoch_us(TIMESTAMP '2024-01-01 00:00:00')
               AS ts_us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id)
             - row_number() OVER (PARTITION BY user_id, edge_id
                                  ORDER BY ts, event_id) AS grp
      FROM r WHERE rn = 1
    ),
    runs AS (
      SELECT user_id, edge_id,
             count(*) AS n_points,
             min(frac) AS frac_min, max(frac) AS frac_max,
             min(ts_us) AS t_start_us, max(ts_us) AS t_end_us
      FROM s GROUP BY user_id, edge_id, grp
    )
    SELECT CAST(user_id AS BIGINT) AS user_id,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY t_start_us) - 1 AS INT)
             AS run_idx,
           CAST(edge_id AS BIGINT) AS edge_id,
           CAST(n_points AS INT) AS n_points,
           frac_min, frac_max,
           CAST(t_start_us AS BIGINT) AS t_start_us,
           CAST(t_end_us AS BIGINT) AS t_end_us
    FROM runs ORDER BY user_id, run_idx
    """,
)
def map_match_traversals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map matching: per-user trajectories snapped onto the edge layer
    (the gated linear-referencing kernel), consecutive same-edge points
    merged into traversal runs (gaps-and-islands, order pinned on
    ts/event_id) with entry/exit fractions and times. Scale shape: the
    snap is the broadcast map-side pass; the ONLY shuffle is the
    user_id window — the trajectory key the event log would already be
    bucketed by. Runs are numbered per user by start time, so the
    output is the edge-sequence a router replays."""
    from pyspark.sql import Window

    snapped = _snapped_points(spark, sf_dir, keep=("user_id", "ts"))
    ts_us = F.expr(
        "timestampdiff(MICROSECOND, timestamp_ntz'2024-01-01 00:00:00', ts)"
    )
    base = snapped.select(
        "user_id",
        "edge_id",
        F.round("t", 6).alias("frac"),
        ts_us.alias("ts_us"),
        "ts",
        "event_id",
    )
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_edge = Window.partitionBy("user_id", "edge_id").orderBy(
        "ts", "event_id"
    )
    s = base.withColumn(
        "grp", F.row_number().over(w_all) - F.row_number().over(w_edge)
    )
    runs = s.groupBy("user_id", "edge_id", "grp").agg(
        F.count("*").alias("n_points"),
        F.min("frac").alias("frac_min"),
        F.max("frac").alias("frac_max"),
        F.min("ts_us").alias("t_start_us"),
        F.max("ts_us").alias("t_end_us"),
    )
    w_run = Window.partitionBy("user_id").orderBy("t_start_us")
    return (
        runs.select(
            F.col("user_id").cast("bigint").alias("user_id"),
            (F.row_number().over(w_run) - 1).cast("int").alias("run_idx"),
            F.col("edge_id").cast("bigint").alias("edge_id"),
            F.col("n_points").cast("int").alias("n_points"),
            "frac_min",
            "frac_max",
            F.col("t_start_us").cast("bigint").alias("t_start_us"),
            F.col("t_end_us").cast("bigint").alias("t_end_us"),
        )
        .orderBy("user_id", "run_idx")
    )


def _poly_validity_oracle() -> str:
    """Independent relational derivation of polygon_validity: vertex
    rows from a template x jitter cross join, segment self-join pairs,
    integer cross-product sign tests (the Spark side is the array/
    higher-order-function derivation — two formulations cross-check
    each other, triangle-counting style)."""
    return """
    WITH o AS (SELECT o_orderkey AS poly_id FROM orders),
    m AS (
      SELECT poly_id,
             CASE WHEN poly_id % 7 = 0 THEN 'bowtie'
                  WHEN poly_id % 13 = 0 THEN 'dup'
                  WHEN poly_id % 11 = 0 THEN 'rev'
                  ELSE 'none' END AS mut
      FROM o
    ),
    kk AS (SELECT range AS k FROM range(8)),
    mi AS (
      SELECT poly_id, k,
             CASE WHEN mut = 'bowtie' AND k = 2 THEN 5
                  WHEN mut = 'bowtie' AND k = 5 THEN 2
                  WHEN mut = 'dup' AND k = 3 THEN 2
                  WHEN mut = 'rev' THEN (8 - k) % 8
                  ELSE k END AS mk
      FROM m CROSS JOIN kk
    ),
    v AS (
      SELECT poly_id, k,
             ([200,141,0,-141,-200,-141,0,141])[mk + 1]
               * (50 + (poly_id * 31 + mk * 17) % 100) AS x,
             ([0,141,200,141,0,-141,-200,-141])[mk + 1]
               * (50 + (poly_id * 31 + mk * 17) % 100) AS y
      FROM mi
    ),
    s AS (
      SELECT a.poly_id, a.k, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
      FROM v a JOIN v b ON b.poly_id = a.poly_id AND b.k = (a.k + 1) % 8
    ),
    area AS (
      SELECT poly_id, sum(x1 * y2 - x2 * y1) AS two_a,
             max(CASE WHEN x1 = x2 AND y1 = y2 THEN 1 ELSE 0 END) AS dup
      FROM s GROUP BY poly_id
    ),
    pq AS (
      SELECT s1.poly_id,
        (s2.x2 - s2.x1) * (s1.y1 - s2.y1)
          - (s2.y2 - s2.y1) * (s1.x1 - s2.x1) AS d1,
        (s2.x2 - s2.x1) * (s1.y2 - s2.y1)
          - (s2.y2 - s2.y1) * (s1.x2 - s2.x1) AS d2,
        (s1.x2 - s1.x1) * (s2.y1 - s1.y1)
          - (s1.y2 - s1.y1) * (s2.x1 - s1.x1) AS d3,
        (s1.x2 - s1.x1) * (s2.y2 - s1.y1)
          - (s1.y2 - s1.y1) * (s2.x2 - s1.x1) AS d4
      FROM s s1 JOIN s s2 ON s2.poly_id = s1.poly_id
           AND s2.k > s1.k + 1 AND NOT (s1.k = 0 AND s2.k = 7)
    ),
    xi AS (
      SELECT poly_id,
             max(CASE WHEN ((d1 > 0 AND d2 < 0) OR (d1 < 0 AND d2 > 0))
                       AND ((d3 > 0 AND d4 < 0) OR (d3 < 0 AND d4 > 0))
                 THEN 1 ELSE 0 END) AS si
      FROM pq GROUP BY poly_id
    )
    SELECT a.poly_id, CAST(a.two_a AS BIGINT) AS two_a,
           a.two_a > 0 AS is_ccw, a.dup = 1 AS has_dup_vertex,
           xi.si = 1 AS self_intersects
    FROM area a JOIN xi ON xi.poly_id = a.poly_id
    ORDER BY a.poly_id
    """


@register_extra("polygon_validity", _poly_validity_oracle())
def polygon_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST_IsValid-style polygon QA screen (the geometry-pipeline health
    check an OSM ingest runs before geometry assembly): signed area /
    ring orientation, duplicate consecutive vertices, and PROPER
    self-intersection via integer cross-product sign tests — exact,
    no epsilon, no floats. Corpus: one radial octagon per `orders` row
    (monotone angles => provably simple) with deterministic injected
    damage: %7 rows get a bowtie vertex swap (must flag
    self_intersects), %13 a duplicated vertex, %11 a reversed (CW)
    ring. Spark derivation is pure higher-order array functions — one
    codegen projection, ZERO shuffles, no Python; the oracle re-derives
    everything relationally (vertex/segment joins), so the two
    formulations cross-check each other."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.col("o_orderkey").alias("poly_id")
    )
    d = o.withColumn(
        "mut",
        F.when(F.col("poly_id") % 7 == 0, "bowtie")
        .when(F.col("poly_id") % 13 == 0, "dup")
        .when(F.col("poly_id") % 11 == 0, "rev")
        .otherwise("none"),
    ).withColumn(
        "midx",
        F.expr(
            "transform(sequence(0, 7), k -> CASE"
            " WHEN mut = 'bowtie' AND k = 2 THEN 5"
            " WHEN mut = 'bowtie' AND k = 5 THEN 2"
            " WHEN mut = 'dup' AND k = 3 THEN 2"
            " WHEN mut = 'rev' THEN pmod(8 - k, 8)"
            " ELSE k END)"
        ),
    )
    tx = "array(200,141,0,-141,-200,-141,0,141)"
    ty = "array(0,141,200,141,0,-141,-200,-141)"
    jit = "(50 + pmod(poly_id * 31 + m * 17, 100))"
    d = d.withColumn(
        "xs", F.expr(f"transform(midx, m -> element_at({tx}, m + 1) * {jit})")
    ).withColumn(
        "ys", F.expr(f"transform(midx, m -> element_at({ty}, m + 1) * {jit})")
    )
    # shifted endpoint arrays: segment k = (xs[k],ys[k])-(xs2[k],ys2[k])
    d = d.withColumn(
        "xs2",
        F.expr("transform(sequence(0, 7), k -> element_at(xs, pmod(k + 1, 8) + 1))"),
    ).withColumn(
        "ys2",
        F.expr("transform(sequence(0, 7), k -> element_at(ys, pmod(k + 1, 8) + 1))"),
    )
    two_a = (
        "aggregate(sequence(0, 7), 0L, (acc, k) -> acc"
        " + element_at(xs, k + 1) * element_at(ys2, k + 1)"
        " - element_at(xs2, k + 1) * element_at(ys, k + 1))"
    )
    dup = (
        "exists(sequence(0, 7), k ->"
        " element_at(xs, k + 1) = element_at(xs2, k + 1)"
        " AND element_at(ys, k + 1) = element_at(ys2, k + 1))"
    )
    # non-adjacent segment pairs (cyclic): j >= i+2, excluding (0, 7).
    # NB sequence(a, b) with a > b steps DOWNWARD in Spark, so the j
    # range must be full 0..7 with the j >= i+2 bound in the filter.
    pairs = (
        "filter(flatten(transform(sequence(0, 6), i ->"
        " transform(sequence(0, 7), j -> named_struct('i', i, 'j', j)))),"
        " p -> p.j >= p.i + 2 AND NOT (p.i = 0 AND p.j = 7))"
    )

    def seg(arr: str, idx: str) -> str:
        return f"element_at({arr}, p.{idx} + 1)"

    ax, ay = seg("xs", "i"), seg("ys", "i")
    bx, by = seg("xs2", "i"), seg("ys2", "i")
    cx, cy = seg("xs", "j"), seg("ys", "j")
    dx, dy = seg("xs2", "j"), seg("ys2", "j")

    def cross(px, py, qx, qy, rx, ry):
        return f"(({qx} - {px}) * ({ry} - {py}) - ({qy} - {py}) * ({rx} - {px}))"

    d1 = cross(cx, cy, dx, dy, ax, ay)
    d2 = cross(cx, cy, dx, dy, bx, by)
    d3 = cross(ax, ay, bx, by, cx, cy)
    d4 = cross(ax, ay, bx, by, dx, dy)
    si = (
        f"exists({pairs}, p ->"
        f" (({d1} > 0 AND {d2} < 0) OR ({d1} < 0 AND {d2} > 0))"
        f" AND (({d3} > 0 AND {d4} < 0) OR ({d3} < 0 AND {d4} > 0)))"
    )
    return (
        d.select(
            "poly_id",
            F.expr(two_a).cast("bigint").alias("two_a"),
            F.expr(f"{two_a} > 0").alias("is_ccw"),
            F.expr(dup).alias("has_dup_vertex"),
            F.expr(si).alias("self_intersects"),
        )
        .orderBy("poly_id")
    )


@register_extra(
    "trajectory_hausdorff_pairs",
    """
    WITH p AS (
      SELECT user_id AS u,
             (event_id * 37 + 11) % 2000 AS qx,
             (event_id * 73 + 29) % 2000 AS qy
      FROM events
    ),
    d1 AS (
      SELECT a.u AS ua, b.u AS ub, a.qx, a.qy,
             min((a.qx - b.qx) * (a.qx - b.qx)
               + (a.qy - b.qy) * (a.qy - b.qy)) AS m
      FROM p a JOIN p b ON b.u = a.u + 1
      GROUP BY a.u, b.u, a.qx, a.qy
    ),
    h1 AS (SELECT ua, ub, max(m) AS h FROM d1 GROUP BY 1, 2),
    d2 AS (
      SELECT b.u AS ua, a.u AS ub, a.qx, a.qy,
             min((a.qx - b.qx) * (a.qx - b.qx)
               + (a.qy - b.qy) * (a.qy - b.qy)) AS m
      FROM p a JOIN p b ON b.u = a.u - 1
      GROUP BY b.u, a.u, a.qx, a.qy
    ),
    h2 AS (SELECT ua, ub, max(m) AS h FROM d2 GROUP BY 1, 2)
    SELECT h1.ua AS user_a, h1.ub AS user_b,
           CAST(greatest(h1.h, h2.h) AS BIGINT) AS hausdorff2
    FROM h1 JOIN h2 ON h2.ua = h1.ua AND h2.ub = h1.ub
    ORDER BY user_a
    """,
)
def trajectory_hausdorff_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory-similarity join: exact symmetric HAUSDORFF distance
    (squared, in integer LCG grid units — 1/4000 deg per unit, the
    same geotag rule every PIP/kNN query uses, kept integer so the
    sup-inf itself is hash-gated with zero float risk) between
    consecutive-user point-set pairs. Directed distance = max over a's
    points of the min squared distance into b; symmetric = greatest of
    both directions. The consecutive-id pair generator keeps the
    oracle linear (ngram_jaccard convention) — in production the
    candidate pairs come from the cell-grid prefilter the DWithin join
    already implements, and each (pair) x (points^2) block is a
    map-side nested loop after one co-partitioning shuffle on the
    pair key."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = ev.select(
        F.col("user_id").alias("u"),
        ((F.col("event_id") * 37 + 11) % 2000).alias("qx"),
        ((F.col("event_id") * 73 + 29) % 2000).alias("qy"),
    )
    a = p.select(
        F.col("u").alias("ua"), F.col("qx").alias("ax"), F.col("qy").alias("ay")
    )
    b = p.select(
        F.col("u").alias("ub"), F.col("qx").alias("bx"), F.col("qy").alias("by")
    )

    def directed(src, dst, sid, did, sx, sy, dx, dy):
        j = src.join(dst, F.col(did) == F.col(sid) + 1)
        d2 = (F.col(sx) - F.col(dx)) * (F.col(sx) - F.col(dx)) + (
            F.col(sy) - F.col(dy)
        ) * (F.col(sy) - F.col(dy))
        mins = j.groupBy(sid, did, sx, sy).agg(F.min(d2).alias("m"))
        return mins.groupBy(sid, did).agg(F.max("m").alias("h"))

    # a -> b: a's users are the LOWER id of each pair
    h1 = directed(a, b, "ua", "ub", "ax", "ay", "bx", "by").select(
        F.col("ua").alias("user_a"), F.col("ub").alias("user_b"),
        F.col("h").alias("h1"),
    )
    # b -> a: b's users are the HIGHER id; direction b into a
    bb = p.select(
        F.col("u").alias("ub"), F.col("qx").alias("bx"), F.col("qy").alias("by")
    )
    aa = p.select(
        F.col("u").alias("ua"), F.col("qx").alias("ax"), F.col("qy").alias("ay")
    )
    j2 = bb.join(aa, F.col("ub") == F.col("ua") + 1)
    d2b = (F.col("bx") - F.col("ax")) * (F.col("bx") - F.col("ax")) + (
        F.col("by") - F.col("ay")
    ) * (F.col("by") - F.col("ay"))
    h2 = (
        j2.groupBy("ua", "ub", "bx", "by")
        .agg(F.min(d2b).alias("m"))
        .groupBy("ua", "ub")
        .agg(F.max("m").alias("h2"))
        .select(
            F.col("ua").alias("user_a"), F.col("ub").alias("user_b"), "h2"
        )
    )
    return (
        h1.join(h2, ["user_a", "user_b"])
        .select(
            "user_a",
            "user_b",
            F.greatest("h1", "h2").cast("bigint").alias("hausdorff2"),
        )
        .orderBy("user_a")
    )


@register_extra(
    "polyline_simplify_dp",
    """
    WITH RECURSIVE pts AS (
      SELECT user_id AS u,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1
               AS i,
             (event_id * 37 + 11) % 2000 AS x,
             (event_id * 73 + 29) % 2000 AS y
      FROM events
    ),
    ends AS (SELECT u, max(i) AS last FROM pts GROUP BY 1),
    seg(u, lo, hi) AS (
      SELECT u, CAST(0 AS BIGINT), last FROM ends
      UNION ALL
      SELECT c.u,
             CASE WHEN k.k = 0 THEN c.lo ELSE c.m END,
             CASE WHEN k.k = 0 THEN c.m ELSE c.hi END
      FROM (
        SELECT s.u, s.lo, s.hi, d.m
        FROM seg s
        JOIN pts a ON a.u = s.u AND a.i = s.lo
        JOIN pts b ON b.u = s.u AND b.i = s.hi
        JOIN LATERAL (
          SELECT m, cr FROM (
            SELECT p.i AS m,
                   ((p.x - a.x) * (b.y - a.y)
                    - (p.y - a.y) * (b.x - a.x)) AS cr
            FROM pts p
            WHERE p.u = s.u AND p.i > s.lo AND p.i < s.hi
          ) ORDER BY cr * cr DESC, m ASC LIMIT 1
        ) d ON true
        WHERE s.hi > s.lo + 1
          AND ((b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y)) > 0
          AND d.cr * d.cr
              > 250000 * ((b.x-a.x)*(b.x-a.x) + (b.y-a.y)*(b.y-a.y))
      ) c, (VALUES (0), (1)) k(k)
    ),
    kept AS (
      SELECT DISTINCT u, i FROM (
        SELECT u, lo AS i FROM seg UNION ALL SELECT u, hi AS i FROM seg
      )
    )
    SELECT CAST(k.u AS BIGINT) AS user_id, CAST(k.i AS BIGINT) AS seq,
           CAST(p.x AS BIGINT) AS qx, CAST(p.y AS BIGINT) AS qy
    FROM kept k JOIN pts p ON p.u = k.u AND p.i = k.i
    ORDER BY user_id, seq
    """,
)
def polyline_simplify_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Douglas-Peucker trajectory simplification (ST_Simplify's
    algorithm — geo/kernel.py:252 runs the float variant transitively
    inside the envelope chain; THIS variant is exact-integer so the
    kept-point set itself is hash-gated). Per-user event trails on the
    LCG grid (the hausdorff/teleport rule); deviation tests compare
    cross(A,B,P)^2 > tol^2 * |AB|^2 in int64 (tol = 500 grid units) —
    no sqrt, no division, no float anywhere, so Spark and the DuckDB
    recursive-CTE oracle split at EXACTLY the same points (argmax
    tie-break: smallest index; coincident endpoints never split — both
    rules mirrored in the oracle's LATERAL). Scale shape: one groupBy
    shuffle co-locates each trajectory, then the recursion is a
    map-side numpy stack per group (vectorized cross products per
    split, no Python-per-point work); trajectories are bounded
    (per-vehicle/day in production), so no group outgrows a task. The
    27040-segment recursion the oracle runs is the same work the
    executor does — only distributed."""
    import pandas as pd

    import numpy as np

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.select(
        "user_id",
        "event_id",
        ((F.col("event_id") * 37 + 11) % 2000).alias("qx"),
        ((F.col("event_id") * 73 + 29) % 2000).alias("qy"),
    )

    TOL2 = 250000  # (500 grid units)^2

    def _simplify(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("event_id").reset_index(drop=True)
        x = pdf["qx"].to_numpy(np.int64)
        y = pdf["qy"].to_numpy(np.int64)
        n = len(x)
        keep = np.zeros(n, dtype=bool)
        keep[0] = keep[n - 1] = True
        stack = [(0, n - 1)]
        while stack:
            lo, hi = stack.pop()
            if hi <= lo + 1:
                continue
            dx = x[hi] - x[lo]
            dy = y[hi] - y[lo]
            len2 = int(dx * dx + dy * dy)
            if len2 == 0:
                # coincident endpoints: deterministic no-split rule,
                # mirrored by the oracle's len2 > 0 guard
                continue
            cr = (x[lo + 1 : hi] - x[lo]) * dy - (y[lo + 1 : hi] - y[lo]) * dx
            c2 = cr * cr
            m = int(np.argmax(c2))  # first max == smallest index
            if int(c2[m]) > TOL2 * len2:
                mi = lo + 1 + m
                keep[mi] = True
                stack.append((lo, mi))
                stack.append((mi, hi))
        idx = np.flatnonzero(keep)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].iloc[0],
                "seq": idx.astype(np.int64),
                "qx": x[idx],
                "qy": y[idx],
            }
        )

    return (
        pts.groupBy("user_id")
        .applyInPandas(
            _simplify, "user_id bigint, seq bigint, qx bigint, qy bigint"
        )
        .orderBy("user_id", "seq")
    )


@register_extra(
    "convex_hull_metrics",
    """
    WITH pts AS (
      SELECT DISTINCT user_id AS u,
             (event_id * 37 + 11) % 2000 AS x,
             (event_id * 73 + 29) % 2000 AS y
      FROM events WHERE event_id % 2 = 0
    ),
    edges AS (
      SELECT u, ax, ay, bx, by2
      FROM (
        SELECT a.u AS u, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by2,
               coalesce(bool_and(
                 ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x)) > 0
                 OR (
                   ((b.x - a.x) * (p.y - a.y)
                    - (b.y - a.y) * (p.x - a.x)) = 0
                   AND ((p.x - a.x) * (b.x - a.x)
                        + (p.y - a.y) * (b.y - a.y)) >= 0
                   AND ((p.x - a.x) * (b.x - a.x)
                        + (p.y - a.y) * (b.y - a.y))
                       <= ((b.x - a.x) * (b.x - a.x)
                           + (b.y - a.y) * (b.y - a.y))
                 )
               ), true) AS ok
        FROM pts a
        JOIN pts b ON b.u = a.u AND (b.x <> a.x OR b.y <> a.y)
        LEFT JOIN pts p ON p.u = a.u AND (p.x <> a.x OR p.y <> a.y)
                       AND (p.x <> b.x OR p.y <> b.y)
        GROUP BY 1, 2, 3, 4, 5
      ) WHERE ok
    ),
    metrics AS (
      SELECT u, count(DISTINCT ax * 2000 + ay) AS hull_n,
             sum(ax * by2 - bx * ay) AS two_area
      FROM edges GROUP BY 1
    ),
    diam AS (
      SELECT a.u,
             max((a.x - b.x) * (a.x - b.x)
               + (a.y - b.y) * (a.y - b.y)) AS diam2
      FROM pts a JOIN pts b ON b.u = a.u GROUP BY 1
    )
    SELECT CAST(v.u AS BIGINT) AS user_id, CAST(v.ax AS BIGINT) AS qx,
           CAST(v.ay AS BIGINT) AS qy, CAST(m.hull_n AS BIGINT) AS hull_n,
           CAST(m.two_area AS BIGINT) AS two_area,
           CAST(d.diam2 AS BIGINT) AS diam2
    FROM (SELECT DISTINCT u, ax, ay FROM edges) v
    JOIN metrics m ON m.u = v.u
    JOIN diam d ON d.u = v.u
    ORDER BY user_id, qx, qy
    """,
)
def convex_hull_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group convex hull (ST_ConvexHull analogue — the float variant
    already runs transitively inside geo/kernel.py::oriented_envelope's
    est_width chain; THIS variant is exact-integer so the hull vertex
    SET, the shoelace area and the squared diameter are themselves
    hash-gated). Points are the per-user LCG grid trails every
    trajectory query shares (event_id % 2 subsample keeps the oracle's
    O(n^3) maximal-edge scan linear-ish at gate scale). Strictness rule
    mirrored on both engines: a hull VERTEX is a strict corner —
    points lying inside an edge (collinear runs) are NOT vertices; the
    oracle finds directed CCW edges (all other points strictly left,
    or collinear AND between the endpoints) and Spark reuses
    kernel.convex_hull, whose monotone chain pops on cross <= 0 (int64
    all the way — coordinates < 2^11, so every cross/dot fits exactly).
    two_area = sum of cross terms over the directed CCW edge cycle ==
    the shoelace sum, orientation-positive; degenerate all-collinear
    groups contribute the two extreme endpoints and area 0 in both
    engines. diam2 is max pairwise squared distance — attained at hull
    vertices, so Spark scans the h x h hull block while the oracle
    scans all pairs (equal by convexity). Scale shape: ONE
    co-partitioning shuffle on the group key (payload 3 ints/row),
    then each hull is a map-side numpy kernel over a bounded group
    (per-vehicle/day trails in production); no all-pairs stage ever
    leaves a task."""
    import numpy as np
    import pandas as pd

    from ..geo.kernel import convex_hull

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.filter(F.col("event_id") % 2 == 0).select(
        "user_id",
        ((F.col("event_id") * 37 + 11) % 2000).alias("qx"),
        ((F.col("event_id") * 73 + 29) % 2000).alias("qy"),
    )

    def _hull(pdf: pd.DataFrame) -> pd.DataFrame:
        P = np.unique(pdf[["qx", "qy"]].to_numpy(np.int64), axis=0)
        h = convex_hull(P)
        if len(h) < 2:  # single distinct point: no edges on either engine
            return pd.DataFrame(
                {c: [] for c in
                 ("user_id", "qx", "qy", "hull_n", "two_area", "diam2")}
            )
        x = h[:, 0].astype(np.int64)
        y = h[:, 1].astype(np.int64)
        xn = np.roll(x, -1)
        yn = np.roll(y, -1)
        two_a = int((x * yn - xn * y).sum())
        dx = x[:, None] - x[None, :]
        dy = y[:, None] - y[None, :]
        d2 = int((dx * dx + dy * dy).max())
        order = np.lexsort((y, x))
        return pd.DataFrame(
            {
                "user_id": int(pdf["user_id"].iloc[0]),
                "qx": x[order],
                "qy": y[order],
                "hull_n": len(h),
                "two_area": two_a,
                "diam2": d2,
            }
        )

    return (
        pts.groupBy("user_id")
        .applyInPandas(
            _hull,
            "user_id bigint, qx bigint, qy bigint, hull_n bigint,"
            " two_area bigint, diam2 bigint",
        )
        .orderBy("user_id", "qx", "qy")
    )


@register_extra(
    "hilbert_tile_rollup",
    """
    WITH RECURSIVE cells AS (
      SELECT (qx // 8) AS cx, (qy // 8) AS cy, count(*) AS n
      FROM (SELECT (event_id * 37 + 11) % 2000 AS qx,
                   (event_id * 73 + 29) % 2000 AS qy FROM events)
      GROUP BY 1, 2),
    h(cx, cy, x, y, s, d) AS (
      SELECT cx, cy, cx, cy, 128, CAST(0 AS BIGINT) FROM cells
      UNION ALL
      SELECT cx, cy,
        CASE WHEN (y & s) = 0 THEN
          CASE WHEN (x & s) <> 0 THEN 255 - y ELSE y END
        ELSE x END,
        CASE WHEN (y & s) = 0 THEN
          CASE WHEN (x & s) <> 0 THEN 255 - x ELSE x END
        ELSE y END,
        s // 2,
        d + s * s * CAST(xor(3 * CASE WHEN (x & s) <> 0 THEN 1 ELSE 0 END,
                             CASE WHEN (y & s) <> 0 THEN 1 ELSE 0 END)
                         AS BIGINT)
      FROM h WHERE s > 0),
    hd AS (SELECT cx, cy, d FROM h WHERE s = 0)
    SELECT CAST(hd.d // 256 AS BIGINT) AS bucket,
           CAST(sum(c.n) AS BIGINT) AS n_pts,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(min(hd.d) AS BIGINT) AS min_d,
           CAST(max(hd.d) AS BIGINT) AS max_d
    FROM hd JOIN cells c ON c.cx = hd.cx AND c.cy = hd.cy
    GROUP BY 1 ORDER BY 1
    """,
)
def hilbert_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve spatial index rollup — the locality-preserving
    bulk-load sort key (Iceberg/Delta `hilbert_curve` write ordering;
    image_bbox_zorder gates the Morton sibling). Geotags on the shared
    integer LCG grid quantize to a 250x250 cell lattice inside the
    order-8 (256^2) Hilbert domain; every curve distance d is
    hash-gated bucket-wise (count / distinct cells / min / max per
    256-wide d-range) against a DuckDB RECURSIVE-CTE twin that runs the
    identical reflect+swap bit recursion in SQL. Integer-exact at any
    order <= 31 (functions/hilbert.py), so the two engines cannot drift.

    Scale shape: points aggregate to the CELL dimension first (one
    partial-agg shuffle keyed by the 2-int cell id — the payload never
    includes geometry or image bytes); the curve encode then runs ONCE
    per distinct cell as a single vectorized numpy pass over that
    bounded dim via mapInPandas, and the bucket rollup is a second
    tiny partial agg. The fact table never enters Python, and at
    planet scale the encode cost is O(distinct cells), not O(rows) —
    the same reason Iceberg sorts manifests by curve index rather than
    re-encoding every record batch."""
    import pandas as pd

    from ..functions.hilbert import hilbert_d

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cells = (
        ev.select(
            (((F.col("event_id") * 37 + 11) % 2000) / 8)
            .cast("long")
            .alias("cx"),
            (((F.col("event_id") * 73 + 29) % 2000) / 8)
            .cast("long")
            .alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("n"))
    )

    def _encode(batches):
        for pdf in batches:
            pdf = pdf.copy()
            pdf["d"] = hilbert_d(8, pdf["cx"].to_numpy(), pdf["cy"].to_numpy())
            yield pdf[["d", "n"]]

    enc = cells.mapInPandas(_encode, "d bigint, n bigint")
    return (
        enc.groupBy((F.col("d") / 256).cast("long").alias("bucket"))
        .agg(
            F.sum("n").alias("n_pts"),
            F.count("*").alias("n_cells"),
            F.min("d").alias("min_d"),
            F.max("d").alias("max_d"),
        )
        .orderBy("bucket")
    )


@register_extra(
    "turn_angle_stats",
    """
    WITH p AS (
      SELECT event_id, user_id, ts,
             (event_id * 37 + 11) % 2000 AS ix,
             (event_id * 73 + 29) % 2000 AS iy
      FROM events
    ),
    w AS (
      SELECT user_id,
             ix - lag(ix) OVER win AS v1x, iy - lag(iy) OVER win AS v1y,
             lead(ix) OVER win - ix AS v2x, lead(iy) OVER win - iy AS v2y
      FROM p WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    t AS (
      SELECT user_id,
             v1x * v2y - v1y * v2x AS crs, v1x * v2x + v1y * v2y AS dt
      FROM w WHERE v1x IS NOT NULL AND v2x IS NOT NULL
    )
    SELECT user_id,
           count(*) AS n_vertices,
           count(*) FILTER (WHERE crs > 0) AS n_left,
           count(*) FILTER (WHERE crs < 0) AS n_right,
           count(*) FILTER (WHERE crs = 0) AS n_collinear,
           count(*) FILTER (WHERE dt < 0) AS n_sharp
    FROM t GROUP BY 1 ORDER BY user_id
    """,
)
def turn_angle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trajectory turn statistics in EXACT integer arithmetic: at
    every interior vertex of each user's time-ordered track, the turn
    direction is the sign of the 2D cross product of the incoming and
    outgoing step vectors ON THE INTEGER LCG LATTICE (|v| < 2000, so
    cross/dot < 8e6 — no floats, no atan2, hash-exact), and a turn is
    'sharp' when the dot product is negative (angle > 90 deg). The
    heading-change profile is the standard trajectory-quality /
    mode-inference feature (GPS jitter shows as sharp-turn excess).
    Scale shape: ONE window shuffle on the trajectory key (lag+lead in
    the same window), then map-side integer algebra and a partial-
    aggregable groupBy — the same single-shuffle discipline as
    trajectory_teleports. Zero-length steps give cross = dot = 0
    (counted collinear, never sharp) identically in both engines."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = ev.select(
        "event_id",
        "user_id",
        "ts",
        ((F.col("event_id") * 37 + 11) % 2000).alias("ix"),
        ((F.col("event_id") * 73 + 29) % 2000).alias("iy"),
    )
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = p.select(
        "user_id",
        (F.col("ix") - F.lag("ix").over(win)).alias("v1x"),
        (F.col("iy") - F.lag("iy").over(win)).alias("v1y"),
        (F.lead("ix").over(win) - F.col("ix")).alias("v2x"),
        (F.lead("iy").over(win) - F.col("iy")).alias("v2y"),
    ).filter(F.col("v1x").isNotNull() & F.col("v2x").isNotNull())
    t = w.select(
        "user_id",
        (F.col("v1x") * F.col("v2y") - F.col("v1y") * F.col("v2x")).alias("cr"),
        (F.col("v1x") * F.col("v2x") + F.col("v1y") * F.col("v2y")).alias("dt"),
    )
    return (
        t.groupBy("user_id")
        .agg(
            F.count("*").alias("n_vertices"),
            F.count(F.when(F.col("cr") > 0, 1)).alias("n_left"),
            F.count(F.when(F.col("cr") < 0, 1)).alias("n_right"),
            F.count(F.when(F.col("cr") == 0, 1)).alias("n_collinear"),
            F.count(F.when(F.col("dt") < 0, 1)).alias("n_sharp"),
        )
        .orderBy("user_id")
    )


@register_extra(
    "knox_spacetime",
    """
    WITH p AS (
      SELECT event_id, epoch_us(ts) AS us,
             ('0x' || substr(md5('kx:' || CAST(event_id AS VARCHAR)),
                             1, 7))::BIGINT % 2000 AS ix,
             ('0x' || substr(md5('ky:' || CAST(event_id AS VARCHAR)),
                             1, 7))::BIGINT % 2000 AS iy
      FROM events WHERE event_id % 20 = 0
    ),
    agg AS (
      SELECT count(*) AS n_pairs,
             count(*) FILTER (WHERE abs(a.ix - b.ix) <= 100
                                AND abs(a.iy - b.iy) <= 100) AS n_space,
             count(*) FILTER (WHERE abs(a.us - b.us) <= 86400000000)
               AS n_time,
             count(*) FILTER (WHERE abs(a.ix - b.ix) <= 100
                                AND abs(a.iy - b.iy) <= 100
                                AND abs(a.us - b.us) <= 86400000000)
               AS n_both
      FROM p a JOIN p b ON b.event_id > a.event_id
    )
    SELECT (SELECT count(*) FROM p) AS n_points,
           n_pairs, n_space, n_time, n_both,
           CAST(n_space * n_time * 1000 // n_pairs AS BIGINT) AS expected_e3,
           CAST(n_both * 1000 - n_space * n_time * 1000 // n_pairs AS BIGINT)
             AS excess_e3
    FROM agg
    """,
)
def knox_spacetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Knox space-time interaction statistic (the classic epidemiology
    / crime-analysis clustering test): of all point pairs, how many
    are close in space (Chebyshev <= 100 lattice units), close in time
    (<= 1 day), and close in BOTH — with the independence expectation
    n_space * n_time / n_pairs and the excess, in exact e-3 integers.
    Coordinates are md5-derived (the sampled LCG collapses to a
    sublattice where only exact repeats are near). Scale shape: Spark
    never forms the quadratic pair set — space-close pairs come from a
    9-neighbor-cell probe equi-join (cell = threshold-sized bucket, so
    the probe side explodes x9 but every qualifying pair is generated
    EXACTLY once under probe.id < home.id), time-close pairs from a
    same/next day-bucket join, and n_pairs from count() arithmetic —
    three partial-aggregable counts, no global window, no cartesian.
    The oracle IS the quadratic self-join with FILTER counts."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def mdcoord(tag):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(tag), F.col("event_id").cast("string")
                        ).cast("binary")
                    ),
                    1,
                    7,
                ),
                16,
                10,
            ).cast("long")
            % 2000
        )

    p = (
        ev.filter(F.col("event_id") % 20 == 0)
        .select(
            "event_id",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            ).alias("us"),
            mdcoord("kx:").alias("ix"),
            mdcoord("ky:").alias("iy"),
        )
        .localCheckpoint(eager=True)  # reused by three candidate joins
    )
    npts = p.groupBy().agg(F.count("*").alias("n_points"))

    # space: 9-neighbor-cell probe join, cell width == threshold
    home = p.select(
        F.col("event_id").alias("idb"),
        F.col("us").alias("usb"),
        F.col("ix").alias("ixb"),
        F.col("iy").alias("iyb"),
        F.expr("ix div 100").alias("cx"),
        F.expr("iy div 100").alias("cy"),
    )
    off = spark.range(9).select(
        (F.col("id") % 3 - 1).alias("ox"),
        F.expr("id div 3 - 1").alias("oy"),
    )
    probe = p.crossJoin(F.broadcast(off)).select(
        F.col("event_id").alias("ida"),
        F.col("us").alias("usa"),
        F.col("ix").alias("ixa"),
        F.col("iy").alias("iya"),
        (F.expr("ix div 100") + F.col("ox")).alias("cx"),
        (F.expr("iy div 100") + F.col("oy")).alias("cy"),
    )
    sp = (
        probe.join(home, ["cx", "cy"])
        .filter(F.col("ida") < F.col("idb"))
        .filter(
            (F.abs(F.col("ixa") - F.col("ixb")) <= 100)
            & (F.abs(F.col("iya") - F.col("iyb")) <= 100)
        )
        .groupBy()
        .agg(
            F.count("*").alias("n_space"),
            F.count(
                F.when(
                    F.abs(F.col("usa") - F.col("usb")) <= 86400000000, 1
                )
            ).alias("n_both"),
        )
    )

    # time: same/next day-bucket join
    ta = p.select(
        F.col("event_id").alias("ida"),
        F.col("us").alias("usa"),
        F.expr("us div 86400000000").alias("tb"),
    )
    tb_ = p.select(
        F.col("event_id").alias("idb"),
        F.col("us").alias("usb"),
        F.expr("us div 86400000000").alias("tb"),
    )
    same = ta.join(tb_, "tb").filter(F.col("ida") < F.col("idb"))
    nxt = ta.withColumn("tb", F.col("tb") + 1).join(tb_, "tb")
    tm = (
        same.unionByName(nxt)
        .filter(F.abs(F.col("usa") - F.col("usb")) <= 86400000000)
        .groupBy()
        .agg(F.count("*").alias("n_time"))
    )

    return (
        npts.crossJoin(sp)
        .crossJoin(tm)
        .select(
            "n_points",
            F.expr("n_points * (n_points - 1) div 2").alias("n_pairs"),
            "n_space",
            "n_time",
            "n_both",
            F.expr(
                "n_space * n_time * 1000"
                " div (n_points * (n_points - 1) div 2)"
            ).alias("expected_e3"),
            F.expr(
                "n_both * 1000 - n_space * n_time * 1000"
                " div (n_points * (n_points - 1) div 2)"
            ).alias("excess_e3"),
        )
    )


@register_extra(
    "segment_raster_density",
    """
    WITH p AS (
      SELECT user_id, ts, event_id,
             ((event_id*37+11) % 2000) // 8 AS x,
             ((event_id*73+29) % 2000) // 8 AS y
      FROM events),
    s0 AS (SELECT x, y, lag(x) OVER win AS lx, lag(y) OVER win AS ly
           FROM p WINDOW win AS (PARTITION BY user_id
                                 ORDER BY ts, event_id)),
    seg AS (SELECT lx AS x0, ly AS y0, x AS x1, y AS y1
            FROM s0 WHERE lx IS NOT NULL),
    c2 AS (SELECT abs(x1-x0) >= abs(y1-y0) AS shallow,
             CASE WHEN abs(x1-x0) >= abs(y1-y0) THEN x0 ELSE y0 END AS u0_,
             CASE WHEN abs(x1-x0) >= abs(y1-y0) THEN y0 ELSE x0 END AS v0_,
             CASE WHEN abs(x1-x0) >= abs(y1-y0) THEN x1 ELSE y1 END AS u1_,
             CASE WHEN abs(x1-x0) >= abs(y1-y0) THEN y1 ELSE x1 END AS v1_
           FROM seg),
    c3 AS (SELECT shallow,
             CASE WHEN u1_ >= u0_ THEN u0_ ELSE u1_ END AS u0,
             CASE WHEN u1_ >= u0_ THEN v0_ ELSE v1_ END AS v0,
             CASE WHEN u1_ >= u0_ THEN u1_ ELSE u0_ END AS u1,
             CASE WHEN u1_ >= u0_ THEN v1_ ELSE v0_ END AS v1 FROM c2),
    c4 AS (SELECT shallow, u0, u1 - u0 AS du,
             CASE WHEN v1 >= v0 THEN 1 ELSE -1 END AS rv,
             CASE WHEN v1 >= v0 THEN v0 ELSE -v0 END AS w0,
             CASE WHEN v1 >= v0 THEN v1 - v0 ELSE v0 - v1 END AS dv
           FROM c3),
    pxl AS (SELECT shallow, u0 + r.range AS u,
             CASE WHEN du = 0 THEN rv*w0
                  ELSE rv * (w0 + (2*dv*r.range + du) // (2*du)) END AS v
            FROM c4 JOIN range(250) r ON r.range <= du),
    xy AS (SELECT CASE WHEN shallow THEN u ELSE v END AS gx,
                  CASE WHEN shallow THEN v ELSE u END AS gy FROM pxl)
    SELECT gx // 25 AS tx, gy // 25 AS ty, count(*) AS n_px
    FROM xy GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def segment_raster_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory-segment rasterization density — the heatmap/coverage
    layer a movement-analytics pipeline burns from tracks: every
    consecutive per-user step rasterizes to grid pixels with the
    integer MIDPOINT line algorithm (v = w0 + (2*dv*t + du)//(2*du)
    along the canonical major axis; endpoint-swap + axis-swap + sign
    reflection keep every operand NONNEGATIVE, so floor/trunc division
    agree across numpy, Spark and DuckDB), and pixel visits roll up to
    25x25-pixel tiles. Spark plan: ONE lag window on the trajectory
    key builds segments JVM-side, an Arrow-batched numpy kernel
    rasterizes and PRE-AGGREGATES (tx, ty) partials inside each batch
    (the x250 pixel fan-out never hits the shuffle — only per-batch
    tile partials do), one partial-aggregable groupBy finishes. The
    oracle re-rasterizes relationally via a bounded range() join."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.expr("((event_id*37+11) % 2000) div 8").alias("x"),
        F.expr("((event_id*73+29) % 2000) div 8").alias("y"),
    )
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        p.select(
            "x",
            "y",
            F.lag("x").over(win).alias("x0"),
            F.lag("y").over(win).alias("y0"),
        )
        .filter(F.col("x0").isNotNull())
        .select("x0", "y0", F.col("x").alias("x1"), F.col("y").alias("y1"))
    )

    def _burn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            acc = {}
            for x0, y0, x1, y1 in zip(
                pdf["x0"], pdf["y0"], pdf["x1"], pdf["y1"]
            ):
                x0, y0, x1, y1 = int(x0), int(y0), int(x1), int(y1)
                shallow = abs(x1 - x0) >= abs(y1 - y0)
                u0_, v0_, u1_, v1_ = (
                    (x0, y0, x1, y1) if shallow else (y0, x0, y1, x1)
                )
                if u1_ >= u0_:
                    u0, v0, u1, v1 = u0_, v0_, u1_, v1_
                else:
                    u0, v0, u1, v1 = u1_, v1_, u0_, v0_
                du = u1 - u0
                rv = 1 if v1 >= v0 else -1
                w0, dv = rv * v0, rv * (v1 - v0)
                t = np.arange(du + 1, dtype=np.int64)
                u = u0 + t
                if du == 0:
                    v = np.full_like(t, rv * w0)
                else:
                    v = rv * (w0 + (2 * dv * t + du) // (2 * du))
                gx, gy = (u, v) if shallow else (v, u)
                keys = (gx // 25) * 100 + gy // 25
                for k, c in zip(*np.unique(keys, return_counts=True)):
                    acc[int(k)] = acc.get(int(k), 0) + int(c)
            if acc:
                yield pd.DataFrame(
                    [(k // 100, k % 100, c) for k, c in acc.items()],
                    columns=["tx", "ty", "n_px"],
                )

    partial = seg.mapInPandas(_burn, "tx long, ty long, n_px long")
    return (
        partial.groupBy("tx", "ty")
        .agg(F.sum("n_px").alias("n_px"))
        .orderBy("tx", "ty")
    )


@register_extra(
    "flock_copresence_pairs",
    """
    WITH pres AS (
      SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS b
      FROM events
    ),
    pc AS (
      SELECT u, b,
             ('0x' || substr(md5('fc:' || (u % 10) || ':' || b),
                             1, 7))::BIGINT % 64 AS cell
      FROM pres
    ),
    pair AS (
      SELECT a.u AS ua, b_.u AS ub, a.b
      FROM pc a JOIN pc b_
        ON b_.b = a.b AND b_.cell = a.cell AND b_.u > a.u
    ),
    isl AS (
      SELECT ua, ub, b,
             b - row_number() OVER (PARTITION BY ua, ub ORDER BY b) AS grp
      FROM pair
    ),
    runs AS (SELECT ua, ub, count(*) AS run
             FROM isl GROUP BY ua, ub, grp)
    SELECT ua, ub, CAST(sum(run) AS BIGINT) AS n_shared,
           CAST(max(run) AS BIGINT) AS max_consec
    FROM runs GROUP BY 1, 2 HAVING max(run) >= 3
    ORDER BY ua, ub
    """,
)
def flock_copresence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flock/convoy detection (movement-pattern mining): user pairs
    co-located in the same spatial cell for >= 3 CONSECUTIVE daily
    buckets, with total shared buckets and the longest streak. Cell
    trajectories are md5-derived per (user-cohort, day) so cohort
    members genuinely travel together while cross-cohort collisions
    stay sporadic (the signal/noise mix a real flock miner faces).
    Scale shape: co-location candidates come from a (bucket, cell)
    equi-join — bounded by per-cell occupancy, never all user pairs —
    and the consecutiveness test is the gaps-and-islands window on the
    PAIR key (one shuffle; pair cardinality is already candidate-
    bounded). All integers; the streak algebra is hash-exact."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pres = ev.select(
        F.col("user_id").alias("u"),
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            " div 86400000000"
        ).alias("b"),
    ).distinct()
    pc = pres.select(
        "u",
        "b",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("fc:"),
                            (F.col("u") % 10).cast("string"),
                            F.lit(":"),
                            F.col("b").cast("string"),
                        ).cast("binary")
                    ),
                    1,
                    7,
                ),
                16,
                10,
            ).cast("long")
            % 64
        ).alias("cell"),
    )
    a = pc.select(F.col("u").alias("ua"), "b", "cell")
    bb = pc.select(F.col("u").alias("ub"), "b", "cell")
    pair = a.join(bb, ["b", "cell"]).filter(F.col("ub") > F.col("ua"))
    win = Window.partitionBy("ua", "ub").orderBy("b")
    isl = pair.select(
        "ua", "ub", "b", (F.col("b") - F.row_number().over(win)).alias("grp")
    )
    runs = isl.groupBy("ua", "ub", "grp").agg(F.count("*").alias("run"))
    return (
        runs.groupBy("ua", "ub")
        .agg(
            F.sum("run").alias("n_shared"),
            F.max("run").alias("max_consec"),
        )
        .filter(F.col("max_consec") >= 3)
        .orderBy("ua", "ub")
    )


@register_extra(
    "od_flow_matrix",
    """
    WITH p AS (
      SELECT user_id, ts, event_id,
             (((event_id*37+11) % 2000) // 250) * 8
               + ((event_id*73+29) % 2000) // 250 AS cell
      FROM events
    ),
    s AS (
      SELECT cell AS d_cell,
             lag(cell) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS o_cell
      FROM p
    )
    SELECT o_cell, d_cell, count(*) AS n_trips,
           count(*) FILTER (WHERE o_cell = d_cell) AS n_intra
    FROM s WHERE o_cell IS NOT NULL
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def od_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Origin-destination flow matrix — the transport-analytics rollup:
    every consecutive per-user step becomes an (origin cell ->
    destination cell) trip on the 8x8 grid, aggregated to flow counts
    (with the intra-cell diagonal flagged). Scale shape: ONE lag
    window on the trajectory key builds trips JVM-side, then a
    partial-aggregable groupBy on the (o, d) pair — the 64x64-bounded
    key space means map-side combine collapses a 10^12-step log to at
    most 4096 rows per task before the shuffle. Exact integers."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.expr(
            "(((event_id*37+11) % 2000) div 250) * 8"
            " + ((event_id*73+29) % 2000) div 250"
        ).alias("cell"),
    )
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = p.select(
        F.col("cell").alias("d_cell"),
        F.lag("cell").over(win).alias("o_cell"),
    ).filter(F.col("o_cell").isNotNull())
    return (
        s.groupBy("o_cell", "d_cell")
        .agg(
            F.count("*").alias("n_trips"),
            F.count(
                F.when(F.col("o_cell") == F.col("d_cell"), 1)
            ).alias("n_intra"),
        )
        .orderBy("o_cell", "d_cell")
    )


@register_extra(
    "label_placement_grid",
    """
    WITH oct AS (SELECT CAST(n_nationkey AS BIGINT) AS k FROM nation),
    off AS (SELECT -275 + 25 * i.range AS o FROM range(23) i),
    cand AS (
      SELECT k, a.o AS o1, b.o AS o2,
             least(299 - abs(a.o), 299 - abs(b.o),
                   451 - abs(a.o) - abs(b.o)) AS clearance_q
      FROM oct CROSS JOIN off a CROSS JOIN off b
    ),
    free AS (
      SELECT * FROM cand
      WHERE clearance_q > 0
        AND ('0x' || substr(md5('lp:' || k || ':' || o1 || ':' || o2),
                            1, 7))::BIGINT % 7 <> 0
    ),
    best AS (
      SELECT k, o1, o2, clearance_q,
             row_number() OVER (PARTITION BY k
                                ORDER BY clearance_q DESC, o1, o2) AS rn,
             count(*) OVER (PARTITION BY k) AS n_free
      FROM free
    )
    SELECT k AS n_nationkey, o1 AS best_o1, o2 AS best_o2,
           clearance_q, CAST(n_free AS BIGINT) AS n_free
    FROM best WHERE rn = 1 ORDER BY n_nationkey
    """,
)
def label_placement_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartographic label placement by grid search — per octagon stop
    area, the interior candidate (25-unit lattice, e-4 deg) maximizing
    clearance to the boundary, skipping cells already occupied by
    other labels (md5-derived obstructions, ~1/7 of cells). Clearance
    inside the octagon |dx|<=A, |dy|<=A, |dx|+|dy|<=B is
    min(A-|dx|, A-|dy|, B-|dx|-|dy|) — EXACT integer in e-4 units (the
    Chebyshev/diamond distance-to-edge, no sqrt), so the argmax (ties
    -> smallest (o1, o2)) is hash-gated. Scale shape: the candidate
    lattice is a broadcast dim (23^2 offsets) crossed against the
    polygon dim; per-polygon argmax is a dim-sized window — the whole
    query never touches a fact table, which is exactly what a label
    placer over 10^8 polygons wants (candidates stay proportional to
    polygons, pruned map-side)."""
    from pyspark.sql import Window

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        F.col("n_nationkey").cast("long").alias("k")
    )
    off = spark.range(23).select((-275 + 25 * F.col("id")).alias("o"))
    cand = (
        nat.crossJoin(F.broadcast(off.select(F.col("o").alias("o1"))))
        .crossJoin(F.broadcast(off.select(F.col("o").alias("o2"))))
        .select(
            "k",
            "o1",
            "o2",
            F.least(
                299 - F.abs(F.col("o1")),
                299 - F.abs(F.col("o2")),
                451 - F.abs(F.col("o1")) - F.abs(F.col("o2")),
            ).alias("clearance_q"),
        )
    )
    free = cand.filter(
        (F.col("clearance_q") > 0)
        & (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("lp:"),
                            F.col("k").cast("string"),
                            F.lit(":"),
                            F.col("o1").cast("string"),
                            F.lit(":"),
                            F.col("o2").cast("string"),
                        ).cast("binary")
                    ),
                    1,
                    7,
                ),
                16,
                10,
            ).cast("long")
            % 7
            != 0
        )
    )
    rw = Window.partitionBy("k").orderBy(
        F.col("clearance_q").desc(), "o1", "o2"
    )
    cw = Window.partitionBy("k")
    return (
        free.select(
            F.col("k").alias("n_nationkey"),
            F.col("o1").alias("best_o1"),
            F.col("o2").alias("best_o2"),
            "clearance_q",
            F.row_number().over(rw).alias("rn"),
            F.count("*").over(cw).cast("long").alias("n_free"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("n_nationkey")
    )


@register_extra(
    "partition_skew_audit",
    """
    WITH p AS (
      SELECT (((event_id*37+11) % 2000) // 125) * 16
             + ((event_id*73+29) % 2000) // 125 AS cell
      FROM events
    ),
    load AS (SELECT cell, CAST(count(*) AS BIGINT) AS w FROM p GROUP BY 1),
    r AS (
      SELECT w,
             row_number() OVER (ORDER BY w, cell) AS i,
             row_number() OVER (ORDER BY w DESC, cell) AS j
      FROM load
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(w) AS BIGINT) AS total_rows,
             CAST(max(w) AS BIGINT) AS max_load,
             CAST(sum(i * w) AS BIGINT) AS iw,
             CAST(COALESCE(sum(w) FILTER (WHERE j <= 10), 0) AS BIGINT)
               AS top10
      FROM r
    )
    SELECT n_parts, total_rows, max_load,
           CAST(max_load * n_parts * 10000 // total_rows AS BIGINT)
             AS max_over_avg_e4,
           CAST((2 * iw - (n_parts + 1) * total_rows) * 1000000
                // (n_parts * total_rows) AS BIGINT) AS gini_e6,
           CAST(top10 * 10000 // total_rows AS BIGINT) AS top10_share_e4
    FROM agg
    """,
)
def partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-skew audit for a PROPOSED shuffle key (the 16x16
    spatial cell): straggler ratio (max/avg, e-4), the exact-integer
    Gini coefficient of per-partition loads ((2*sum(i*w_i) -
    (n+1)*total) * 1e6 // (n*total) over the ascending-sorted loads —
    tie order provably cancels, so the hash is stable) and the top-10
    partitions' load share. This is the pre-flight check this repo's
    own salting/AQE decisions rest on (test_skew.py asserts the
    remedies; this audits the diagnosis). Scale shape: the fact table
    collapses to per-cell counts map-side; both rank windows and the
    rollup run on the 256-row load dim."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    p = ev.select(
        F.expr(
            "(((event_id*37+11) % 2000) div 125) * 16"
            " + ((event_id*73+29) % 2000) div 125"
        ).alias("cell")
    )
    load = p.groupBy("cell").agg(F.count("*").alias("w"))
    iw_w = Window.orderBy("w", "cell")
    jw = Window.orderBy(F.col("w").desc(), "cell")
    r = load.select(
        "w",
        F.row_number().over(iw_w).alias("i"),
        F.row_number().over(jw).alias("j"),
    )
    agg = r.groupBy().agg(
        F.count("*").alias("n_parts"),
        F.sum("w").alias("total_rows"),
        F.max("w").alias("max_load"),
        F.sum(F.col("i") * F.col("w")).alias("iw"),
        F.coalesce(
            F.sum(F.when(F.col("j") <= 10, F.col("w"))), F.lit(0)
        ).alias("top10"),
    )
    return agg.select(
        "n_parts",
        "total_rows",
        "max_load",
        F.expr("max_load * n_parts * 10000 div total_rows").alias(
            "max_over_avg_e4"
        ),
        F.expr(
            "(2 * iw - (n_parts + 1) * total_rows) * 1000000"
            " div (n_parts * total_rows)"
        ).alias("gini_e6"),
        F.expr("top10 * 10000 div total_rows").alias("top10_share_e4"),
    )


@register_extra(
    "stay_point_segments",
    """
    WITH p AS (
      SELECT user_id AS u, ts, event_id,
             ('0x' || substr(md5('sx:' || user_id || ':'
                             || epoch_us(ts) // 86400000000), 1, 7))::BIGINT
               % 2000 AS sx,
             ('0x' || substr(md5('sy:' || user_id || ':'
                             || epoch_us(ts) // 86400000000), 1, 7))::BIGINT
               % 2000 AS sy
      FROM events
    ),
    s AS (
      SELECT u, ts, event_id, sx, sy,
             CASE WHEN greatest(abs(sx - lag(sx) OVER win),
                                abs(sy - lag(sy) OVER win)) > 200
                    OR lag(sx) OVER win IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM p WINDOW win AS (PARTITION BY u ORDER BY ts, event_id)
    ),
    isl AS (
      SELECT u, ts,
             sum(brk) OVER (PARTITION BY u ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS island
      FROM s
    ),
    stay AS (
      SELECT u, island, count(*) AS n_ev,
             epoch_us(max(ts)) - epoch_us(min(ts)) AS span_us
      FROM isl GROUP BY 1, 2 HAVING count(*) >= 3
    )
    SELECT u AS user_id, CAST(count(*) AS BIGINT) AS n_stays,
           CAST(sum(n_ev) AS BIGINT) AS n_stay_events,
           CAST(max(span_us) AS BIGINT) AS max_stay_us
    FROM stay GROUP BY 1 ORDER BY 1
    """,
)
def stay_point_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stay-point detection (the trajectory-mining classic next to
    flock detection): maximal runs of consecutive observations that
    never move more than 200 lattice units (Chebyshev) from the
    previous fix; runs of >= 3 observations are stays, reported per
    user with their count, member observations and longest span.
    Positions are md5-derived per (user, day) so within-day fixes
    dwell and day boundaries usually (not always) break the run — the
    mixed regime a real stay-point miner faces. Scale shape: ONE
    window shuffle on the trajectory key does break detection AND the
    gaps-and-islands numbering; stays aggregate per (user, island) —
    integers/timestamps only."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")

    def mdc(tag):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(tag),
                            F.col("user_id").cast("string"),
                            F.lit(":"),
                            F.expr(
                                "timestampdiff(MICROSECOND,"
                                " TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                                " div 86400000000"
                            ).cast("string"),
                        ).cast("binary")
                    ),
                    1,
                    7,
                ),
                16,
                10,
            ).cast("long")
            % 2000
        )

    p = ev.select(
        F.col("user_id").alias("u"),
        "ts",
        "event_id",
        mdc("sx:").alias("sx"),
        mdc("sy:").alias("sy"),
    )
    win = Window.partitionBy("u").orderBy("ts", "event_id")
    s = p.select(
        "u",
        "ts",
        "event_id",
        F.when(
            F.greatest(
                F.abs(F.col("sx") - F.lag("sx").over(win)),
                F.abs(F.col("sy") - F.lag("sy").over(win)),
            )
            > 200,
            1,
        )
        .when(F.lag("sx").over(win).isNull(), 1)
        .otherwise(0)
        .alias("brk"),
    )
    isl = s.select(
        "u",
        "ts",
        F.sum("brk")
        .over(win.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("island"),
    )
    stay = (
        isl.groupBy("u", "island")
        .agg(
            F.count("*").alias("n_ev"),
            F.expr(
                "timestampdiff(MICROSECOND, min(ts), max(ts))"
            ).alias("span_us"),
        )
        .filter(F.col("n_ev") >= 3)
    )
    return (
        stay.groupBy(F.col("u").alias("user_id"))
        .agg(
            F.count("*").alias("n_stays"),
            F.sum("n_ev").alias("n_stay_events"),
            F.max("span_us").alias("max_stay_us"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------ global autocorrelation

_MORAN_CW = 16  # 16x16 grid over the LCG residue domain [0, 2000)


@register_extra(
    "global_autocorr_grid",
    f"""
    WITH pts AS (
      SELECT ((event_id * 37 + 11) % 2000) // 125 AS gx,
             ((event_id * 73 + 29) % 2000) // 125 AS gy
      FROM events
    ),
    grid AS (
      SELECT x.range AS gx, y.range AS gy
      FROM range({_MORAN_CW}) x, range({_MORAN_CW}) y
    ),
    cells AS (
      SELECT grid.gx, grid.gy,
             CAST(count(pts.gx) AS BIGINT) AS x
      FROM grid LEFT JOIN pts USING (gx, gy)
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT count(*) AS n, sum(x) AS s,
             count(*) * sum(x * x) - sum(x) * sum(x) AS nd
      FROM cells
    ),
    off(dx, dy) AS (VALUES (1,0),(-1,0),(0,1),(0,-1)),
    pairs AS (
      SELECT a.x AS xa, b.x AS xb
      FROM cells a CROSS JOIN off o
      JOIN cells b ON b.gx = a.gx + o.dx AND b.gy = a.gy + o.dy
    ),
    agg AS (
      SELECT count(*) AS w,
             CAST(sum(((SELECT n FROM tot) * xa - (SELECT s FROM tot))
                    * ((SELECT n FROM tot) * xb - (SELECT s FROM tot)))
                  AS BIGINT) AS num_i,
             CAST(sum((xa - xb) * (xa - xb)) AS BIGINT) AS num_c
      FROM pairs
    )
    SELECT CAST(tot.n AS BIGINT) AS n_cells,
           CAST(agg.w AS BIGINT) AS w_pairs,
           CAST((1000000 * agg.num_i)
                // (agg.w * (CAST(tot.nd AS BIGINT) // tot.n))
             AS BIGINT) AS moran_i_e6,
           CAST((1000000 * (tot.n - 1) * tot.n * agg.num_c)
                // (2 * agg.w * CAST(tot.nd AS BIGINT))
             AS BIGINT) AS geary_c_e6
    FROM tot, agg
    """,
)
def global_autocorr_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global spatial autocorrelation of the event point field — both
    classic statistics, EXACT integers end to end: bin the LCG geotag
    residues onto a dense 16x16 grid (integer residue arithmetic, no
    float coordinates), rook adjacency with unit weights. Centering
    multiplies through by n (c_i = n*x_i - S) so Moran's I =
    num_I / (W * D) with D = (n*sum(x^2) - S^2) = sum(c^2)/n exactly
    divisible, and Geary's C = (n-1)*n*num_C / (2*W*sum(c^2)) — one
    ppm-quantized truncating division each, identical in both engines.
    Companion to the LOCAL Moran hotspot query: this is the global
    field-level clustering test run before drilling into cells. Scale
    shape: the fact table collapses to 256 cell partials map-side; the
    adjacency join is cell-count sized, not event sized."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.select(
        F.expr("((event_id * 37 + 11) % 2000) div 125").alias("gx"),
        F.expr("((event_id * 73 + 29) % 2000) div 125").alias("gy"),
    )
    grid = (
        spark.range(_MORAN_CW)
        .select(F.col("id").alias("gx"))
        .crossJoin(spark.range(_MORAN_CW).select(F.col("id").alias("gy")))
    )
    counts = pts.groupBy("gx", "gy").agg(F.count("*").alias("c"))
    cells = grid.join(counts, ["gx", "gy"], "left").select(
        "gx", "gy", F.coalesce("c", F.lit(0)).cast("long").alias("x")
    )
    tot = cells.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        (
            F.count("*") * F.sum(F.col("x") * F.col("x"))
            - F.sum("x") * F.sum("x")
        ).alias("nd"),
    )
    off = spark.createDataFrame(
        [(1, 0), (-1, 0), (0, 1), (0, -1)], "dx int, dy int"
    )
    a = cells.crossJoin(F.broadcast(off)).select(
        (F.col("gx") + F.col("dx")).alias("bgx"),
        (F.col("gy") + F.col("dy")).alias("bgy"),
        F.col("x").alias("xa"),
    )
    b = cells.select(
        F.col("gx").alias("bgx"), F.col("gy").alias("bgy"),
        F.col("x").alias("xb"),
    )
    pairs = a.join(b, ["bgx", "bgy"]).crossJoin(F.broadcast(tot))
    agg = pairs.agg(
        F.count("*").alias("w"),
        F.sum(
            (F.col("n") * F.col("xa") - F.col("s"))
            * (F.col("n") * F.col("xb") - F.col("s"))
        )
        .cast("long")
        .alias("num_i"),
        F.sum((F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")))
        .cast("long")
        .alias("num_c"),
    )
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            F.col("n").cast("long").alias("n_cells"),
            F.col("w").cast("long").alias("w_pairs"),
            F.expr("(1000000 * num_i) div (w * (nd div n))")
            .alias("moran_i_e6"),
            F.expr(
                "(1000000 * (n - 1) * n * num_c) div (2 * w * nd)"
            ).alias("geary_c_e6"),
        )
    )


# ------------------------------------------------- fence crossings

# fixed fence polyline in the LCG residue domain [0, 2000)^2
_FENCE = [(1000, 0), (900, 400), (1100, 800), (900, 1200),
          (1100, 1600), (1000, 2000)]
_FENCE_SEGS = list(zip(_FENCE[:-1], _FENCE[1:]))


@register_extra(
    "fence_crossing_counts",
    f"""
    WITH pts AS (
      SELECT user_id,
             (event_id * 37 + 11) % 2000 AS u,
             (event_id * 73 + 29) % 2000 AS v,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    seg AS (
      SELECT user_id, u AS x1, v AS y1,
             lead(u) OVER w AS x2, lead(v) OVER w AS y2
      FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY rn)
    ),
    fence(fx1, fy1, fx2, fy2) AS (VALUES
      {", ".join(f"({a[0]}, {a[1]}, {b[0]}, {b[1]})" for a, b in _FENCE_SEGS)}),
    x AS (
      SELECT s.user_id,
             CASE WHEN
               sign((fx2-fx1)*(s.y1-fy1) - (fy2-fy1)*(s.x1-fx1))
             * sign((fx2-fx1)*(s.y2-fy1) - (fy2-fy1)*(s.x2-fx1)) < 0
             AND
               sign((s.x2-s.x1)*(fy1-s.y1) - (s.y2-s.y1)*(fx1-s.x1))
             * sign((s.x2-s.x1)*(fy2-s.y1) - (s.y2-s.y1)*(fx2-s.x1)) < 0
             THEN 1 ELSE 0 END AS hit
      FROM seg s CROSS JOIN fence
      WHERE s.x2 IS NOT NULL
    )
    SELECT user_id,
           count(*) // {len(_FENCE_SEGS)} AS n_segments,
           CAST(sum(hit) AS BIGINT) AS n_crossings
    FROM x GROUP BY 1 ORDER BY user_id
    """,
)
def fence_crossing_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geofence LINE-crossing detection: count each user's trajectory
    segments that properly cross the fixed fence polyline — the
    boundary-breach event a fleet/geo pipeline raises (the
    complementary op to the containment-style geofence queries).
    Proper-crossing test is the classic double-orientation sign
    predicate in EXACT integer residue coordinates (cross products
    < 2*2000^2, int64-safe; touching or collinear contact counts as no
    crossing, deterministically). Scale shape: trajectories come from
    one lead() window per user; the fence is a 5-row broadcast VALUES
    dim, so the crossing join is map-side constant fan-out."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pts = ev.select(
        "user_id",
        "ts",
        "event_id",
        ((F.col("event_id") * 37 + 11) % 2000).alias("u"),
        ((F.col("event_id") * 73 + 29) % 2000).alias("v"),
    )
    seg = pts.select(
        "user_id",
        F.col("u").alias("x1"),
        F.col("v").alias("y1"),
        F.lead("u").over(w).alias("x2"),
        F.lead("v").over(w).alias("y2"),
    ).filter(F.col("x2").isNotNull())
    fence = spark.createDataFrame(
        [(a[0], a[1], b[0], b[1]) for a, b in _FENCE_SEGS],
        "fx1 long, fy1 long, fx2 long, fy2 long",
    )
    d1 = (F.col("fx2") - F.col("fx1")) * (F.col("y1") - F.col("fy1")) - (
        F.col("fy2") - F.col("fy1")
    ) * (F.col("x1") - F.col("fx1"))
    d2 = (F.col("fx2") - F.col("fx1")) * (F.col("y2") - F.col("fy1")) - (
        F.col("fy2") - F.col("fy1")
    ) * (F.col("x2") - F.col("fx1"))
    d3 = (F.col("x2") - F.col("x1")) * (F.col("fy1") - F.col("y1")) - (
        F.col("y2") - F.col("y1")
    ) * (F.col("fx1") - F.col("x1"))
    d4 = (F.col("x2") - F.col("x1")) * (F.col("fy2") - F.col("y1")) - (
        F.col("y2") - F.col("y1")
    ) * (F.col("fx2") - F.col("x1"))
    hit = (
        (F.signum(d1.cast("double")) * F.signum(d2.cast("double")) < 0)
        & (F.signum(d3.cast("double")) * F.signum(d4.cast("double")) < 0)
    ).cast("int")
    x = seg.crossJoin(F.broadcast(fence)).select("user_id", hit.alias("hit"))
    return (
        x.groupBy("user_id")
        .agg(
            F.expr(f"count(1) div {len(_FENCE_SEGS)}").alias("n_segments"),
            F.sum("hit").cast("long").alias("n_crossings"),
        )
        .orderBy("user_id")
    )


# ------------------------------------------- EB rate shrinkage

_EB_M = 50  # shrinkage prior strength (pseudo-events per cell)


@register_extra(
    "eb_shrunken_rates",
    f"""
    WITH pts AS (
      SELECT ((event_id * 37 + 11) % 2000) // 250 AS gx,
             ((event_id * 73 + 29) % 2000) // 250 AS gy,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
      FROM events
    ),
    cell AS (
      SELECT gx, gy, count(*) AS n, sum(hit) AS x
      FROM pts GROUP BY 1, 2
    ),
    tot AS (SELECT sum(n) AS nn, sum(x) AS xx FROM cell)
    SELECT cell.gx, cell.gy,
           CAST(cell.n AS BIGINT) AS n, CAST(cell.x AS BIGINT) AS x,
           CAST((1000000 * cell.x) // cell.n AS BIGINT) AS raw_ppm,
           CAST((1000000 * (cell.x * tot.nn + {_EB_M} * tot.xx))
                // (tot.nn * (cell.n + {_EB_M})) AS BIGINT) AS shrunk_ppm
    FROM cell, tot
    ORDER BY gx, gy
    """,
)
def eb_shrunken_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes rate shrinkage over grid cells (the disease-
    mapping / small-area estimation smoother): each cell's purchase
    rate is pulled toward the global rate with prior strength m = 50
    pseudo-events — shrunk = (x_i + m*X/N) / (n_i + m), computed
    exactly by multiplying through by N so the global rate never
    becomes a float: ppm = 1e6*(x_i*N + m*X) // (N*(n_i + m)). The
    variance-stabilized map a geo dashboard should show instead of
    raw small-n rates. Scale shape: one partial-agg to cells, one
    1-row broadcast of the global totals, map-side division."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.select(
        F.expr("((event_id * 37 + 11) % 2000) div 250").alias("gx"),
        F.expr("((event_id * 73 + 29) % 2000) div 250").alias("gy"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("hit"),
    )
    cell = pts.groupBy("gx", "gy").agg(
        F.count("*").alias("n"), F.sum("hit").alias("x")
    )
    tot = cell.agg(F.sum("n").alias("nn"), F.sum("x").alias("xx"))
    return (
        cell.crossJoin(F.broadcast(tot))
        .select(
            "gx",
            "gy",
            F.col("n").cast("long").alias("n"),
            F.col("x").cast("long").alias("x"),
            F.expr("(1000000 * x) div n").alias("raw_ppm"),
            F.expr(
                f"(1000000 * (x * nn + {_EB_M} * xx))"
                f" div (nn * (n + {_EB_M}))"
            ).alias("shrunk_ppm"),
        )
        .orderBy("gx", "gy")
    )


# ------------------------------------------------ grid discrepancy

_DISC_G = 16  # prefix-box grid resolution


@register_extra(
    "grid_discrepancy",
    f"""
    WITH pts AS (
      SELECT ((event_id * 37 + 11) % 2000) AS u,
             ((event_id * 73 + 29) % 2000) AS v
      FROM events
    ),
    n AS (SELECT count(*) AS n FROM pts),
    cell AS (
      SELECT u // 125 AS gx, v // 125 AS gy, count(*) AS c
      FROM pts GROUP BY 1, 2
    ),
    grid AS (
      SELECT x.range AS gx, y.range AS gy
      FROM range({_DISC_G}) x, range({_DISC_G}) y
    ),
    pref AS (
      SELECT g.gx, g.gy,
             CAST(coalesce(sum(cell.c), 0) AS BIGINT) AS cnt
      FROM grid g LEFT JOIN cell
        ON cell.gx <= g.gx AND cell.gy <= g.gy
      GROUP BY 1, 2
    ),
    -- discrepancy per prefix box, cross-multiplied to stay integer:
    -- |cnt/N - area| scaled by N * G^2
    d AS (
      SELECT gx, gy,
             abs(cnt * {_DISC_G * _DISC_G}
                 - (SELECT n FROM n) * (gx + 1) * (gy + 1)) AS disc
      FROM pref
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM n) AS n_points,
           max(disc) AS max_disc_scaled,
           CAST(min(gx * {_DISC_G} + gy) FILTER (
             WHERE disc = (SELECT max(disc) FROM d)) AS INT)
             AS argmax_cell
    FROM d
    """,
)
def grid_discrepancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-discrepancy audit of the synthetic geo point field over
    the 16x16 prefix-box family: D* = max over anchored boxes of
    |empirical mass - box area|, the uniformity figure of merit for
    quasi-random sequences and spatial samplers — cross-multiplied by
    N*G^2 so everything is exact integers (no fractions compared).
    Reports the max scaled discrepancy and the argmax box (row-major
    tie -> smallest). Scale shape: the fact table collapses to 256
    cell counts; prefix sums run over the tiny grid; nothing else
    touches the points."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.select(
        F.expr("((event_id * 37 + 11) % 2000) div 125").alias("gx"),
        F.expr("((event_id * 73 + 29) % 2000) div 125").alias("gy"),
    )
    n = pts.count()
    cell = pts.groupBy("gx", "gy").agg(F.count("*").alias("c"))
    # 2-D prefix sums via the tiny dense grid cross join
    grid = (
        spark.range(_DISC_G)
        .select(F.col("id").alias("gx"))
        .crossJoin(spark.range(_DISC_G).select(F.col("id").alias("gy")))
    )
    pref = (
        grid.alias("g")
        .join(
            cell.alias("c"),
            (F.col("c.gx") <= F.col("g.gx"))
            & (F.col("c.gy") <= F.col("g.gy")),
            "left",
        )
        .groupBy(F.col("g.gx").alias("gx"), F.col("g.gy").alias("gy"))
        .agg(F.coalesce(F.sum("c.c"), F.lit(0)).cast("long").alias("cnt"))
    )
    d = pref.select(
        "gx",
        "gy",
        F.abs(
            F.col("cnt") * (_DISC_G * _DISC_G)
            - F.lit(n) * (F.col("gx") + 1) * (F.col("gy") + 1)
        ).alias("disc"),
    )
    mx = d.agg(F.max("disc").alias("m"))
    return (
        d.crossJoin(F.broadcast(mx))
        .filter(F.col("disc") == F.col("m"))
        .agg(
            F.lit(n).cast("long").alias("n_points"),
            F.max("disc").alias("max_disc_scaled"),
            F.min(F.col("gx") * _DISC_G + F.col("gy"))
            .cast("int")
            .alias("argmax_cell"),
        )
    )


# ------------------------------------------------------------ viewshed

_VS_SZ, _VS_O, _VS_H = 48, 24, 30  # grid, observer center, mast height


def _vs_elev(x: str, y: str, t: str = "t") -> str:
    """Closed-form integer elevation both engines share (stands in for
    a DEM raster tile; at scale this expression becomes a lookup into
    the tile-partitioned elevation table)."""
    return (
        f"((({x})*7 + ({y})*13 + ({t})*5) % 41)"
        f" + ((({x})*3 + ({y})*(({t})+2)) % 29)"
    )


def _vs_sample(d: str) -> str:
    """Round-half-up nearest-cell coordinate of the k-th of kn equal
    line samples, as pure integer arithmetic: the +9600*kn shift keeps
    the numerator positive so truncating division IS floor, and
    floor((2*k*d + kn)/(2*kn)) + 4800 decomposes exactly."""
    return f"(({_VS_O} + (2*k*({d}) + kn + 9600*kn) DIV (2*kn) - 4800))"


def _vs_oracle() -> str:
    sz, o, h = _VS_SZ, _VS_O, _VS_H
    sx = _vs_sample("dx").replace(" DIV ", " // ")
    sy = _vs_sample("dy").replace(" DIV ", " // ")
    return f"""
    WITH tiles AS (SELECT n_nationkey AS t FROM nation
                   WHERE n_nationkey < 12),
    yx AS (SELECT y.range AS ty, x.range AS tx
           FROM range({sz}) y, range({sz}) x),
    base AS (
      SELECT t, tx, ty,
             {_vs_elev(str(o), str(o))} + {h} AS oh,
             {_vs_elev('tx', 'ty')} AS te,
             tx - {o} AS dx, ty - {o} AS dy,
             greatest(abs(tx - {o}), abs(ty - {o})) AS kn
      FROM tiles CROSS JOIN yx
      WHERE NOT (tx = {o} AND ty = {o})
    ),
    vis AS (
      SELECT t, te, kn,
             len(list_filter(range(1, kn), k ->
               ({_vs_elev(sx, sy)} - oh) * kn >= (te - oh) * k)) = 0
               AS visible
      FROM base
    )
    SELECT t, CAST(count(*) FILTER (visible) AS BIGINT) AS n_visible,
           CAST(sum(te) FILTER (visible) AS BIGINT) AS sum_vis_elev,
           CAST(max(kn) FILTER (visible) AS BIGINT) AS max_vis_cheb
    FROM vis GROUP BY t ORDER BY t
    """


@register_extra("viewshed_tiles", _vs_oracle())
def viewshed_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viewshed (line-of-sight) analysis — which cells of an elevation
    tile an observer mast at the center sees, the classic GIS op
    behind antenna placement, solar exposure, and visibility-graph
    building. A target is visible iff NO intermediate sample along the
    straight sightline subtends a slope >= the target's; samples are
    the kn equal subdivisions of the ray, snapped round-half-up to the
    nearest cell, and the slope test is cross-multiplied so the whole
    computation is EXACT INTEGERS — no float epsilon anywhere.

    Spark keeps every ray JVM-side as whole-stage codegen: targets are
    two exploded sequences, the per-ray walk is F.exists over
    F.sequence(1, kn-1) (a higher-order lambda — constant Catalyst tree
    size per the janino/1g discipline), the elevation is the shared
    closed form (at scale: a broadcast/co-partitioned DEM tile
    lookup). Zero Python, zero shuffle until the 12-row per-tile agg.
    The oracle evaluates the identical geometry via list_filter — the
    two engines share only the DEFINITION, not the execution. Guard:
    F.sequence descends when kn=1, so adjacency is special-cased
    visible (kn=1 has no intermediate sample by definition)."""
    sz, o, h = _VS_SZ, _VS_O, _VS_H
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    base = (
        nat.filter(F.col("n_nationkey") < 12)
        .select(F.col("n_nationkey").cast("long").alias("t"))
        .select("t", F.explode(F.sequence(F.lit(0), F.lit(sz - 1))).alias("ty"))
        .select(
            "t", "ty",
            F.explode(F.sequence(F.lit(0), F.lit(sz - 1))).alias("tx"),
        )
        .filter(~((F.col("tx") == o) & (F.col("ty") == o)))
        .withColumn("oh", F.expr(_vs_elev(str(o), str(o))) + F.lit(h))
        .withColumn("te", F.expr(_vs_elev("tx", "ty")))
        .withColumn("dx", F.col("tx") - o)
        .withColumn("dy", F.col("ty") - o)
        .withColumn("kn", F.greatest(F.abs("dx"), F.abs("dy")))
    )
    blocked = F.expr(
        "exists(sequence(1L, kn - 1L), k -> "
        f"({_vs_elev(_vs_sample('dx'), _vs_sample('dy'))} - oh) * kn"
        " >= (te - oh) * k)"
    )
    vis = base.withColumn(
        "visible",
        F.when(F.col("kn") >= 2, ~blocked).otherwise(F.lit(True)),
    )
    return (
        vis.groupBy("t")
        .agg(
            F.count(F.when(F.col("visible"), 1))
            .cast("long")
            .alias("n_visible"),
            F.sum(F.when(F.col("visible"), F.col("te")))
            .cast("long")
            .alias("sum_vis_elev"),
            F.max(F.when(F.col("visible"), F.col("kn")))
            .cast("long")
            .alias("max_vis_cheb"),
        )
        .orderBy("t")
    )


# ---------------------------------------------- discrete Frechet

_FR_N = 16  # points per trajectory


def _fr_xy(u: str, k: str, ax: str) -> str:
    return (
        f"('0x' || substr(md5('tf{ax}:' || {u} || ':' || {k}), 1, 6))"
        f"::BIGINT % 100"
    )


def _frechet_oracle() -> str:
    n = _FR_N
    lvl = []
    for dd in range(1, 2 * n - 1):
        prev, prev2 = f"dp{dd - 1}", f"dp{dd - 2}"
        diag = (
            f"LEFT JOIN {prev2} dg ON dg.pid = c.pid"
            " AND dg.i = c.i - 1 AND dg.j = c.j - 1"
            if dd >= 2
            else "LEFT JOIN dp0 dg ON false"
        )
        lvl.append(f"""
    dp{dd} AS MATERIALIZED (
      SELECT c.pid, c.i, c.j,
             greatest(c.c, least(
               coalesce(up.v, 1152921504606846976),
               coalesce(lf.v, 1152921504606846976),
               coalesce(dg.v, 1152921504606846976))) AS v
      FROM cost c
      LEFT JOIN {prev} up ON up.pid = c.pid
        AND up.i = c.i - 1 AND up.j = c.j
      LEFT JOIN {prev} lf ON lf.pid = c.pid
        AND lf.i = c.i AND lf.j = c.j - 1
      {diag}
      WHERE c.i + c.j = {dd}
    )""")
    return f"""
    WITH users AS (SELECT DISTINCT user_id % 12 AS u FROM events),
    pts AS (
      SELECT u, k.range AS k,
             {_fr_xy('u', 'k.range', 'x')} AS x,
             {_fr_xy('u', 'k.range', 'y')} AS y
      FROM users, range({n}) k
    ),
    pairs AS (
      SELECT a.u AS ua, b.u AS ub, a.k AS i, b.k AS j,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS c
      FROM pts a JOIN pts b ON a.u < b.u
    ),
    cost AS MATERIALIZED (
      SELECT ua * 100 + ub AS pid, i, j, c FROM pairs
    ),
    dp0 AS MATERIALIZED (
      SELECT pid, i, j, c AS v FROM cost WHERE i = 0 AND j = 0
    ),
    {",".join(lvl)},
    diag AS (
      SELECT pid, CAST(max(c) AS BIGINT) AS lockstep_max
      FROM cost WHERE i = j GROUP BY 1
    )
    SELECT CAST(d.pid // 100 AS BIGINT) AS u_a,
           CAST(d.pid % 100 AS BIGINT) AS u_b,
           CAST(d.v AS BIGINT) AS frechet2, g.lockstep_max
    FROM dp{2 * n - 2} d JOIN diag g USING (pid)
    WHERE d.i = {n - 1} AND d.j = {n - 1}
    ORDER BY u_a, u_b
    """


@register_extra("trajectory_frechet_pairs", _frechet_oracle())
def trajectory_frechet_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Frechet distance (squared) between every pair of the
    12 synthetic user trajectories — the ORDER-AWARE curve similarity
    (the dog-leash metric) that map-matching and trajectory clustering
    use where Hausdorff (already gated) ignores direction. Exact
    integer squared distances; the DP recurrence F(i,j) = max(c(i,j),
    min(up, left, diag)) runs per pair as a 16x16 numpy table inside
    mapInPandas (the sanctioned per-pair DP, one Arrow crossing), and
    the oracle unrolls the SAME recurrence as 31 anti-diagonal
    MATERIALIZED CTE levels (the audio-DTW wavefront discipline — each
    level referenced twice must materialize or the plan doubles per
    level). lockstep_max (max diagonal cost) rides along as the
    no-warp upper-bound sanity column, like DTW's l1_cost."""
    n = _FR_N
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    users = ev.select(
        F.pmod(F.col("user_id"), F.lit(12)).alias("u")
    ).distinct()
    pts = users.select(
        "u",
        F.expr(
            f"""transform(sequence(0, {n - 1}), k -> named_struct(
              'x', CAST(conv(substring(md5(CAST('tfx:' || u || ':' || k
                     AS BINARY)), 1, 6), 16, 10) AS BIGINT) % 100,
              'y', CAST(conv(substring(md5(CAST('tfy:' || u || ':' || k
                     AS BINARY)), 1, 6), 16, 10) AS BIGINT) % 100))"""
        ).alias("traj"),
    )
    pa = pts.select(F.col("u").alias("u_a"), F.col("traj").alias("ta"))
    pb = pts.select(F.col("u").alias("u_b"), F.col("traj").alias("tb"))
    pairs = pa.join(pb, pa["u_a"] < pb["u_b"])

    def _fr(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out = []
            for row in pdf.itertuples(index=False):
                ax = np.array([p["x"] for p in row.ta], np.int64)
                ay = np.array([p["y"] for p in row.ta], np.int64)
                bx = np.array([p["x"] for p in row.tb], np.int64)
                by = np.array([p["y"] for p in row.tb], np.int64)
                c = (ax[:, None] - bx[None, :]) ** 2 + (
                    ay[:, None] - by[None, :]
                ) ** 2
                m = c.shape[0]
                dp = np.zeros_like(c)
                big = np.int64(1) << 60
                for i in range(m):
                    for j in range(m):
                        if i == 0 and j == 0:
                            best = c[0, 0]
                            dp[i, j] = best
                            continue
                        up = dp[i - 1, j] if i > 0 else big
                        lf = dp[i, j - 1] if j > 0 else big
                        dg = dp[i - 1, j - 1] if i > 0 and j > 0 else big
                        dp[i, j] = max(c[i, j], min(up, lf, dg))
                out.append(
                    (
                        int(row.u_a),
                        int(row.u_b),
                        int(dp[m - 1, m - 1]),
                        int(np.diag(c).max()),
                    )
                )
            if out:
                yield pd.DataFrame(
                    out,
                    columns=["u_a", "u_b", "frechet2", "lockstep_max"],
                )

    return pairs.mapInPandas(
        _fr,
        "u_a long, u_b long, frechet2 long, lockstep_max long",
    ).orderBy("u_a", "u_b")


# --------------------------------------------- 2-opt route sweeps


@register_extra(
    "route_2opt_sweeps",
    """
    WITH RECURSIVE routes AS (SELECT n_nationkey AS rid FROM nation
                              WHERE n_nationkey < 6),
    city AS (
      SELECT rid, c.range AS c,
             ('0x' || substr(md5('tx:' || rid || ':' || c.range),
                             1, 5))::BIGINT % 1000 AS x,
             ('0x' || substr(md5('ty:' || rid || ':' || c.range),
                             1, 5))::BIGINT % 1000 AS y
      FROM routes, range(24) c
    ),
    cx AS MATERIALIZED (
      SELECT rid, list(x ORDER BY c) AS xs, list(y ORDER BY c) AS ys
      FROM city GROUP BY rid
    ),
    init AS (
      SELECT rid, list_transform(range(0, 24), i -> CAST(i AS BIGINT))
               AS tour
      FROM routes
    ),
    sweep(rid, k, tour) AS (
      SELECT rid, 0, tour FROM init
      UNION ALL
      SELECT z.rid, z.k + 1,
        CASE WHEN z.enc >= 10000 THEN
          z.tour[1 : 99 - ((z.enc % 10000) // 100)]
          || list_reverse(z.tour[99 - ((z.enc % 10000) // 100) + 1
                                 : (99 - (z.enc % 100)) + 1])
          || z.tour[(99 - (z.enc % 100)) + 2 : 24]
        ELSE z.tour END
      FROM (
        SELECT s.rid, s.k, s.tour, list_max(flatten(list_transform(range(1, 23), i ->
          list_transform(range(i + 1, 23), j ->
            ( (abs(xs[tour[i] + 1] - xs[tour[i + 1] + 1])
             + abs(ys[tour[i] + 1] - ys[tour[i + 1] + 1])
             + abs(xs[tour[j + 1] + 1] - xs[tour[j + 2] + 1])
             + abs(ys[tour[j + 1] + 1] - ys[tour[j + 2] + 1])
             - abs(xs[tour[i] + 1] - xs[tour[j + 1] + 1])
             - abs(ys[tour[i] + 1] - ys[tour[j + 1] + 1])
             - abs(xs[tour[i + 1] + 1] - xs[tour[j + 2] + 1])
             - abs(ys[tour[i + 1] + 1] - ys[tour[j + 2] + 1]))
              * 10000 + (99 - i) * 100 + (99 - j) )
          )))) AS enc
        FROM (SELECT rid, k, tour FROM sweep WHERE k < 3) s
        JOIN cx ON cx.rid = s.rid
      ) z
    ),
    lens AS (
      SELECT s.rid, s.k,
        list_reduce(list_transform(range(1, 24), i ->
          abs(cx.xs[s.tour[i] + 1] - cx.xs[s.tour[i + 1] + 1])
          + abs(cx.ys[s.tour[i] + 1] - cx.ys[s.tour[i + 1] + 1])),
          (a, b) -> a + b) AS plen,
        list_reduce(list_transform(range(1, 25), i -> s.tour[i] * i),
                    (a, b) -> a + b) AS chk
      FROM sweep s JOIN cx ON cx.rid = s.rid
    )
    SELECT a.rid, CAST(a.plen AS BIGINT) AS init_len,
           CAST(b.plen AS BIGINT) AS final_len,
           CAST(b.chk AS BIGINT) AS tour_chk
    FROM lens a JOIN lens b USING (rid)
    WHERE a.k = 0 AND b.k = 3 ORDER BY a.rid
""",
)
def route_2opt_sweeps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-improvement 2-opt sweeps over 6 delivery routes (24 stops,
    Manhattan metric) — the classic local-search step of every
    vehicle-routing/last-mile optimizer: evaluate ALL segment
    reversals, apply the single best, repeat (3 sweeps). The shape is
    'parallel evaluate, sequential commit': gain evaluation is an
    embarrassingly parallel all-pairs scan (at fleet scale: one task
    per route; within a route, a vectorized numpy gain matrix), while
    the commit is inherently ordered — so Spark runs one numpy
    best-move loop per route inside mapInPandas, and the oracle
    replays the identical three sweeps as a recursive CTE doing list
    surgery (slice + reverse + concat). Exact integer geometry;
    argmax packed as gain*10000 + inverted (i, j) so tie-breaks pin
    the same move on both sides; the final tour is pinned by a
    position-weighted checksum, not just its length."""
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    routes = nat.filter(F.col("n_nationkey") < 6).select(
        F.col("n_nationkey").cast("long").alias("rid")
    )

    def _opt(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        def H(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:5], 16)

        for pdf in batches:
            out = []
            for rid in pdf["rid"].astype(int):
                xs = np.array(
                    [H(f"tx:{rid}:{c}") % 1000 for c in range(24)],
                    np.int64,
                )
                ys = np.array(
                    [H(f"ty:{rid}:{c}") % 1000 for c in range(24)],
                    np.int64,
                )

                def plen(t):
                    return int(
                        (np.abs(np.diff(xs[t])) + np.abs(np.diff(ys[t])))
                        .sum()
                    )

                tour = np.arange(24)
                init_len = plen(tour)
                for _ in range(3):
                    best = None
                    for i in range(1, 23):
                        for j in range(i + 1, 23):
                            g = (
                                abs(xs[tour[i - 1]] - xs[tour[i]])
                                + abs(ys[tour[i - 1]] - ys[tour[i]])
                                + abs(xs[tour[j]] - xs[tour[j + 1]])
                                + abs(ys[tour[j]] - ys[tour[j + 1]])
                                - abs(xs[tour[i - 1]] - xs[tour[j]])
                                - abs(ys[tour[i - 1]] - ys[tour[j]])
                                - abs(xs[tour[i]] - xs[tour[j + 1]])
                                - abs(ys[tour[i]] - ys[tour[j + 1]])
                            )
                            enc = int(g) * 10000 + (99 - i) * 100 + (99 - j)
                            if best is None or enc > best[0]:
                                best = (enc, i, j)
                    if best[0] >= 10000:
                        i, j = best[1], best[2]
                        tour = np.concatenate(
                            [tour[:i], tour[i : j + 1][::-1], tour[j + 1 :]]
                        )
                chk = int((tour * np.arange(1, 25)).sum())
                out.append((int(rid), init_len, plen(tour), chk))
            if out:
                yield pd.DataFrame(
                    out,
                    columns=["rid", "init_len", "final_len", "tour_chk"],
                )

    return routes.mapInPandas(
        _opt, "rid long, init_len long, final_len long, tour_chk long"
    ).orderBy("rid")


# ------------------------------------------------------ discrete Voronoi


@register_extra(
    "voronoi_cell_counts",
    """
    WITH su AS (SELECT DISTINCT user_id % 24 AS sid FROM events),
    s AS (
      SELECT sid,
             ('0x' || substr(md5('vx:' || CAST(sid AS VARCHAR)),
                             1, 5))::BIGINT % 960 AS sx,
             ('0x' || substr(md5('vy:' || CAST(sid AS VARCHAR)),
                             1, 5))::BIGINT % 960 AS sy
      FROM su
    ),
    g AS (
      SELECT CAST(i % 48 AS BIGINT) AS gx, CAST(i // 48 AS BIGINT) AS gy,
             CAST(i % 48 AS BIGINT) * 20 + 10 AS cx,
             CAST(i // 48 AS BIGINT) * 20 + 10 AS cy
      FROM generate_series(0, 2303) t(i)
    ),
    a AS (
      SELECT gx, gy,
             min(((sx - cx) * (sx - cx) + (sy - cy) * (sy - cy)) * 100
                 + sid) % 100 AS sid
      FROM g, s GROUP BY gx, gy
    ),
    agg AS (
      SELECT sid, count(*) AS n_cells, sum(gx) AS sgx, sum(gy) AS sgy
      FROM a GROUP BY 1
    )
    SELECT s.sid,
           CAST(coalesce(agg.n_cells, 0) AS BIGINT) AS n_cells,
           CAST(coalesce(agg.sgx, 0) AS BIGINT) AS sum_gx,
           CAST(coalesce(agg.sgy, 0) AS BIGINT) AS sum_gy
    FROM s LEFT JOIN agg USING (sid)
    ORDER BY s.sid
    """,
)
def voronoi_cell_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete (rasterized) Voronoi tessellation — assign every raster
    cell to its nearest site, the coverage/service-area primitive behind
    catchment analysis and label-free zoning (the raster twin of the
    engine's nearest-quay kNN, reference stop_places.sql nearest-match
    semantics). Spark treats the GRID as the fact side (spark.range,
    distributed) and the sites as a guarded broadcast dim
    (_guard.collect_dim): a mapInPandas numpy argmin over the packed
    exact key dist2*100+sid — zero shuffle until the final partials-only
    per-site aggregation, the shape that holds when the raster is 10^12
    cells and sites are thousands. The oracle is the naive grid x sites
    cross join with the same packed argmin. All-integer coordinates
    (cell centers on a 20-unit lattice, md5-derived site positions), so
    squared distances and the tie-break pack are exact on both engines;
    sites that win no cell surface with zero counts via the left join."""
    from ..operators._guard import collect_dim

    import numpy as np
    import pandas as pd  # noqa: F401

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sites = ev.select(
        F.pmod(F.col("user_id"), F.lit(24)).alias("sid")
    ).distinct()

    def _coord(prefix: str):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(prefix), F.col("sid").cast("string")
                        ).cast("binary")
                    ),
                    1,
                    5,
                ),
                16,
                10,
            ).cast("long")
            % 960
        )

    sites = sites.select(
        "sid", _coord("vx:").alias("sx"), _coord("vy:").alias("sy")
    )
    rows = collect_dim(sites, "voronoi sites")
    sid = np.array([r["sid"] for r in rows], dtype=np.int64)
    sx = np.array([r["sx"] for r in rows], dtype=np.int64)
    sy = np.array([r["sy"] for r in rows], dtype=np.int64)

    def _assign(it):
        import pandas as pd

        for pdf in it:
            i = pdf["id"].to_numpy(np.int64)
            gx, gy = i % 48, i // 48
            cx, cy = gx * 20 + 10, gy * 20 + 10
            d2 = (sx[None, :] - cx[:, None]) ** 2 + (
                sy[None, :] - cy[:, None]
            ) ** 2
            j = (d2 * 100 + sid[None, :]).argmin(axis=1)
            yield pd.DataFrame(
                {"gx": gx, "gy": gy, "sid": sid[j]}
            )

    cells = spark.range(0, 48 * 48, 1, 8)
    assigned = cells.mapInPandas(_assign, "gx long, gy long, sid long")
    agg = assigned.groupBy("sid").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("gx").alias("sgx"),
        F.sum("gy").alias("sgy"),
    )
    return (
        sites.select("sid")
        .join(agg, "sid", "left")
        .select(
            "sid",
            F.coalesce("n_cells", F.lit(0)).cast("long").alias("n_cells"),
            F.coalesce("sgx", F.lit(0)).cast("long").alias("sum_gx"),
            F.coalesce("sgy", F.lit(0)).cast("long").alias("sum_gy"),
        )
        .orderBy("sid")
    )


# ------------------------------------------------------------- skyline


@register_extra(
    "skyline_points",
    """
    WITH pts AS (
      SELECT DISTINCT
        ('0x' || substr(md5('skx:' || CAST(event_id AS VARCHAR)),
                        1, 5))::BIGINT % 4096 AS px,
        ('0x' || substr(md5('sky:' || CAST(event_id AS VARCHAR)),
                        1, 5))::BIGINT % 4096 AS py
      FROM events
      WHERE ('0x' || substr(md5('skg:' || CAST(event_id AS VARCHAR)),
                            1, 4))::BIGINT % 23 = 0
    )
    SELECT px, py FROM pts a
    WHERE NOT EXISTS (
      SELECT 1 FROM pts b
      WHERE b.px >= a.px AND b.py >= a.py
        AND (b.px > a.px OR b.py > a.py))
    ORDER BY px
    """,
)
def skyline_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (maximal/Pareto-frontier) — the classic spatial-DB
    'best hotels' operator: points not dominated in BOTH dimensions by
    any other point. Cross-derivation gate: Spark runs the sweep
    ALGORITHM (dedup, keep the per-x max y, one descending sort, then
    skyline = y strictly above the running max of y over all larger x
    — a single range-partitioned sort at scale, no pairwise work),
    while the oracle evaluates the dominance DEFINITION as a
    quadratic NOT EXISTS — so the two engines agree on semantics, not
    on code. Integer md5-derived coordinates; strictness handled by
    keeping only the per-x maximum before the strict running-max
    comparison."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id").cast("string")

    def _h(prefix: str, chars: int) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), eid).cast("binary")), 1, chars
            ),
            16,
            10,
        ).cast("long")

    pts = (
        ev.filter(_h("skg:", 4) % 23 == 0)
        .select((_h("skx:", 5) % 4096).alias("px"),
                (_h("sky:", 5) % 4096).alias("py"))
        .distinct()
    )
    per_x = pts.groupBy("px").agg(F.max("py").alias("py"))
    w = Window.orderBy(F.desc("px")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        per_x.withColumn("my", F.max("py").over(w))
        .filter(F.col("my").isNull() | (F.col("py") > F.col("my")))
        .select("px", "py")
        .orderBy("px")
    )


# ------------------------------------------------- STR R-tree bulk load


@register_extra(
    "str_pack_audit",
    """
    WITH r0 AS (
      SELECT event_id AS rid,
        ('0x' || substr(md5('rcx:' || CAST(event_id AS VARCHAR)),
                        1, 5))::BIGINT % 4096 AS cx,
        ('0x' || substr(md5('rcy:' || CAST(event_id AS VARCHAR)),
                        1, 5))::BIGINT % 4096 AS cy,
        ('0x' || substr(md5('rw:' || CAST(event_id AS VARCHAR)),
                        1, 4))::BIGINT % 64 + 1 AS w,
        ('0x' || substr(md5('rh:' || CAST(event_id AS VARCHAR)),
                        1, 4))::BIGINT % 64 + 1 AS h
      FROM events
      WHERE ('0x' || substr(md5('rg:' || CAST(event_id AS VARCHAR)),
                            1, 4))::BIGINT % 31 = 0
    ),
    n AS (SELECT count(*) AS n FROM r0),
    dims AS (
      SELECT n,
             CAST(ceil(sqrt(CAST((n + 31) // 32 AS DOUBLE)))
                  AS BIGINT) AS s
      FROM n
    ),
    d2 AS (SELECT n, s, (n + s - 1) // s AS slab_sz FROM dims),
    rx AS (
      SELECT rid, cx, cy, w, h,
             row_number() OVER (ORDER BY 2 * cx + w, rid) - 1 AS xr
      FROM r0
    ),
    slabbed AS (
      SELECT rx.*, xr // d2.slab_sz AS slab FROM rx, d2
    ),
    leaved AS (
      SELECT slab,
             (row_number() OVER (PARTITION BY slab
                                 ORDER BY 2 * cy + h, rid) - 1) // 32
               AS leaf,
             cx, cy, w, h
      FROM slabbed
    )
    SELECT slab * 1000 + leaf AS leaf_id,
           count(*) AS n_rects,
           min(cx) AS minx, min(cy) AS miny,
           max(cx + w) AS maxx, max(cy + h) AS maxy,
           (max(cx + w) - min(cx)) * (max(cy + h) - min(cy)) AS mbr_area
    FROM leaved
    GROUP BY 1 ORDER BY 1
    """,
)
def str_pack_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-Tile-Recursive R-tree bulk-load packing (Leutenegger 1997 —
    what PostGIS/JTS use to build an R-tree from a static rect set):
    sort by x-center into ceil(sqrt(n/B)) vertical slabs, sort each
    slab by y-center, pack runs of B=32 into leaves; audit each leaf's
    MBR and area (the packing-quality number an optimizer reads).
    Spark: two range-partitioned sorts (global row_number, then
    per-slab), one agg — exactly the two-pass shuffle an at-scale bulk
    load performs; the slab count needs n, ONE scalar count job, the
    same pass a real bulk-loader does. IEEE sqrt is correctly rounded,
    so ceil(sqrt(int)) is identical on both engines; everything else
    is exact integers (2x-scaled centers avoid halves; event_id
    tie-breaks pin both sort orders)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id").cast("string")

    def _h(prefix: str, chars: int) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), eid).cast("binary")), 1, chars
            ),
            16,
            10,
        ).cast("long")

    r0 = ev.filter(_h("rg:", 4) % 31 == 0).select(
        F.col("event_id").alias("rid"),
        (_h("rcx:", 5) % 4096).alias("cx"),
        (_h("rcy:", 5) % 4096).alias("cy"),
        (_h("rw:", 4) % 64 + 1).alias("w"),
        (_h("rh:", 4) % 64 + 1).alias("h"),
    )
    n = r0.count()
    leaves = (n + 31) // 32
    s = math.isqrt(leaves)
    if s * s < leaves:
        s += 1
    slab_sz = (n + s - 1) // s
    rx = r0.withColumn(
        "xr",
        F.row_number().over(
            Window.orderBy(2 * F.col("cx") + F.col("w"), "rid")
        )
        - 1,
    )
    slabbed = rx.withColumn("slab", F.expr(f"xr div {slab_sz}"))
    leaved = slabbed.withColumn(
        "leaf",
        F.expr(
            "(row_number() OVER (PARTITION BY slab"
            " ORDER BY 2 * cy + h, rid) - 1) div 32"
        ),
    )
    return (
        leaved.groupBy(
            (F.col("slab") * 1000 + F.col("leaf")).alias("leaf_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rects"),
            F.min("cx").alias("minx"),
            F.min("cy").alias("miny"),
            F.max(F.col("cx") + F.col("w")).alias("maxx"),
            F.max(F.col("cy") + F.col("h")).alias("maxy"),
        )
        .withColumn(
            "mbr_area",
            (F.col("maxx") - F.col("minx"))
            * (F.col("maxy") - F.col("miny")),
        )
        .orderBy("leaf_id")
    )


# ------------------------------------------------------- RANSAC line


_RANSAC_PTS_SQL = """
    pts AS (
      SELECT i,
             CASE WHEN i < 40 THEN i * 3
                  ELSE ('0x' || substr(md5('rox:' || CAST(i AS VARCHAR)),
                                       1, 4))::BIGINT % 120 END AS px,
             CASE WHEN i < 40 THEN 2 * (i * 3) + 7
                    + ('0x' || substr(md5('rno:' || CAST(i AS VARCHAR)),
                                      1, 4))::BIGINT % 3 - 1
                  ELSE ('0x' || substr(md5('roy:' || CAST(i AS VARCHAR)),
                                       1, 4))::BIGINT % 250 END AS py
      FROM (SELECT unnest(generate_series(0, 59)) AS i)
    )
"""


@register_extra(
    "ransac_line_fit",
    f"""
    WITH {_RANSAC_PTS_SQL},
    models AS (
      SELECT a.i AS ia, b.i AS ib,
             b.px - a.px AS dx, b.py - a.py AS dy,
             a.px AS ax, a.py AS ay
      FROM pts a JOIN pts b ON a.i < b.i
      WHERE ('0x' || substr(md5('rg:' || CAST(a.i AS VARCHAR) || ':'
               || CAST(b.i AS VARCHAR)), 1, 4))::BIGINT % 17 = 0
        AND (b.px - a.px <> 0 OR b.py - a.py <> 0)
    ),
    scored AS (
      SELECT m.ia, m.ib, count(*) AS n_inliers
      FROM models m JOIN pts q
        ON (m.dx * (q.py - m.ay) - m.dy * (q.px - m.ax))
           * (m.dx * (q.py - m.ay) - m.dy * (q.px - m.ax))
           <= 25 * (m.dx * m.dx + m.dy * m.dy)
      GROUP BY 1, 2
    )
    SELECT CAST(ia AS BIGINT) AS ia, CAST(ib AS BIGINT) AS ib,
           CAST(n_inliers AS BIGINT) AS n_inliers
    FROM (SELECT *, row_number() OVER (
            ORDER BY n_inliers DESC, ia, ib) AS rn FROM scored)
    WHERE rn = 1
    """,
)
def ransac_line_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC line fitting, fully DETERMINISTIC and exact-integer —
    robust model estimation (the map-matching / lane-detection /
    outlier-proof trend fitter): candidate models are md5-gated point
    PAIRS, consensus is counted with the EXACT inlier test
    cross(d, q-a)^2 <= tol^2 * |d|^2 (perpendicular distance <= 5
    without ever forming a float), winner by (inliers desc, pair id).
    40 of 60 points sit on a planted y = 2x + 7 line with +/-1 jitter,
    20 are uniform outliers — the winning model must recover the
    planted structure against ~200 candidate models. Spark shape:
    models x broadcast points, one partial-agg count per model, one
    argmax — the hypothesize-and-verify pattern at fleet scale (every
    trajectory / image fits its own RANSAC in parallel)."""
    pts = spark.range(0, 60).select(F.col("id").alias("i")).select(
        "i",
        F.when(
            F.col("i") < 40, F.col("i") * 3
        )
        .otherwise(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("rox:"), F.col("i").cast("string")
                        ).cast("binary")
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % 120
        )
        .alias("px"),
        F.when(
            F.col("i") < 40,
            2 * (F.col("i") * 3)
            + 7
            + F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("rno:"), F.col("i").cast("string")
                        ).cast("binary")
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % 3
            - 1,
        )
        .otherwise(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("roy:"), F.col("i").cast("string")
                        ).cast("binary")
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % 250
        )
        .alias("py"),
    ).localCheckpoint(eager=True)
    a = pts.select(
        F.col("i").alias("ia"), F.col("px").alias("ax"),
        F.col("py").alias("ay"),
    )
    b = pts.select(
        F.col("i").alias("ib"), F.col("px").alias("bx"),
        F.col("py").alias("by"),
    )
    gate = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("rg:"),
                        F.col("ia").cast("string"),
                        F.lit(":"),
                        F.col("ib").cast("string"),
                    ).cast("binary")
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")
        % 17
        == 0
    )
    models = (
        a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .filter(gate)
        .select(
            "ia",
            "ib",
            (F.col("bx") - F.col("ax")).alias("dx"),
            (F.col("by") - F.col("ay")).alias("dy"),
            "ax",
            "ay",
        )
        .filter((F.col("dx") != 0) | (F.col("dy") != 0))
    )
    q = pts.select(
        F.col("px").alias("qx"), F.col("py").alias("qy")
    )
    cross = F.col("dx") * (F.col("qy") - F.col("ay")) - F.col("dy") * (
        F.col("qx") - F.col("ax")
    )
    scored = (
        models.crossJoin(F.broadcast(q))
        .filter(
            cross * cross
            <= 25 * (F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy"))
        )
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).alias("n_inliers"))
    )
    w = Window.orderBy(F.desc("n_inliers"), "ia", "ib")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("ia").cast("long").alias("ia"),
            F.col("ib").cast("long").alias("ib"),
            F.col("n_inliers").cast("long").alias("n_inliers"),
        )
    )


# ------------------------------------------- R-tree query pruning


_RTQ_SQL = """
    r0 AS (
      SELECT event_id AS rid,
        ('0x' || substr(md5('rcx:' || CAST(event_id AS VARCHAR)),
                        1, 5))::BIGINT % 4096 AS cx,
        ('0x' || substr(md5('rcy:' || CAST(event_id AS VARCHAR)),
                        1, 5))::BIGINT % 4096 AS cy,
        ('0x' || substr(md5('rw:' || CAST(event_id AS VARCHAR)),
                        1, 4))::BIGINT % 64 + 1 AS w,
        ('0x' || substr(md5('rh:' || CAST(event_id AS VARCHAR)),
                        1, 4))::BIGINT % 64 + 1 AS h
      FROM events
      WHERE ('0x' || substr(md5('rg:' || CAST(event_id AS VARCHAR)),
                            1, 4))::BIGINT % 31 = 0
    ),
    n AS (SELECT count(*) AS n FROM r0),
    d2 AS (
      SELECT n,
             CAST(ceil(sqrt(CAST((n + 31) // 32 AS DOUBLE)))
                  AS BIGINT) AS s,
             (n + CAST(ceil(sqrt(CAST((n + 31) // 32 AS DOUBLE)))
                       AS BIGINT) - 1)
               // CAST(ceil(sqrt(CAST((n + 31) // 32 AS DOUBLE)))
                       AS BIGINT) AS slab_sz
      FROM n
    ),
    rx AS (
      SELECT rid, cx, cy, w, h,
             row_number() OVER (ORDER BY 2 * cx + w, rid) - 1 AS xr
      FROM r0
    ),
    leaved AS (
      SELECT (xr // d2.slab_sz) * 1000
             + (row_number() OVER (PARTITION BY xr // d2.slab_sz
                                   ORDER BY 2 * cy + h, rid) - 1) // 32
               AS leaf_id,
             rid, cx, cy, w, h
      FROM rx, d2
    ),
    leaves AS (
      SELECT leaf_id, min(cx) AS lx0, min(cy) AS ly0,
             max(cx + w) AS lx1, max(cy + h) AS ly1
      FROM leaved GROUP BY 1
    ),
    qs AS (
      SELECT q,
             ('0x' || substr(md5('qx:' || CAST(q AS VARCHAR)),
                             1, 4))::BIGINT % 3800 AS qx0,
             ('0x' || substr(md5('qy:' || CAST(q AS VARCHAR)),
                             1, 4))::BIGINT % 3800 AS qy0
      FROM (SELECT unnest(generate_series(0, 11)) AS q)
    ),
    qr AS (
      SELECT q, qx0, qy0, qx0 + 300 AS qx1, qy0 + 300 AS qy1 FROM qs
    )
"""


@register_extra(
    "rtree_query_pruning",
    f"""
    WITH {_RTQ_SQL},
    hitleaves AS (
      SELECT qr.q, l.leaf_id
      FROM qr JOIN leaves l
        ON l.lx0 < qr.qx1 AND qr.qx0 < l.lx1
       AND l.ly0 < qr.qy1 AND qr.qy0 < l.ly1
    ),
    checked AS (
      SELECT h.q, d.rid, d.cx, d.cy, d.w, d.h
      FROM hitleaves h JOIN leaved d USING (leaf_id)
    )
    SELECT qr.q,
           CAST(coalesce(hl.nl, 0) AS BIGINT) AS n_leaves_hit,
           CAST(coalesce(ck.nc, 0) AS BIGINT) AS n_rects_checked,
           CAST(coalesce(ck.nh, 0) AS BIGINT) AS n_rects_hit
    FROM qr
    LEFT JOIN (SELECT q, count(*) AS nl FROM hitleaves GROUP BY 1) hl
      USING (q)
    LEFT JOIN (
      SELECT c.q, count(*) AS nc,
             count(*) FILTER (
               WHERE c.cx < qr2.qx1 AND qr2.qx0 < c.cx + c.w
                 AND c.cy < qr2.qy1 AND qr2.qy0 < c.cy + c.h) AS nh
      FROM checked c JOIN qr qr2 USING (q) GROUP BY 1
    ) ck USING (q)
    ORDER BY q
    """,
)
def rtree_query_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-tree window-query pruning audit over the STR bulk-load — the
    two-phase read path every spatial index serves: phase 1 hits leaf
    MBRs (cheap, n_leaves_hit of ~12), phase 2 exact-tests only the
    rects inside hit leaves (n_rects_checked — the I/O bill) and
    reports true intersections (n_rects_hit). The
    checked-vs-hit ratio IS the packing quality str_pack_audit
    measures from the build side; together they gate both halves of
    the index lifecycle. Same md5 rect universe and slab/leaf
    arithmetic as str_pack_audit; 12 fixed 300x300 query windows;
    open-interval overlap tests, all integers. Spark shape: leaves
    are a broadcast dim (there are ~sqrt-of-n of them), the leaf->rect
    fanout joins on leaf_id — the coarse-prefilter -> exact-refine
    plan of the engine's flagship PIP join, on rectangles."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    eid = F.col("event_id").cast("string")

    def _h(prefix: str, col, chars: int) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(F.concat(F.lit(prefix), col).cast("binary")),
                1,
                chars,
            ),
            16,
            10,
        ).cast("long")

    r0 = ev.filter(_h("rg:", eid, 4) % 31 == 0).select(
        F.col("event_id").alias("rid"),
        (_h("rcx:", eid, 5) % 4096).alias("cx"),
        (_h("rcy:", eid, 5) % 4096).alias("cy"),
        (_h("rw:", eid, 4) % 64 + 1).alias("w"),
        (_h("rh:", eid, 4) % 64 + 1).alias("h"),
    )
    n = r0.count()
    leaves_n = (n + 31) // 32
    s = math.isqrt(leaves_n)
    if s * s < leaves_n:
        s += 1
    slab_sz = (n + s - 1) // s
    rx = r0.withColumn(
        "xr",
        F.row_number().over(
            Window.orderBy(2 * F.col("cx") + F.col("w"), "rid")
        )
        - 1,
    )
    leaved = (
        rx.withColumn("slab", F.expr(f"xr div {slab_sz}"))
        .withColumn(
            "leaf_id",
            F.expr(
                "slab * 1000 + (row_number() OVER (PARTITION BY slab"
                " ORDER BY 2 * cy + h, rid) - 1) div 32"
            ),
        )
        .localCheckpoint(eager=True)
    )
    leaves = leaved.groupBy("leaf_id").agg(
        F.min("cx").alias("lx0"),
        F.min("cy").alias("ly0"),
        F.max(F.col("cx") + F.col("w")).alias("lx1"),
        F.max(F.col("cy") + F.col("h")).alias("ly1"),
    )
    qs = spark.range(0, 12).select(F.col("id").alias("q"))
    qh = lambda p: _h(p, F.col("q").cast("string"), 4)  # noqa: E731
    qr = qs.select(
        "q",
        (qh("qx:") % 3800).alias("qx0"),
        (qh("qy:") % 3800).alias("qy0"),
    ).withColumn("qx1", F.col("qx0") + 300).withColumn(
        "qy1", F.col("qy0") + 300
    ).localCheckpoint(eager=True)
    hit = qr.join(
        F.broadcast(leaves),
        (F.col("lx0") < F.col("qx1"))
        & (F.col("qx0") < F.col("lx1"))
        & (F.col("ly0") < F.col("qy1"))
        & (F.col("qy0") < F.col("ly1")),
    ).select("q", "leaf_id")
    nl = hit.groupBy("q").agg(F.count(F.lit(1)).alias("n_leaves_hit"))
    checked = hit.join(leaved, "leaf_id").join(
        qr.select("q", "qx0", "qy0", "qx1", "qy1"), "q"
    )
    ck = checked.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_rects_checked"),
        F.count(
            F.when(
                (F.col("cx") < F.col("qx1"))
                & (F.col("qx0") < F.col("cx") + F.col("w"))
                & (F.col("cy") < F.col("qy1"))
                & (F.col("qy0") < F.col("cy") + F.col("h")),
                1,
            )
        ).alias("n_rects_hit"),
    )
    return (
        qr.select("q")
        .join(nl, "q", "left")
        .join(ck, "q", "left")
        .select(
            "q",
            F.coalesce("n_leaves_hit", F.lit(0)).cast("long").alias(
                "n_leaves_hit"
            ),
            F.coalesce("n_rects_checked", F.lit(0)).cast("long").alias(
                "n_rects_checked"
            ),
            F.coalesce("n_rects_hit", F.lit(0)).cast("long").alias(
                "n_rects_hit"
            ),
        )
        .orderBy("q")
    )


# ------------------------------------------------------- KDE / coverage gap

_KDE_ORACLE = """
WITH p AS (
  SELECT (event_id * 37 + 11) % 2000 AS u,
         (event_id * 73 + 29) % 2000 AS v
  FROM events
),
g AS (
  SELECT CAST(i.range AS INT) AS gi, CAST(j.range AS INT) AS gj,
         62 + 125 * i.range AS cu, 62 + 125 * j.range AS cv
  FROM range(16) i, range(16) j
)
SELECT g.gi, g.gj,
       count(*) AS n_pts,
       CAST(sum((10000 - d2) * (10000 - d2)) AS BIGINT) AS kde_sum
FROM (
  SELECT g.gi, g.gj,
         (p.u - g.cu) * (p.u - g.cu) + (p.v - g.cv) * (p.v - g.cv) AS d2
  FROM p CROSS JOIN g
) g
WHERE d2 <= 10000
GROUP BY 1, 2
"""


@register_extra("kde_grid_density", _KDE_ORACLE)
def kde_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kernel density estimation on a fixed evaluation grid — the hotspot
    surface a tile renderer or spatial sampler consumes (reference
    analogue: the stop-density heat layers its PostGIS world renders).

    EXACT-INTEGER biweight kernel on the oracle lattice: weight per
    (point, center) = (R^2 - d^2)^2 with R = 100 lattice units, so the
    DuckDB oracle reproduces every value bit-for-bit with zero float
    rounding-mode risk (same discipline as ransac_line_fit).

    Scale shape: NO join at all. Each point map-side explodes to the
    <= 9 neighbor grid centers whose disc can reach it (grid step 125 >
    R), filters d^2 <= R^2, then ONE partial-aggregated shuffle on the
    bounded center key (256 cells). At 10^12 points this is the optimal
    plan: candidate fan-out is a constant 9, combiners collapse each map
    task to <= 256 rows, and the reduce side is trivially small. The
    DuckDB oracle uses the cross-join formulation the engine exists to
    avoid.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    pts = ev.select(
        ((F.col("event_id") * 37 + 11) % 2000).alias("u"),
        ((F.col("event_id") * 73 + 29) % 2000).alias("v"),
    )
    offs = F.expr(
        "array({})".format(
            ",".join(
                f"struct({di}L as di, {dj}L as dj)"
                for di in (-1, 0, 1)
                for dj in (-1, 0, 1)
            )
        )
    )
    cand = (
        pts.withColumn("o", F.explode(offs))
        .select(
            "u",
            "v",
            (F.expr("u div 125") + F.col("o.di")).alias("gi"),
            (F.expr("v div 125") + F.col("o.dj")).alias("gj"),
        )
    )
    cand = cand.filter(
        (F.col("gi") >= 0) & (F.col("gi") < 16)
        & (F.col("gj") >= 0) & (F.col("gj") < 16)
    )
    cu = 62 + 125 * F.col("gi")
    cv = 62 + 125 * F.col("gj")
    d2 = (F.col("u") - cu) * (F.col("u") - cu) + (F.col("v") - cv) * (
        F.col("v") - cv
    )
    return (
        cand.withColumn("d2", d2)
        .filter(F.col("d2") <= 10000)
        .withColumn("w", (10000 - F.col("d2")) * (10000 - F.col("d2")))
        .groupBy(
            F.col("gi").cast("int").alias("gi"),
            F.col("gj").cast("int").alias("gj"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pts"),
            F.sum("w").alias("kde_sum"),
        )
    )


_COVERAGE_GAP_ORACLE = """
WITH p AS (
  SELECT event_id,
         (event_id * 37 + 11) % 2000 AS u,
         (event_id * 73 + 29) % 2000 AS v
  FROM events
),
q AS (
  SELECT 120 + 172 * s_suppkey AS qu, 640 + 68 * s_suppkey AS qv
  FROM supplier
)
SELECT p.event_id, p.u, p.v
FROM p
WHERE NOT EXISTS (
  SELECT 1 FROM q
  WHERE (p.u - q.qu) * (p.u - q.qu) + (p.v - q.qv) * (p.v - q.qv) <= 22500
)
"""


@register_extra("coverage_gap_points", _COVERAGE_GAP_ORACLE)
def coverage_gap_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial ANTI join: geotagged points NOT within R of ANY quay site
    — the coverage-hole report (which images/events no stop covers; the
    reference's planners ask the inverse of its ST_DWithin matcher).

    Plan shape: the one relational form the engine's spatial joins had
    not yet exercised — a BROADCAST LEFT ANTI hash join on the cell key
    (R = cell size = 150 lattice units, so the 3x3 neighbor explode of
    the tiny quay dim covers every disc) with the exact d^2 <= R^2
    predicate as the join residual. Fully map-side: zero shuffle of the
    point table, no distinct, no second pass; a point drops on the
    FIRST matching quay cell (anti-join short-circuit). Exact integer
    lattice arithmetic -> bit-identical to the NOT EXISTS oracle.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    pts = ev.select(
        "event_id",
        ((F.col("event_id") * 37 + 11) % 2000).alias("u"),
        ((F.col("event_id") * 73 + 29) % 2000).alias("v"),
    ).withColumn("pci", F.expr("u div 150")).withColumn(
        "pcj", F.expr("v div 150")
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select("s_suppkey")
    quays = sup.select(
        (120 + 172 * F.col("s_suppkey")).alias("qu"),
        (640 + 68 * F.col("s_suppkey")).alias("qv"),
    )
    offs = F.expr(
        "array({})".format(
            ",".join(
                f"struct({di}L as di, {dj}L as dj)"
                for di in (-1, 0, 1)
                for dj in (-1, 0, 1)
            )
        )
    )
    qcells = (
        quays.withColumn("o", F.explode(offs))
        .select(
            "qu",
            "qv",
            (F.expr("qu div 150") + F.col("o.di")).alias("qci"),
            (F.expr("qv div 150") + F.col("o.dj")).alias("qcj"),
        )
    )
    d2 = (F.col("u") - F.col("qu")) * (F.col("u") - F.col("qu")) + (
        F.col("v") - F.col("qv")
    ) * (F.col("v") - F.col("qv"))
    gaps = pts.join(
        F.broadcast(qcells),
        (F.col("pci") == F.col("qci"))
        & (F.col("pcj") == F.col("qcj"))
        & (d2 <= 22500),
        "left_anti",
    )
    return gaps.select("event_id", "u", "v")


# ----------------------------------------------------- corridor DWithin

_CORRIDOR_ORACLE = """
WITH p AS (
  SELECT event_id,
         (event_id * 37 + 11) % 2000 AS u,
         (event_id * 73 + 29) % 2000 AS v
  FROM events
),
s AS (
  SELECT n_nationkey AS edge_id,
         200 + 400 * (n_nationkey % 5) AS au,
         200 + 400 * (n_nationkey // 5) AS av,
         200 + 400 * (n_nationkey % 5) + 68 * ((n_nationkey * 7) % 5 - 2) AS bu,
         200 + 400 * (n_nationkey // 5) + 52 * ((n_nationkey * 3) % 7 - 3) AS bv
  FROM nation
)
SELECT p.event_id, s.edge_id
FROM p CROSS JOIN s
WHERE CASE
  WHEN (bu-au)*(bu-au) + (bv-av)*(bv-av) = 0
    THEN (u-au)*(u-au) + (v-av)*(v-av) <= 14400
  WHEN (u-au)*(bu-au) + (v-av)*(bv-av) <= 0
    THEN (u-au)*(u-au) + (v-av)*(v-av) <= 14400
  WHEN (u-au)*(bu-au) + (v-av)*(bv-av)
       >= (bu-au)*(bu-au) + (bv-av)*(bv-av)
    THEN (u-bu)*(u-bu) + (v-bv)*(v-bv) <= 14400
  ELSE ((u-au)*(u-au) + (v-av)*(v-av))
         * ((bu-au)*(bu-au) + (bv-av)*(bv-av))
       - ((u-au)*(bu-au) + (v-av)*(bv-av))
         * ((u-au)*(bu-au) + (v-av)*(bv-av))
       <= 14400 * ((bu-au)*(bu-au) + (bv-av)*(bv-av))
END
"""


@register_extra("corridor_dwithin_pairs", _CORRIDOR_ORACLE)
def corridor_dwithin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corridor join: (point, edge) pairs where the point lies within D
    of the edge SEGMENT — ST_DWithin against a line layer, the buffer-
    membership query route planners run (which images/events lie along
    a path-link corridor; reference analogue: the PPR path-edge matching
    its stitcher resolves per stop area).

    EXACT RATIONAL point-to-segment decision with zero floats: the
    clamped-projection cases compare integers, and the interior case
    cross-multiplies the rational distance through the squared segment
    length (|w|^2*L^2 - (w.e)^2 <= D^2*L^2), so boundary points decide
    identically in both engines — no epsilon anywhere. Degenerate
    zero-length edges take the point-distance branch (edge 1 in the
    layer IS degenerate, so the branch is gated).

    Plan: each segment map-side explodes to its FULL (bbox + D) cell
    cover (any point within D lies inside the padded bbox, so its cell
    is in the cover — correctness is cell-size independent; 256 =~ 2D
    just keeps the cover small), the cover dim broadcasts, and points
    probe on their OWN cell —
    a broadcast inner hash join with the exact predicate as residual.
    Zero shuffle of the point table; at a fact-sized edge layer the same
    cover becomes the shuffle key (operators/spatial_join.py pattern).
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    pts = ev.select(
        "event_id",
        ((F.col("event_id") * 37 + 11) % 2000).alias("u"),
        ((F.col("event_id") * 73 + 29) % 2000).alias("v"),
    ).withColumn("pci", F.expr("u div 256")).withColumn(
        "pcj", F.expr("v div 256")
    )
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey")
    k = F.col("n_nationkey")
    seg = nat.select(
        k.alias("edge_id"),
        (200 + 400 * (k % 5)).alias("au"),
        (200 + 400 * F.floor(k / 5)).alias("av"),
        (200 + 400 * (k % 5) + 68 * ((k * 7) % 5 - 2)).alias("bu"),
        (200 + 400 * F.floor(k / 5) + 52 * ((k * 3) % 7 - 3)).alias("bv"),
    )
    cover = (
        seg.withColumn(
            "qci",
            F.explode(
                F.sequence(
                    F.expr("(least(au, bu) - 120) div 256"),
                    F.expr("(greatest(au, bu) + 120) div 256"),
                )
            ),
        )
        .withColumn(
            "qcj",
            F.explode(
                F.sequence(
                    F.expr("(least(av, bv) - 120) div 256"),
                    F.expr("(greatest(av, bv) + 120) div 256"),
                )
            ),
        )
    )
    u, v = F.col("u"), F.col("v")
    au, av, bu, bv = (F.col(c) for c in ("au", "av", "bu", "bv"))
    ex, ey = bu - au, bv - av
    wx, wy = u - au, v - av
    l2 = ex * ex + ey * ey
    dot = wx * ex + wy * ey
    d2a = wx * wx + wy * wy  # to endpoint a
    d2b = (u - bu) * (u - bu) + (v - bv) * (v - bv)
    within = (
        F.when(l2 == 0, d2a <= 14400)
        .when(dot <= 0, d2a <= 14400)
        .when(dot >= l2, d2b <= 14400)
        .otherwise(d2a * l2 - dot * dot <= 14400 * l2)
    )
    out = pts.join(
        F.broadcast(cover),
        (F.col("pci") == F.col("qci")) & (F.col("pcj") == F.col("qcj")),
        "inner",
    ).filter(within)
    return out.select("event_id", F.col("edge_id").cast("int"))

# ------------------------------------------------- nearest-segment snap

_SNAP_ORACLE = """
WITH p AS (
  SELECT event_id,
         (event_id * 37 + 11) % 2000 AS u,
         (event_id * 73 + 29) % 2000 AS v
  FROM events
),
s AS (
  SELECT n_nationkey AS edge_id,
         200 + 400 * (n_nationkey % 5) AS au,
         200 + 400 * (n_nationkey // 5) AS av,
         200 + 400 * (n_nationkey % 5)
           + CASE WHEN n_nationkey % 2 = 0 THEN 400 ELSE 0 END AS bu,
         200 + 400 * (n_nationkey // 5)
           + CASE WHEN n_nationkey % 2 = 0 THEN 0 ELSE 400 END AS bv
  FROM nation
),
d AS (
  SELECT p.event_id, s.edge_id,
         CASE
           WHEN (u-au)*(bu-au) + (v-av)*(bv-av) <= 0
             THEN ((u-au)*(u-au) + (v-av)*(v-av)) * 160000
           WHEN (u-au)*(bu-au) + (v-av)*(bv-av) >= 160000
             THEN ((u-bu)*(u-bu) + (v-bv)*(v-bv)) * 160000
           ELSE ((u-au)*(u-au) + (v-av)*(v-av)) * 160000
                - ((u-au)*(bu-au) + (v-av)*(bv-av))
                  * ((u-au)*(bu-au) + (v-av)*(bv-av))
         END AS d2_num
  FROM p CROSS JOIN s
)
SELECT event_id, edge_id, d2_num
FROM d
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY event_id ORDER BY d2_num, edge_id
) = 1
"""


@register_extra("snap_nearest_segment", _SNAP_ORACLE)
def snap_nearest_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-matching snap: assign every point to its NEAREST road segment
    (argmin of point-to-segment distance over an axis-aligned road grid,
    ties broken by smallest edge_id) — the primitive behind GPS-trace /
    geotagged-image map matching, and the nearest-edge resolution the
    reference's PPR stitcher performs per path (routing/ppr.py walks
    returned edges; here the engine picks the edge itself).

    EXACT-INTEGER argmin: every segment in the layer has the same
    squared length L^2 = 160000 by construction (horizontal or vertical,
    length 400), so all point-to-segment squared distances share one
    denominator and the argmin compares integer NUMERATORS only —
    endpoint cases scale by L^2, the interior case is |w|^2*L^2 -
    (w.e)^2 — no floats, no epsilon, ties decided identically in both
    engines (max numerator ~2.2e12, comfortably int64).

    Plan: segments explode map-side to a (bbox + 300) cell cover which
    BROADCASTS; points probe on their own cell. Pad 300 is a
    correctness bound, not a heuristic: the road grid spans [200,1800]
    on 400 spacing over a [0,2000)^2 domain, so no point is farther
    than sqrt(80000) ~ 283 < 300 from its nearest segment — the true
    argmin is always inside the candidate set. The only shuffle is the
    argmin groupBy carrying 24-byte (event_id, num, edge_id) rows with
    map-side partial min — at a 10^12-point table that is the minimal
    possible exchange for a per-point argmin.
    """
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    pts = ev.select(
        "event_id",
        ((F.col("event_id") * 37 + 11) % 2000).alias("u"),
        ((F.col("event_id") * 73 + 29) % 2000).alias("v"),
    ).withColumn("pci", F.expr("u div 256")).withColumn(
        "pcj", F.expr("v div 256")
    )
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey")
    k = F.col("n_nationkey").cast("long")
    seg = nat.select(
        k.alias("edge_id"),
        (200 + 400 * (k % 5)).alias("au"),
        (200 + 400 * F.floor(k / 5)).alias("av"),
        (
            200 + 400 * (k % 5)
            + F.when(k % 2 == 0, F.lit(400)).otherwise(F.lit(0))
        ).alias("bu"),
        (
            200 + 400 * F.floor(k / 5)
            + F.when(k % 2 == 0, F.lit(0)).otherwise(F.lit(400))
        ).alias("bv"),
    )
    cover = seg.withColumn(
        "qci",
        F.explode(
            F.sequence(
                F.expr("(least(au, bu) - 300) div 256"),
                F.expr("(greatest(au, bu) + 300) div 256"),
            )
        ),
    ).withColumn(
        "qcj",
        F.explode(
            F.sequence(
                F.expr("(least(av, bv) - 300) div 256"),
                F.expr("(greatest(av, bv) + 300) div 256"),
            )
        ),
    )
    u, v = F.col("u"), F.col("v")
    au, av, bu, bv = (F.col(c) for c in ("au", "av", "bu", "bv"))
    ex, ey = bu - au, bv - av
    wx, wy = u - au, v - av
    dot = wx * ex + wy * ey
    d2a = wx * wx + wy * wy
    d2b = (u - bu) * (u - bu) + (v - bv) * (v - bv)
    num = (
        F.when(dot <= 0, d2a * 160000)
        .when(dot >= 160000, d2b * 160000)
        .otherwise(d2a * 160000 - dot * dot)
    )
    cand = pts.join(
        F.broadcast(cover),
        (F.col("pci") == F.col("qci")) & (F.col("pcj") == F.col("qcj")),
        "inner",
    ).select("event_id", num.alias("num"), "edge_id")
    best = cand.groupBy("event_id").agg(
        F.min(F.struct(F.col("num"), F.col("edge_id"))).alias("m")
    )
    return best.select(
        "event_id",
        F.col("m.edge_id").cast("int").alias("edge_id"),
        F.col("m.num").alias("d2_num"),
    )


# -------------------------------------- Visvalingam-Whyatt simplification

# The OTHER canonical polyline simplifier (the one real tile pipelines
# — Mapshaper, Mapbox — prefer over Douglas-Peucker for cartography):
# repeatedly delete the point whose triangle with its CURRENT
# neighbors has the smallest effective area, until every remaining
# interior point's area clears the threshold. Sequential by nature
# (each removal changes its neighbors' areas), so the oracle is a
# recursive list machine that replays the exact removal order; the
# area metric is the integer |cross| (twice the triangle area) — no
# float anywhere, ties broken by smallest list position in BOTH
# engines.
_VW_ORACLE = """
WITH RECURSIVE pts AS (
  SELECT user_id AS u,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS i,
         (event_id * 37 + 11) % 2000 AS x,
         (event_id * 73 + 29) % 2000 AS y
  FROM events
),
arr AS (
  SELECT u, list(x ORDER BY i) AS xs, list(y ORDER BY i) AS ys,
         count(*) AS n
  FROM pts GROUP BY u
),
state(u, keep, done, step) AS (
  SELECT u, generate_series(CAST(1 AS BIGINT), n), n < 3, 0 FROM arr
  UNION ALL
  SELECT s.u,
         CASE WHEN d.j IS NOT NULL AND d.a2 < 200000
              THEN list_slice(s.keep, 1, d.j - 1)
                   || list_slice(s.keep, d.j + 1, len(s.keep))
              ELSE s.keep END,
         d.j IS NULL OR d.a2 >= 200000,
         s.step + 1
  FROM state s
  JOIN arr a ON a.u = s.u
  LEFT JOIN LATERAL (
    SELECT j, a2 FROM (
      SELECT gs.j,
             abs((a.xs[s.keep[gs.j]] - a.xs[s.keep[gs.j - 1]])
                 * (a.ys[s.keep[gs.j + 1]] - a.ys[s.keep[gs.j - 1]])
               - (a.ys[s.keep[gs.j]] - a.ys[s.keep[gs.j - 1]])
                 * (a.xs[s.keep[gs.j + 1]] - a.xs[s.keep[gs.j - 1]]))
               AS a2
      FROM (SELECT unnest(generate_series(CAST(2 AS BIGINT),
                                          len(s.keep) - 1)) AS j) gs
    ) ORDER BY a2 ASC, j ASC LIMIT 1
  ) d ON true
  WHERE NOT s.done
),
last_state AS (
  SELECT u, keep FROM state
  QUALIFY row_number() OVER (PARTITION BY u ORDER BY step DESC) = 1
),
sel AS (SELECT u, unnest(keep) AS pos FROM last_state)
SELECT CAST(p.u AS BIGINT) AS user_id, CAST(p.i AS BIGINT) AS seq,
       CAST(p.x AS BIGINT) AS qx, CAST(p.y AS BIGINT) AS qy
FROM sel JOIN pts p ON p.u = sel.u AND p.i = sel.pos
ORDER BY user_id, seq
"""


@register_extra("polyline_simplify_vw", _VW_ORACLE)
def polyline_simplify_vw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visvalingam-Whyatt trajectory simplification — the area-based
    simplifier tile pipelines prefer over Douglas-Peucker (which the
    engine also ships, polyline_simplify_dp): iteratively remove the
    point with the smallest effective triangle area until all
    remaining interior areas clear tol (|cross| >= 200000, exact
    int64; ties -> smallest position — the oracle's recursive list
    machine replays the identical order).

    Scale shape: identical to the DP variant — ONE groupBy shuffle
    co-locates each trajectory, then the removal loop is per-group
    numpy (O(n) vectorized area recompute per removal, n bounded by
    per-vehicle/day trail length in production). The oracle's ~60-step
    per-user recursion is the same work, centralized."""
    import numpy as np
    import pandas as pd

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.select(
        "user_id",
        "event_id",
        ((F.col("event_id") * 37 + 11) % 2000).alias("qx"),
        ((F.col("event_id") * 73 + 29) % 2000).alias("qy"),
    )

    TOL_A2 = 200000  # |cross| = 2 * triangle area, grid units^2

    def _vw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("event_id").reset_index(drop=True)
        x = pdf["qx"].to_numpy(np.int64)
        y = pdf["qy"].to_numpy(np.int64)
        n = len(x)
        alive = np.ones(n, dtype=bool)
        while True:
            kept = np.flatnonzero(alive)
            if len(kept) < 3:
                break
            a, b, c = kept[:-2], kept[1:-1], kept[2:]
            a2 = np.abs(
                (x[b] - x[a]) * (y[c] - y[a])
                - (y[b] - y[a]) * (x[c] - x[a])
            )
            m = int(np.argmin(a2))  # first min == smallest position
            if int(a2[m]) >= TOL_A2:
                break
            alive[b[m]] = False
        idx = np.flatnonzero(alive)
        return pd.DataFrame(
            {
                "user_id": np.full(len(idx), pdf["user_id"].iloc[0]),
                "seq": idx.astype(np.int64) + 1,
                "qx": x[idx],
                "qy": y[idx],
            }
        )

    return (
        pts.groupBy("user_id")
        .applyInPandas(
            _vw, "user_id bigint, seq bigint, qx bigint, qy bigint"
        )
        .orderBy("user_id", "seq")
    )


# ---------------------------------------------- segment-overlay pairs

# Bulk line-layer overlay: which segment pairs from two layers
# PROPERLY cross (the GIS "intersects" join on line layers — road
# network conflation, trajectory-vs-infrastructure audits). The
# sequential-analytics answer is Bentley-Ottmann; the distributed
# answer is grid binning with REFERENCE-POINT dedup: each candidate
# pair is tested in exactly ONE cell — the cell containing the
# top-left corner of the two bboxes' overlap — so no DISTINCT
# exchange ever materializes duplicate pairs. The oracle is the
# quadratic cross join the plan avoids, with the identical exact
# integer double-orientation predicate.
_SEG_OVERLAY_ORACLE = """
WITH a AS (
  SELECT event_id AS a_id,
         (event_id * 37 + 11) % 2000 + 256 AS ax1,
         (event_id * 73 + 29) % 2000 + 256 AS ay1,
         (event_id * 37 + 11) % 2000 + 256
           + (event_id * 29 + 7) % 193 - 96 AS ax2,
         (event_id * 73 + 29) % 2000 + 256
           + (event_id * 53 + 3) % 193 - 96 AS ay2
  FROM events
),
b AS (
  SELECT p_partkey AS b_id,
         (p_partkey * 61 + 17) % 2000 + 256 AS bx1,
         (p_partkey * 101 + 43) % 2000 + 256 AS by1,
         (p_partkey * 61 + 17) % 2000 + 256
           + (p_partkey * 31 + 5) % 193 - 96 AS bx2,
         (p_partkey * 101 + 43) % 2000 + 256
           + (p_partkey * 67 + 11) % 193 - 96 AS by2
  FROM part
)
SELECT a_id, b_id
FROM a CROSS JOIN b
WHERE ((bx2-bx1)*(ay1-by1) - (by2-by1)*(ax1-bx1) > 0
       AND (bx2-bx1)*(ay2-by1) - (by2-by1)*(ax2-bx1) < 0
    OR (bx2-bx1)*(ay1-by1) - (by2-by1)*(ax1-bx1) < 0
       AND (bx2-bx1)*(ay2-by1) - (by2-by1)*(ax2-bx1) > 0)
  AND ((ax2-ax1)*(by1-ay1) - (ay2-ay1)*(bx1-ax1) > 0
       AND (ax2-ax1)*(by2-ay1) - (ay2-ay1)*(bx2-ax1) < 0
    OR (ax2-ax1)*(by1-ay1) - (ay2-ay1)*(bx1-ax1) < 0
       AND (ax2-ax1)*(by2-ay1) - (ay2-ay1)*(bx2-ax1) > 0)
ORDER BY a_id, b_id
"""


@register_extra("segment_overlay_pairs", _SEG_OVERLAY_ORACLE)
def segment_overlay_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-layer overlay join: all properly-crossing (trajectory
    segment, road segment) pairs via a broadcast grid-cell join.
    Segments are short by construction (length <= 96*sqrt(2) < cell
    size 128), so each bbox covers <= 2x2 cells; the road layer
    explodes to its cover and BROADCASTS, trajectory segments explode
    map-side and probe. Dedup is the reference-point rule: a pair is
    evaluated only in the cell containing (max of bbox minima) — a
    point both bboxes contain whenever they overlap — so every
    crossing pair emerges exactly once with NO distinct/aggregate
    exchange. The only wide op in the plan is the final sort; at
    10^12 segments the join itself stays embarrassingly map-side.

    Exact arithmetic: proper crossing = both double-orientation sign
    tests strict (touch/collinear excluded deterministically); cross
    products bounded by ~2400^2*2 — int64-safe, no float anywhere."""
    C = 128

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    e = F.col("event_id")
    a = ev.select(
        e.alias("a_id"),
        ((e * 37 + 11) % 2000 + 256).alias("ax1"),
        ((e * 73 + 29) % 2000 + 256).alias("ay1"),
        ((e * 37 + 11) % 2000 + 256 + (e * 29 + 7) % 193 - 96).alias("ax2"),
        ((e * 73 + 29) % 2000 + 256 + (e * 53 + 3) % 193 - 96).alias("ay2"),
    )
    pt = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey")
    p = F.col("p_partkey").cast("long")
    b = pt.select(
        p.alias("b_id"),
        ((p * 61 + 17) % 2000 + 256).alias("bx1"),
        ((p * 101 + 43) % 2000 + 256).alias("by1"),
        ((p * 61 + 17) % 2000 + 256 + (p * 31 + 5) % 193 - 96).alias("bx2"),
        ((p * 101 + 43) % 2000 + 256 + (p * 67 + 11) % 193 - 96).alias("by2"),
    )

    def cover(df, x1, y1, x2, y2):
        # all coordinates are shifted non-negative, so div == floor div
        return df.withColumn(
            "ci",
            F.explode(
                F.sequence(
                    F.expr(f"least({x1}, {x2}) div {C}"),
                    F.expr(f"greatest({x1}, {x2}) div {C}"),
                )
            ),
        ).withColumn(
            "cj",
            F.explode(
                F.sequence(
                    F.expr(f"least({y1}, {y2}) div {C}"),
                    F.expr(f"greatest({y1}, {y2}) div {C}"),
                )
            ),
        )

    ac = cover(a, "ax1", "ay1", "ax2", "ay2")
    bc = cover(b, "bx1", "by1", "bx2", "by2").withColumnRenamed(
        "ci", "qi"
    ).withColumnRenamed("cj", "qj")

    joined = ac.join(
        F.broadcast(bc),
        (F.col("ci") == F.col("qi")) & (F.col("cj") == F.col("qj")),
        "inner",
    )
    # reference-point dedup: only the cell holding the bbox-overlap
    # top-left corner evaluates the pair
    ref_i = F.floor(
        F.greatest(
            F.least(F.col("ax1"), F.col("ax2")),
            F.least(F.col("bx1"), F.col("bx2")),
        )
        / C
    )
    ref_j = F.floor(
        F.greatest(
            F.least(F.col("ay1"), F.col("ay2")),
            F.least(F.col("by1"), F.col("by2")),
        )
        / C
    )
    d1 = (F.col("bx2") - F.col("bx1")) * (F.col("ay1") - F.col("by1")) - (
        F.col("by2") - F.col("by1")
    ) * (F.col("ax1") - F.col("bx1"))
    d2 = (F.col("bx2") - F.col("bx1")) * (F.col("ay2") - F.col("by1")) - (
        F.col("by2") - F.col("by1")
    ) * (F.col("ax2") - F.col("bx1"))
    d3 = (F.col("ax2") - F.col("ax1")) * (F.col("by1") - F.col("ay1")) - (
        F.col("ay2") - F.col("ay1")
    ) * (F.col("bx1") - F.col("ax1"))
    d4 = (F.col("ax2") - F.col("ax1")) * (F.col("by2") - F.col("ay1")) - (
        F.col("ay2") - F.col("ay1")
    ) * (F.col("bx2") - F.col("ax1"))
    crossing = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )
    return (
        joined.filter(
            (F.col("ci") == ref_i) & (F.col("cj") == ref_j) & crossing
        )
        .select("a_id", "b_id")
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------- D8 flow accumulation

# Hydrology's core raster pair — D8 flow direction + flow accumulation
# (stream extraction, watershed delineation) — on per-tile synthetic
# DEMs (integer bowl + deterministic noise). Direction is the exact
# argmax of drop/distance over the 8 neighbors (compared as the
# integer 2*drop^2/dist — dist in {1,2} divides evenly — ties by
# fixed compass order), computed CLOSED-FORM with no raster join:
# the neighbor elevation is the same formula re-evaluated. The
# functional flow graph then closes by pointer doubling (8 rounds
# cover any path in a 256-cell tile) and accumulation is one count
# per target cell. The oracle walks every cell's flow path linearly
# (recursive CTE) — algorithm vs definition.
_FLOW_ORACLE = """
WITH RECURSIVE t AS (SELECT s_suppkey AS tile FROM supplier),
g AS (SELECT range AS k FROM range(256)),
cells AS (
  SELECT tile, x, y,
         (x - (tile*13)%16) * (x - (tile*13)%16)
         + (y - (tile*29)%16) * (y - (tile*29)%16)
         + (x*7 + y*11 + tile) % 3 AS z
  FROM (SELECT tile, k // 16 AS x, k % 16 AS y FROM t CROSS JOIN g)
),
off(dx, dy, dist, ord) AS (VALUES
  (1,0,1,0),(1,1,2,1),(0,1,1,2),(-1,1,2,3),
  (-1,0,1,4),(-1,-1,2,5),(0,-1,1,6),(1,-1,2,7)),
nbz AS (
  SELECT c.tile, c.x, c.y, c.x+dx AS nx, c.y+dy AS ny, dist, ord,
         c.z - ((c.x+dx - (c.tile*13)%16) * (c.x+dx - (c.tile*13)%16)
                + (c.y+dy - (c.tile*29)%16) * (c.y+dy - (c.tile*29)%16)
                + ((c.x+dx)*7 + (c.y+dy)*11 + c.tile) % 3) AS drop
  FROM cells c CROSS JOIN off
  WHERE c.x+dx BETWEEN 0 AND 15 AND c.y+dy BETWEEN 0 AND 15
),
edges AS (
  SELECT tile, x*16 + y AS u, nx*16 + ny AS v
  FROM nbz WHERE drop > 0
  QUALIFY row_number() OVER (
    PARTITION BY tile, x, y
    ORDER BY (2*drop*drop) // dist DESC, ord ASC) = 1
),
paths(tile, u, v) AS (
  SELECT tile, u, v FROM edges
  UNION ALL
  SELECT p.tile, p.u, e.v
  FROM paths p JOIN edges e ON e.tile = p.tile AND e.u = p.v
),
acc AS (
  SELECT c.tile, c.x, c.y, 1 + count(p.u) AS acc
  FROM cells c LEFT JOIN paths p
    ON p.tile = c.tile AND p.v = c.x*16 + c.y
  GROUP BY c.tile, c.x, c.y
)
SELECT CAST(tile AS BIGINT) AS tile, CAST(x AS BIGINT) AS x,
       CAST(y AS BIGINT) AS y, CAST(acc AS BIGINT) AS acc
FROM acc WHERE acc >= 8
ORDER BY tile, x, y
"""


@register_extra("flow_accumulation_d8", _FLOW_ORACLE)
def flow_accumulation_d8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 flow accumulation / stream extraction over a fleet of DEM
    tiles (one 16x16 integer DEM per supplier — tiles are the parallel
    axis, exactly how continental DEMs shard). Three stages, each
    scale-shaped: (1) flow direction is argmax(drop/dist) with the
    neighbor elevation RE-DERIVED from the closed form — an 8-way
    map-side fanout plus one partial-aggregated argmax shuffle, never
    a raster self-join; (2) the flow forest closes by pointer doubling
    (R := R U R.R, 8 rounds bound any 256-cell path — O(log depth)
    rounds of compact (tile,u,v) exchanges, the same closure idiom as
    lca_pointer_doubling); (3) accumulation = one count per target
    cell + 1 for self. Strictly-lower drops make cycles impossible,
    so the doubling terminates by construction."""
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("tile")
    )
    cells = sup.select(
        "tile", F.explode(F.sequence(F.lit(0), F.lit(255))).alias("k")
    ).select(
        "tile",
        (F.col("k") / 16).cast("long").alias("x"),
        (F.col("k") % 16).alias("y"),
    )

    def z_of(xc, yc):
        cx = (F.col("tile") * 13) % 16
        cy = (F.col("tile") * 29) % 16
        return (
            (xc - cx) * (xc - cx)
            + (yc - cy) * (yc - cy)
            + (xc * 7 + yc * 11 + F.col("tile")) % 3
        )

    offs = [
        (1, 0, 1, 0), (1, 1, 2, 1), (0, 1, 1, 2), (-1, 1, 2, 3),
        (-1, 0, 1, 4), (-1, -1, 2, 5), (0, -1, 1, 6), (1, -1, 2, 7),
    ]
    nb = cells.select(
        "tile",
        "x",
        "y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dx).alias("dx"),
                        F.lit(dy).alias("dy"),
                        F.lit(dist).alias("dist"),
                        F.lit(ordn).alias("ordn"),
                    )
                    for dx, dy, dist, ordn in offs
                ]
            )
        ).alias("o"),
    ).select(
        "tile",
        "x",
        "y",
        (F.col("x") + F.col("o.dx")).alias("nx"),
        (F.col("y") + F.col("o.dy")).alias("ny"),
        F.col("o.dist").alias("dist"),
        F.col("o.ordn").alias("ordn"),
    ).filter(
        F.col("nx").between(0, 15) & F.col("ny").between(0, 15)
    )
    nbz = nb.withColumn(
        "drop", z_of(F.col("x"), F.col("y")) - z_of(F.col("nx"), F.col("ny"))
    ).filter(F.col("drop") > 0)
    ranked = nbz.select(
        "tile",
        (F.col("x") * 16 + F.col("y")).alias("u"),
        F.struct(
            F.expr("(2*drop*drop) div dist").alias("key"),
            (-F.col("ordn")).alias("nord"),
            (F.col("nx") * 16 + F.col("ny")).alias("v"),
        ).alias("cand"),
    )
    edges = (
        ranked.groupBy("tile", "u")
        .agg(F.max("cand").alias("best"))
        .select("tile", "u", F.col("best.v").alias("v"))
        .localCheckpoint(eager=True)
    )
    r = edges
    for _ in range(8):
        hop = (
            r.select("tile", "u", F.col("v").alias("mid"))
            .join(
                r.select(
                    F.col("tile").alias("tile2"),
                    F.col("u").alias("mid2"),
                    F.col("v").alias("w"),
                ),
                (F.col("tile") == F.col("tile2"))
                & (F.col("mid") == F.col("mid2")),
            )
            .select("tile", "u", F.col("w").alias("v"))
        )
        r = r.unionAll(hop).distinct().localCheckpoint(eager=True)
    acc = (
        cells.select("tile", "x", "y", (F.col("x") * 16 + F.col("y")).alias("v"))
        .join(r, ["tile", "v"], "left")
        .groupBy("tile", "x", "y")
        .agg((F.count("u") + 1).alias("acc"))
        .filter(F.col("acc") >= 8)
    )
    return acc.select(
        F.col("tile").cast("long"),
        F.col("x").cast("long"),
        F.col("y").cast("long").alias("y"),
        F.col("acc").cast("long"),
    ).orderBy("tile", "x", "y")


# ------------------------------------------------ Jenks class breaks

# Choropleth styling at scale: natural-breaks classification of a
# per-region indicator into 4 classes. Objective is the exact-integer
# n-scaled within-class dispersion n_c*sum(v^2) - (sum v)^2 (the
# variance numerator — no division, no float), minimized EXHAUSTIVELY
# over a deterministic 24-element sample per series (real GIS engines
# compute Jenks on samples for exactly this reason), with ties broken
# lexicographically on (b1, b2, b3) in both engines. Spark fans the
# C(n-1,3) break combinations out MAP-SIDE from per-series prefix-sum
# arrays (pure higher-order JVM expressions, one partial-agg argmin
# shuffle); the oracle reaches the same optimum by a 3-way relational
# self-join over the ranked prefix table.
_JENKS_ORACLE = """
WITH samp AS (
  SELECT nk, c_custkey, v, rn FROM (
    SELECT c_nationkey AS nk, c_custkey,
           (c_custkey * 7919) % 100000 AS v,
           row_number() OVER (PARTITION BY c_nationkey
                              ORDER BY c_custkey) AS rn
    FROM customer) WHERE rn <= 24
),
ord AS (
  SELECT nk, v,
         row_number() OVER (PARTITION BY nk ORDER BY v, c_custkey) AS r
  FROM samp
),
pre AS (
  SELECT nk, r, v,
         sum(v) OVER (PARTITION BY nk ORDER BY r) AS s1,
         sum(v * v) OVER (PARTITION BY nk ORDER BY r) AS s2
  FROM ord
),
tot AS (
  SELECT nk, sum(v) AS ts1, sum(v * v) AS ts2, count(*) AS n
  FROM ord GROUP BY nk HAVING count(*) >= 4
),
combos AS (
  SELECT p1.nk, p1.r AS b1, p2.r AS b2, p3.r AS b3,
         p1.v AS v1, p2.v AS v2, p3.v AS v3,
         p1.r * p1.s2 - p1.s1 * p1.s1
         + (p2.r - p1.r) * (p2.s2 - p1.s2)
           - (p2.s1 - p1.s1) * (p2.s1 - p1.s1)
         + (p3.r - p2.r) * (p3.s2 - p2.s2)
           - (p3.s1 - p2.s1) * (p3.s1 - p2.s1)
         + (t.n - p3.r) * (t.ts2 - p3.s2)
           - (t.ts1 - p3.s1) * (t.ts1 - p3.s1) AS cost
  FROM tot t
  JOIN pre p1 ON p1.nk = t.nk
  JOIN pre p2 ON p2.nk = t.nk AND p2.r > p1.r
  JOIN pre p3 ON p3.nk = t.nk AND p3.r > p2.r AND p3.r < t.n
)
SELECT nk, CAST(b1 AS BIGINT) AS b1, CAST(b2 AS BIGINT) AS b2,
       CAST(b3 AS BIGINT) AS b3, CAST(cost AS BIGINT) AS cost,
       CAST(v1 AS BIGINT) AS v1, CAST(v2 AS BIGINT) AS v2,
       CAST(v3 AS BIGINT) AS v3
FROM combos
QUALIFY row_number() OVER (PARTITION BY nk
                           ORDER BY cost, b1, b2, b3) = 1
ORDER BY nk
"""


@register_extra("jenks_class_breaks", _JENKS_ORACLE)
def jenks_class_breaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Natural-breaks (Jenks-style) choropleth classification per
    nation over a deterministic 24-row sample (see oracle comment) —
    exact global optimum of the integer n-scaled dispersion with
    lexicographic tie-break. Plan: one groupBy builds the sorted
    value + prefix-sum ARRAYS per series (partial-agg shuffle of
    <=24-element arrays), the break combinations then fan out
    map-side (explode of sequence bounds, <=1771 combos/series) and
    collapse through a min(struct(...)) partial aggregate — no
    Python, no join, and the exchange carries one 64-byte row per
    series regardless of fact-table size."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_custkey").alias("ck"),
        ((F.col("c_custkey") * 7919) % 100000).alias("v"),
    )
    w = Window.partitionBy("nk").orderBy("ck")
    samp = cust.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 24
    )
    arr = (
        samp.groupBy("nk")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("v"), F.col("ck")))
            ).alias("sv")
        )
        .select(
            "nk",
            F.expr("transform(sv, x -> x.v)").alias("vs"),
            F.size("sv").alias("n"),
        )
        .filter(F.col("n") >= 4)
        .select(
            "nk",
            "vs",
            F.col("n").cast("long").alias("n"),
            F.expr(
                "concat(array(0L), transform(vs,"
                " (x, i) -> aggregate(slice(vs, 1, i + 1),"
                " 0L, (a, y) -> a + y)))"
            ).alias("s1"),
            F.expr(
                "concat(array(0L), transform(vs,"
                " (x, i) -> aggregate(slice(vs, 1, i + 1),"
                " 0L, (a, y) -> a + y * y)))"
            ).alias("s2"),
        )
    )
    combos = (
        arr.select(
            "*", F.explode(F.expr("sequence(1L, n - 3)")).alias("b1")
        )
        .select(
            "*", F.explode(F.expr("sequence(b1 + 1, n - 2)")).alias("b2")
        )
        .select(
            "*", F.explode(F.expr("sequence(b2 + 1, n - 1)")).alias("b3")
        )
    )
    cost = F.expr(
        "b1 * element_at(s2, int(b1) + 1)"
        " - element_at(s1, int(b1) + 1) * element_at(s1, int(b1) + 1)"
        " + (b2 - b1) * (element_at(s2, int(b2) + 1)"
        "                - element_at(s2, int(b1) + 1))"
        " - (element_at(s1, int(b2) + 1) - element_at(s1, int(b1) + 1))"
        "   * (element_at(s1, int(b2) + 1) - element_at(s1, int(b1) + 1))"
        " + (b3 - b2) * (element_at(s2, int(b3) + 1)"
        "                - element_at(s2, int(b2) + 1))"
        " - (element_at(s1, int(b3) + 1) - element_at(s1, int(b2) + 1))"
        "   * (element_at(s1, int(b3) + 1) - element_at(s1, int(b2) + 1))"
        " + (n - b3) * (element_at(s2, int(n) + 1)"
        "               - element_at(s2, int(b3) + 1))"
        " - (element_at(s1, int(n) + 1) - element_at(s1, int(b3) + 1))"
        "   * (element_at(s1, int(n) + 1) - element_at(s1, int(b3) + 1))"
    )
    scored = combos.select(
        "nk",
        F.struct(
            cost.alias("cost"),
            F.col("b1"),
            F.col("b2"),
            F.col("b3"),
            F.expr("cast(element_at(vs, int(b1)) as long)").alias("v1"),
            F.expr("cast(element_at(vs, int(b2)) as long)").alias("v2"),
            F.expr("cast(element_at(vs, int(b3)) as long)").alias("v3"),
        ).alias("cand"),
    )
    best = scored.groupBy("nk").agg(F.min("cand").alias("m"))
    return best.select(
        "nk",
        F.col("m.b1").alias("b1"),
        F.col("m.b2").alias("b2"),
        F.col("m.b3").alias("b3"),
        F.col("m.cost").alias("cost"),
        F.col("m.v1").alias("v1"),
        F.col("m.v2").alias("v2"),
        F.col("m.v3").alias("v3"),
    ).orderBy("nk")


# ------------------------------------------------ Viterbi map matching

# Newson-Krumm-style HMM map matching, the industry-standard answer to
# noisy GPS: per trajectory, pick the edge sequence minimizing
# emission (snap distance) + transition (route-discontinuity penalty)
# cost. With a constant switch penalty P the Viterbi recurrence
# collapses to cost_t[e] = emis_t[e] + min(cost_{t-1}[e], min_all + P)
# — O(states) per step, all exact int64 (emission = the snap layer's
# shared-denominator d^2 numerator; ties impossible to diverge since
# both engines fold the identical integers in the identical order).
# The oracle replays the DP as a recursive 25-slot list machine with
# the edge geometry re-derived closed-form inside the lambda.
_VITERBI_MM_ORACLE = """
WITH RECURSIVE pts AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS r,
         (event_id * 37 + 11) % 2000 AS pu,
         (event_id * 73 + 29) % 2000 AS pv
  FROM events
),
ends AS (SELECT user_id, max(r) AS n FROM pts GROUP BY user_id),
state(user_id, r, costs) AS (
  SELECT p.user_id, 1,
         list_transform(generate_series(0, 24), e ->
           CASE
             WHEN (p.pu - (200 + 400*(e%5))) * (CASE WHEN e%2=0 THEN 400 ELSE 0 END)
                + (p.pv - (200 + 400*(e//5))) * (CASE WHEN e%2=0 THEN 0 ELSE 400 END) <= 0
               THEN ((p.pu - (200 + 400*(e%5))) * (p.pu - (200 + 400*(e%5)))
                     + (p.pv - (200 + 400*(e//5))) * (p.pv - (200 + 400*(e//5)))) * 160000
             WHEN (p.pu - (200 + 400*(e%5))) * (CASE WHEN e%2=0 THEN 400 ELSE 0 END)
                + (p.pv - (200 + 400*(e//5))) * (CASE WHEN e%2=0 THEN 0 ELSE 400 END) >= 160000
               THEN ((p.pu - (200 + 400*(e%5) + CASE WHEN e%2=0 THEN 400 ELSE 0 END))
                     * (p.pu - (200 + 400*(e%5) + CASE WHEN e%2=0 THEN 400 ELSE 0 END))
                     + (p.pv - (200 + 400*(e//5) + CASE WHEN e%2=0 THEN 0 ELSE 400 END))
                     * (p.pv - (200 + 400*(e//5) + CASE WHEN e%2=0 THEN 0 ELSE 400 END))) * 160000
             ELSE ((p.pu - (200 + 400*(e%5))) * (p.pu - (200 + 400*(e%5)))
                   + (p.pv - (200 + 400*(e//5))) * (p.pv - (200 + 400*(e//5)))) * 160000
                  - ((p.pu - (200 + 400*(e%5))) * (CASE WHEN e%2=0 THEN 400 ELSE 0 END)
                     + (p.pv - (200 + 400*(e//5))) * (CASE WHEN e%2=0 THEN 0 ELSE 400 END))
                    * ((p.pu - (200 + 400*(e%5))) * (CASE WHEN e%2=0 THEN 400 ELSE 0 END)
                       + (p.pv - (200 + 400*(e//5))) * (CASE WHEN e%2=0 THEN 0 ELSE 400 END))
           END)
  FROM pts p WHERE p.r = 1
  UNION ALL
  SELECT s.user_id, s.r + 1,
         list_transform(generate_series(0, 24), e ->
           least(s.costs[e + 1],
                 list_aggregate(s.costs, 'min') + 400000000)
           + CASE
             WHEN (p.pu - (200 + 400*(e%5))) * (CASE WHEN e%2=0 THEN 400 ELSE 0 END)
                + (p.pv - (200 + 400*(e//5))) * (CASE WHEN e%2=0 THEN 0 ELSE 400 END) <= 0
               THEN ((p.pu - (200 + 400*(e%5))) * (p.pu - (200 + 400*(e%5)))
                     + (p.pv - (200 + 400*(e//5))) * (p.pv - (200 + 400*(e//5)))) * 160000
             WHEN (p.pu - (200 + 400*(e%5))) * (CASE WHEN e%2=0 THEN 400 ELSE 0 END)
                + (p.pv - (200 + 400*(e//5))) * (CASE WHEN e%2=0 THEN 0 ELSE 400 END) >= 160000
               THEN ((p.pu - (200 + 400*(e%5) + CASE WHEN e%2=0 THEN 400 ELSE 0 END))
                     * (p.pu - (200 + 400*(e%5) + CASE WHEN e%2=0 THEN 400 ELSE 0 END))
                     + (p.pv - (200 + 400*(e//5) + CASE WHEN e%2=0 THEN 0 ELSE 400 END))
                     * (p.pv - (200 + 400*(e//5) + CASE WHEN e%2=0 THEN 0 ELSE 400 END))) * 160000
             ELSE ((p.pu - (200 + 400*(e%5))) * (p.pu - (200 + 400*(e%5)))
                   + (p.pv - (200 + 400*(e//5))) * (p.pv - (200 + 400*(e//5)))) * 160000
                  - ((p.pu - (200 + 400*(e%5))) * (CASE WHEN e%2=0 THEN 400 ELSE 0 END)
                     + (p.pv - (200 + 400*(e//5))) * (CASE WHEN e%2=0 THEN 0 ELSE 400 END))
                    * ((p.pu - (200 + 400*(e%5))) * (CASE WHEN e%2=0 THEN 400 ELSE 0 END)
                       + (p.pv - (200 + 400*(e//5))) * (CASE WHEN e%2=0 THEN 0 ELSE 400 END))
           END)
  FROM state s
  JOIN pts p ON p.user_id = s.user_id AND p.r = s.r + 1
),
final AS (
  SELECT s.user_id, s.r AS n_points, s.costs
  FROM state s JOIN ends e ON e.user_id = s.user_id AND s.r = e.n
),
un AS (
  SELECT user_id, n_points,
         unnest(costs) AS c,
         generate_subscripts(costs, 1) - 1 AS e
  FROM final
)
SELECT user_id, CAST(n_points AS BIGINT) AS n_points,
       CAST(c AS BIGINT) AS best_cost, CAST(e AS BIGINT) AS best_edge
FROM un
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY c, e) = 1
ORDER BY user_id
"""


@register_extra("viterbi_map_match", _VITERBI_MM_ORACLE)
def viterbi_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HMM (Viterbi) map matching over the 25-edge road grid: per-user
    GPS trails, emission = exact point-to-segment d^2 numerator (the
    snap layer's shared L^2 = 160000 denominator), transition = flat
    400e6 route-switch penalty, so the recurrence needs only the
    previous column minimum — cost_t[e] = emis + min(prev[e],
    min_prev + P). Reports the optimal terminal cost and edge per
    user (argmin, smallest edge on ties).

    Scale shape: one groupBy shuffle co-locates each trajectory
    (the key event logs are already bucketed by), then the DP is a
    per-group numpy loop vectorized across the 25 states — O(T*E)
    with T bounded by per-vehicle trail length; the road grid is a
    closed-form constant re-derived in the task, so nothing
    broadcasts. The oracle replays the identical integer DP as a
    recursive list machine."""
    import numpy as np
    import pandas as pd

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.select(
        "user_id",
        "ts",
        "event_id",
        ((F.col("event_id") * 37 + 11) % 2000).alias("pu"),
        ((F.col("event_id") * 73 + 29) % 2000).alias("pv"),
    )

    P = 400_000_000
    e = np.arange(25, dtype=np.int64)
    AU = 200 + 400 * (e % 5)
    AV = 200 + 400 * (e // 5)
    BU = AU + np.where(e % 2 == 0, 400, 0)
    BV = AV + np.where(e % 2 == 0, 0, 400)

    def _emis(pu: int, pv: int) -> np.ndarray:
        dot = (pu - AU) * (BU - AU) + (pv - AV) * (BV - AV)
        d2a = (pu - AU) ** 2 + (pv - AV) ** 2
        d2b = (pu - BU) ** 2 + (pv - BV) ** 2
        return np.where(
            dot <= 0,
            d2a * 160000,
            np.where(dot >= 160000, d2b * 160000, d2a * 160000 - dot * dot),
        )

    def _viterbi(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"]).reset_index(drop=True)
        pu = pdf["pu"].to_numpy(np.int64)
        pv = pdf["pv"].to_numpy(np.int64)
        costs = _emis(int(pu[0]), int(pv[0]))
        for t in range(1, len(pu)):
            m = int(costs.min())
            costs = np.minimum(costs, m + P) + _emis(int(pu[t]), int(pv[t]))
        be = int(np.argmin(costs))  # first min == smallest edge id
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_points": [len(pu)],
                "best_cost": [int(costs[be])],
                "best_edge": [be],
            }
        )

    return (
        pts.groupBy("user_id")
        .applyInPandas(
            _viterbi,
            "user_id bigint, n_points bigint, best_cost bigint,"
            " best_edge bigint",
        )
        .orderBy("user_id")
    )


# ------------------------------------------------ Ripley's K function

# Point-pattern statistics (Ripley 1977): K(r) = A/(n(n-1)) * #{ordered
# pairs i != j with d_ij <= r}, the standard clustered-vs-dispersed
# screen run before any spatial model. Naive estimator (no border
# correction — documented; the correction changes a constant near the
# window edge, not the plan shape). Everything is exact integer
# arithmetic on the 2000x2000 event lattice so both engines agree
# bit-for-bit: squared-distance compares, bigint pair counts, floor
# division for the scaled K.
_RIPLEY_RADII = (25, 50, 100)  # lattice units; cell size = max radius
_RIPLEY_ORACLE = """
WITH p AS (
  SELECT event_id,
         (event_id * 37 + 11) % 2000 AS ix,
         (event_id * 73 + 29) % 2000 AS iy
  FROM events
),
c AS (SELECT event_id, ix, iy, ix // 100 AS cx, iy // 100 AS cy FROM p),
offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                        (1,-1),(1,0),(1,1)),
cand AS (
  SELECT (a.ix - b.ix) * (a.ix - b.ix)
       + (a.iy - b.iy) * (a.iy - b.iy) AS d2
  FROM c a
  CROSS JOIN offs o
  JOIN c b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
          AND b.event_id <> a.event_id
),
agg AS (
  SELECT count(*) FILTER (WHERE d2 <= 625)   AS p25,
         count(*) FILTER (WHERE d2 <= 2500)  AS p50,
         count(*) FILTER (WHERE d2 <= 10000) AS p100,
         (SELECT count(*) FROM p) AS n
  FROM cand
),
r(radius) AS (VALUES (25), (50), (100))
SELECT CAST(r.radius AS INT) AS radius,
       CAST(agg.n AS BIGINT) AS n_points,
       CAST(CASE r.radius WHEN 25 THEN p25 WHEN 50 THEN p50
            ELSE p100 END AS BIGINT) AS pair_count,
       CAST(40000000000::HUGEINT * CASE r.radius WHEN 25 THEN p25 WHEN 50
            THEN p50 ELSE p100 END
            // (agg.n * (agg.n - 1)) AS BIGINT) AS k_scaled
FROM r CROSS JOIN agg
ORDER BY radius
"""


@register("ripley_k_function", _RIPLEY_ORACLE)
def ripley_k_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ripley's K at r in {25, 50, 100} lattice units over the event
    point lattice. Plan (the 10^12-point shape): points bucket into
    cells sized by the LARGEST radius, candidates come from the 9-cell
    halo equi-join — the shuffle carries each point x9 probes with
    fixed-width keys, never all pairs; the three radii share the one
    candidate pass (conditional partial aggregates, map-side
    combinable), and the final unpivot is over a 3-row literal. K
    scaled by 1e4 x window area via bigint floor division (exact in
    both engines)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pts = ev.select(
        "event_id",
        ((F.col("event_id") * 37 + 11) % 2000).alias("ix"),
        ((F.col("event_id") * 73 + 29) % 2000).alias("iy"),
    ).select(
        "*",
        F.expr("ix div 100").alias("cx"),
        F.expr("iy div 100").alias("cy"),
    )
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    probes = pts.select(
        F.col("event_id").alias("a_id"),
        F.col("ix").alias("ax"),
        F.col("iy").alias("ay"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in offs
                ]
            )
        ).alias("o"),
    ).select(
        "a_id",
        "ax",
        "ay",
        (F.col("o.dx") + F.expr("ax div 100")).alias("cx"),
        (F.col("o.dy") + F.expr("ay div 100")).alias("cy"),
    )
    # pin shuffle-hash on the cell key: at 10^12 points BOTH sides are
    # fact-sized — Catalyst left alone broadcasts the exploded probe
    # side at test scale, which is exactly the plan that dies at corpus
    # scale (same discipline as touches_join / pip_join_shuffle)
    cand = probes.hint("shuffle_hash").join(pts, ["cx", "cy"]).filter(
        F.col("event_id") != F.col("a_id")
    )
    d2 = (F.col("ax") - F.col("ix")) * (F.col("ax") - F.col("ix")) + (
        F.col("ay") - F.col("iy")
    ) * (F.col("ay") - F.col("iy"))
    agg = cand.agg(
        F.sum(F.when(d2 <= 625, 1).otherwise(0)).alias("p25"),
        F.sum(F.when(d2 <= 2500, 1).otherwise(0)).alias("p50"),
        F.sum(F.when(d2 <= 10000, 1).otherwise(0)).alias("p100"),
    )
    n_row = ev.agg(F.count("*").alias("n"))
    radii = spark.range(1).select(
        F.explode(F.array(F.lit(25), F.lit(50), F.lit(100))).alias("radius")
    )
    out = radii.crossJoin(F.broadcast(agg)).crossJoin(F.broadcast(n_row))
    pc = (
        F.when(F.col("radius") == 25, F.col("p25"))
        .when(F.col("radius") == 50, F.col("p50"))
        .otherwise(F.col("p100"))
    )
    return out.select(
        F.col("radius").cast("int").alias("radius"),
        F.col("n").cast("bigint").alias("n_points"),
        pc.cast("bigint").alias("pair_count"),
        F.expr(
            # 4e10 * pair_count exceeds int64 once pair_count > ~2.3e8
            # (denser lattice / larger SF): route the product through
            # HUGEINT / DECIMAL(38,0) so both engines stay exact instead
            # of Spark wrapping silently where DuckDB raises (r4 ADVICE).
            # Quotient <= 4e10 by construction (pair_count <= n*(n-1)).
            "CAST(CAST(40000000000 AS DECIMAL(38,0)) * "
            "CASE radius WHEN 25 THEN p25 WHEN 50 THEN p50 ELSE p100 END"
            " div (n * (n - 1)) AS BIGINT)"
        ).alias("k_scaled"),
    ).orderBy("radius")


# ------------------------------------------------ Getis-Ord Gi* hotspots

# The standard hotspot statistic (Getis & Ord 1992, the tool behind
# ArcGIS "Hot Spot Analysis"), sibling of the gated local Moran row but
# with the self-inclusive neighborhood and a z-score THRESHOLD decision.
# z_i = (L_i - xbar*W_i) / (S * sqrt((n*W_i - W_i^2)/(n-1))) crosses
# engines as an EXACT RATIONAL test: with integer cell counts, n cells,
# s = sum x, q = sum x^2, the |z| >= 2.58 (99%) decision is
#   sign(n*L - s*W)  AND  2500*(n-1)*(n*L - s*W)^2 >= 16641*(n*q - s^2)*(n*W - W^2)
# (2.58 = 129/50, squared through the all-integer variance identity
# n^2*S^2 = n*q - s^2) — no sqrt, no float, bit-identical verdicts.
# Universe = cells with >= 1 event (documented; empty cells carry no row
# in either engine).
_GISTAR_ORACLE = """
WITH r0 AS (
  SELECT (event_id * 37 + 11) % 2000 AS ix,
         (event_id * 73 + 29) % 2000 AS iy
  FROM events
),
p AS (SELECT ix * ix // 2000 // 100 AS cx,
             iy * iy // 2000 // 100 AS cy FROM r0),
cells AS (SELECT cx, cy, count(*) AS x FROM p GROUP BY cx, cy),
st AS (SELECT count(*) AS n, sum(x) AS s, sum(x * x) AS q FROM cells),
offs(dx, dy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                        (1,-1),(1,0),(1,1)),
nb AS (
  SELECT a.cx, a.cy, count(b.cx) AS w, sum(b.x) AS l
  FROM cells a
  CROSS JOIN offs o
  JOIN cells b ON b.cx = a.cx + o.dx AND b.cy = a.cy + o.dy
  GROUP BY a.cx, a.cy
),
sc AS (
  SELECT nb.cx, nb.cy, c.x, nb.l, nb.w,
         CAST(st.n AS HUGEINT) * nb.l - CAST(st.s AS HUGEINT) * nb.w
           AS num,
         CAST(st.n AS HUGEINT) * st.q - CAST(st.s AS HUGEINT) * st.s
           AS var_num,
         CAST(st.n AS HUGEINT) * nb.w - CAST(nb.w AS HUGEINT) * nb.w
           AS w_term,
         st.n AS n
  FROM nb JOIN cells c ON c.cx = nb.cx AND c.cy = nb.cy CROSS JOIN st
)
SELECT CAST(cx AS INT) AS cell_x, CAST(cy AS INT) AS cell_y,
       CAST(x AS BIGINT) AS n_events,
       CAST(l AS BIGINT) AS local_sum,
       CAST(w AS INT) AS w,
       CASE
         WHEN num > 0 AND 2500 * (n - 1) * num * num
              >= 16641 * var_num * w_term THEN 'hot'
         WHEN num < 0 AND 2500 * (n - 1) * num * num
              >= 16641 * var_num * w_term THEN 'cold'
         ELSE 'ns'
       END AS gi_flag
FROM sc
ORDER BY cell_x, cell_y
"""


@register_extra("getis_ord_hotspots", _GISTAR_ORACLE)
def getis_ord_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis-Ord Gi* hotspot/coldspot flags at 99% (|z| >= 2.58) over
    the event cell grid (see oracle comment for the exact-rational
    test). The cell map applies a square-law concentration (x -> x^2/L)
    to the lattice axes so the synthetic world has a real density
    gradient — hot cells near the origin, sparse tail — instead of the
    uniform LCG field (which is 'ns' everywhere by construction). Plan: one groupBy collapses events to the cell grid, the
    (n, s, q) global rides a broadcast 1-row aggregate, the
    self-inclusive 3x3 neighborhood is a 9-offset explode + self
    equi-join ON CELL KEYS — grid-sized, never event-sized. The
    decision arithmetic runs in DECIMAL(38,0) (int128-equivalent:
    the squared z test peaks near 1e21 at corpus scale)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    cells = (
        ev.select(
            F.expr(
                "(event_id * 37 + 11) % 2000 * ((event_id * 37 + 11)"
                " % 2000) div 2000 div 100"
            ).alias("cx"),
            F.expr(
                "(event_id * 73 + 29) % 2000 * ((event_id * 73 + 29)"
                " % 2000) div 2000 div 100"
            ).alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count("*").alias("x"))
    )
    st = cells.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("q"),
    )
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    probes = cells.select(
        "cx",
        "cy",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in offs
                ]
            )
        ).alias("o"),
    ).select(
        "cx",
        "cy",
        (F.col("cx") + F.col("o.dx")).alias("nx"),
        (F.col("cy") + F.col("o.dy")).alias("ny"),
    )
    nbr = cells.select(
        F.col("cx").alias("nx"),
        F.col("cy").alias("ny"),
        F.col("x").alias("nbx"),
    )
    nb = (
        probes.join(nbr, ["nx", "ny"])
        .groupBy("cx", "cy")
        .agg(F.count("nbx").alias("w"), F.sum("nbx").alias("l"))
    )
    dec = "decimal(38,0)"
    sc = (
        nb.join(cells, ["cx", "cy"])
        .crossJoin(F.broadcast(st))
        .select(
            "cx",
            "cy",
            "x",
            "l",
            "w",
            "n",
            (
                F.col("n").cast(dec) * F.col("l").cast(dec)
                - F.col("s").cast(dec) * F.col("w").cast(dec)
            ).alias("num"),
            (
                F.col("n").cast(dec) * F.col("q").cast(dec)
                - F.col("s").cast(dec) * F.col("s").cast(dec)
            ).alias("var_num"),
            (
                F.col("n").cast(dec) * F.col("w").cast(dec)
                - F.col("w").cast(dec) * F.col("w").cast(dec)
            ).alias("w_term"),
        )
    )
    lhs = (
        F.lit(2500).cast(dec)
        * (F.col("n") - 1).cast(dec)
        * F.col("num")
        * F.col("num")
    )
    rhs = F.lit(16641).cast(dec) * F.col("var_num") * F.col("w_term")
    return sc.select(
        F.col("cx").cast("int").alias("cell_x"),
        F.col("cy").cast("int").alias("cell_y"),
        F.col("x").cast("bigint").alias("n_events"),
        F.col("l").cast("bigint").alias("local_sum"),
        F.col("w").cast("int").alias("w"),
        F.when((F.col("num") > 0) & (lhs >= rhs), F.lit("hot"))
        .when((F.col("num") < 0) & (lhs >= rhs), F.lit("cold"))
        .otherwise(F.lit("ns"))
        .alias("gi_flag"),
    ).orderBy("cell_x", "cell_y")


# ------------------------------------------- rectangle union (Klee)

# Klee's measure problem in 2-D — the union area of N axis-aligned
# rectangles (footprint coverage, dirty-region accounting, bbox dedup).
# Engine: coordinate-compressed SLAB DECOMPOSITION — distinct x edges
# cut the plane into vertical slabs; within a slab the covered
# y-length is a 1-D interval union (gaps-and-islands via a running-max
# window), and slab contributions are independent — the embarrassingly
# parallel formulation (each slab is one group; at 10^12 rects you
# range-partition slabs). Oracle: LATTICE COUNTING — integer rect
# corners mean union area == number of covered unit cells, counted by
# a relational range join; counting vs interval arithmetic share only
# the definition. Output one row per slab so the hash pins the whole
# decomposition, not just the total.
_KLEE_ORACLE = """
WITH r AS (
  SELECT (o_orderkey * 17) % 180 AS x0,
         (o_orderkey * 29) % 180 AS y0,
         (o_orderkey * 17) % 180 + 4 + o_orderkey % 17 AS x1,
         (o_orderkey * 29) % 180 + 4 + o_orderkey % 13 AS y1
  FROM orders WHERE o_orderkey % 11 = 0
),
xs AS (
  SELECT x, lead(x) OVER (ORDER BY x) AS nx FROM (
    SELECT DISTINCT x0 AS x FROM r UNION SELECT DISTINCT x1 FROM r
  )
),
slabs AS (SELECT x AS sx, nx AS ex FROM xs WHERE nx IS NOT NULL),
cols AS (SELECT unnest(generate_series(0, 199)) AS cx),
rows_ AS (SELECT unnest(generate_series(0, 199)) AS cy),
covered AS (
  SELECT DISTINCT c.cx, w.cy
  FROM cols c JOIN r ON c.cx >= r.x0 AND c.cx < r.x1
  CROSS JOIN rows_ w
  WHERE w.cy >= r.y0 AND w.cy < r.y1
),
per_slab AS (
  SELECT s.sx, s.ex, count(v.cx) AS cells
  FROM slabs s LEFT JOIN covered v ON v.cx >= s.sx AND v.cx < s.ex
  GROUP BY s.sx, s.ex
)
SELECT CAST(sx AS INT) AS slab_x0, CAST(ex AS INT) AS slab_x1,
       CAST(CASE WHEN ex > sx THEN cells // (ex - sx) ELSE 0 END
            AS BIGINT) AS covered_y,
       CAST(cells AS BIGINT) AS area
FROM per_slab ORDER BY slab_x0
"""


@register_extra("rect_union_area", _KLEE_ORACLE)
def rect_union_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Klee's rectangle-union measure via slab decomposition (see
    oracle comment). Plan: distinct x edges -> lead() window makes the
    slab list (edge-count sized); a range join attaches the rects
    spanning each slab; per (slab) group one ordered window computes
    the 1-D union with running max — shuffle keys are slab ids, per-
    group state is one integer. Integer coordinates end-to-end."""
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") % 11 == 0)
        .select(
            ((F.col("o_orderkey") * 17) % 180).alias("x0"),
            ((F.col("o_orderkey") * 29) % 180).alias("y0"),
            (
                (F.col("o_orderkey") * 17) % 180 + 4 + F.col("o_orderkey") % 17
            ).alias("x1"),
            (
                (F.col("o_orderkey") * 29) % 180 + 4 + F.col("o_orderkey") % 13
            ).alias("y1"),
        )
    )
    edges = (
        o.select(F.col("x0").alias("x"))
        .union(o.select(F.col("x1").alias("x")))
        .distinct()
    )
    wx = Window.orderBy("x")
    slabs = (
        edges.select("x", F.lead("x").over(wx).alias("nx"))
        .filter(F.col("nx").isNotNull())
        .select(F.col("x").alias("sx"), F.col("nx").alias("ex"))
    )
    # broadcast the SLAB side (edge-count sized) and stream the rects:
    # a right-outer BNLJ builds left, so the 10^12-rect side is never
    # collected — the left-outer formulation would broadcast the rects
    spanning = o.join(
        F.broadcast(slabs),
        (o["x0"] <= slabs["sx"]) & (o["x1"] >= slabs["ex"]),
        "right",
    )
    wy = (
        Window.partitionBy("sx")
        .orderBy("y0", "y1")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = spanning.withColumn(
        "prevmax", F.max("y1").over(wy)
    ).withColumn(
        "add",
        F.when(
            F.col("y0").isNull(), F.lit(0)
        ).otherwise(
            F.greatest(
                F.lit(0),
                F.col("y1")
                - F.greatest(F.col("y0"), F.coalesce(F.col("prevmax"), F.lit(0))),
            )
        ),
    )
    return (
        contrib.groupBy("sx", "ex")
        .agg(F.sum("add").alias("covered_y"))
        .select(
            F.col("sx").cast("int").alias("slab_x0"),
            F.col("ex").cast("int").alias("slab_x1"),
            F.coalesce(F.col("covered_y"), F.lit(0))
            .cast("long")
            .alias("covered_y"),
            (
                F.coalesce(F.col("covered_y"), F.lit(0))
                * (F.col("ex") - F.col("sx"))
            )
            .cast("long")
            .alias("area"),
        )
        .orderBy("slab_x0")
    )


# ------------------------------------------------ gravity model

# Gravity model of spatial interaction (Zipf 1946 / Stewart): the
# predicted flow between zones scales as M_i * M_j / d^2 — the
# baseline every OD calibration starts from. Zones are the gated
# od_flow_matrix 8x8 grid; masses are origin trip counts, the
# distance is the exact squared grid distance between cell centers,
# and the score is an e6 integer floor (M_i M_j <= 1e8 so products
# stay < 1e15). The top-50 predicted pairs carry their OBSERVED
# flows, so the gate hash freezes the predictor's ranking against
# reality.
_GRAVITY_ORACLE = """
WITH trips AS MATERIALIZED (
  SELECT user_id,
         (((event_id * 37 + 11) % 2000) // 250) * 8
           + ((event_id * 73 + 29) % 2000) // 250 AS cell,
         ts, event_id
  FROM events
),
steps AS MATERIALIZED (
  SELECT user_id, cell AS o,
         lead(cell) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS d
  FROM trips
),
od AS MATERIALIZED (
  SELECT o, d, count(*) AS flow
  FROM steps WHERE d IS NOT NULL AND d <> o
  GROUP BY o, d
),
mass AS MATERIALIZED (
  SELECT o AS cell, sum(flow) AS m FROM od GROUP BY o
),
pairs AS MATERIALIZED (
  SELECT a.cell AS o, b.cell AS d, a.m AS m_o, b.m AS m_d,
         (a.cell // 8 - b.cell // 8) * (a.cell // 8 - b.cell // 8)
         + (a.cell % 8 - b.cell % 8) * (a.cell % 8 - b.cell % 8) AS d2
  FROM mass a JOIN mass b ON b.cell <> a.cell
),
scored AS MATERIALIZED (
  SELECT p.o, p.d, p.m_o, p.m_d, p.d2,
         1000000 * p.m_o * p.m_d // p.d2 AS score_e6,
         coalesce(f.flow, 0) AS observed
  FROM pairs p LEFT JOIN od f ON f.o = p.o AND f.d = p.d
)
SELECT CAST(o AS INT) AS o, CAST(d AS INT) AS d,
       CAST(m_o AS BIGINT) AS m_o, CAST(m_d AS BIGINT) AS m_d,
       CAST(d2 AS BIGINT) AS d2,
       CAST(score_e6 AS BIGINT) AS score_e6,
       CAST(observed AS BIGINT) AS observed
FROM scored
ORDER BY score_e6 DESC, o, d
LIMIT 50
"""


@register_extra("gravity_model_flows", _GRAVITY_ORACLE)
def gravity_model_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gravity-model flow predictions on the OD grid (see oracle
    comment). Plan: trips reuse the od_flow_matrix lag window (one
    user-keyed exchange); masses and the 64x64 pair lattice are
    dim-sized; the top-50 is a bounded sort. Exact integers."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    trips = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.expr(
            "(((event_id * 37 + 11) % 2000) div 250) * 8"
            " + ((event_id * 73 + 29) % 2000) div 250"
        ).alias("cell"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = trips.select(
        F.col("cell").alias("o"), F.lead("cell").over(w).alias("d")
    ).filter(F.col("d").isNotNull() & (F.col("d") != F.col("o")))
    od = steps.groupBy("o", "d").agg(F.count(F.lit(1)).alias("flow"))
    mass = od.groupBy(F.col("o").alias("cell")).agg(
        F.sum("flow").alias("m")
    )
    b = mass.select(F.col("cell").alias("dcell"), F.col("m").alias("m_d"))
    pairs = (
        mass.crossJoin(F.broadcast(b))
        .filter(F.col("dcell") != F.col("cell"))
        .select(
            F.col("cell").alias("o"),
            F.col("dcell").alias("d"),
            F.col("m").alias("m_o"),
            "m_d",
            F.expr(
                "(cell div 8 - dcell div 8) * (cell div 8 - dcell div 8)"
                " + (cell % 8 - dcell % 8) * (cell % 8 - dcell % 8)"
            ).alias("d2"),
        )
    )
    scored = (
        pairs.join(F.broadcast(od), ["o", "d"], "left")
        .withColumn("observed", F.coalesce("flow", F.lit(0)))
        .withColumn(
            "score_e6", F.expr("1000000 * m_o * m_d div d2")
        )
    )
    return (
        scored.select(
            F.col("o").cast("int"),
            F.col("d").cast("int"),
            F.col("m_o").cast("long"),
            F.col("m_d").cast("long"),
            F.col("d2").cast("long"),
            F.col("score_e6").cast("long"),
            F.col("observed").cast("long"),
        )
        .orderBy(F.desc("score_e6"), "o", "d")
        .limit(50)
    )


# ------------------------------------------------ Bresenham lines

# Bresenham's line algorithm (1965) — the integer rasterizer in every
# display driver since: walk the major axis accumulating twice the
# signed error, stepping the minor axis when it overflows. md5
# endpoint pairs on a 64x64 grid; the fold emits the visited-cell
# count (= major span + 1, frozen), both endpoints hit (frozen), and
# an exact positional checksum of the path. All integers; the
# classic 2*err formulation avoids any division.
_BRESENHAM_ORACLE = """
WITH RECURSIVE grp AS MATERIALIZED (
  SELECT DISTINCT p_partkey % 220 AS g FROM part
),
seg AS MATERIALIZED (
  SELECT g,
         ('0x' || substr(md5('x0:' || CAST(g AS VARCHAR)),
                         1, 4))::BIGINT % 64 AS x0,
         ('0x' || substr(md5('y0:' || CAST(g AS VARCHAR)),
                         1, 4))::BIGINT % 64 AS y0,
         (('0x' || substr(md5('x0:' || CAST(g AS VARCHAR)),
                          1, 4))::BIGINT % 64 + 1
          + ('0x' || substr(md5('x1:' || CAST(g AS VARCHAR)),
                            1, 4))::BIGINT % 63) % 64 AS x1,
         ('0x' || substr(md5('y1:' || CAST(g AS VARCHAR)),
                         1, 4))::BIGINT % 64 AS y1
  FROM grp
),
par AS MATERIALIZED (
  SELECT g, x0, y0, x1, y1,
         abs(x1 - x0) AS dx, -abs(y1 - y0) AS dy,
         CASE WHEN x0 < x1 THEN 1 ELSE -1 END AS sx,
         CASE WHEN y0 < y1 THEN 1 ELSE -1 END AS sy,
         greatest(abs(x1 - x0), abs(y1 - y0)) AS span
  FROM seg
),
st(g, i, x, y, err, chk) AS (
  SELECT g, 0, x0, y0, dx + dy, x0 * 1000 + y0 FROM par
  UNION ALL
  SELECT s.g, s.i + 1,
         CASE WHEN 2 * s.err >= p.dy THEN s.x + p.sx ELSE s.x END,
         CASE WHEN 2 * s.err <= p.dx THEN s.y + p.sy ELSE s.y END,
         s.err
         + CASE WHEN 2 * s.err >= p.dy THEN p.dy ELSE 0 END
         + CASE WHEN 2 * s.err <= p.dx THEN p.dx ELSE 0 END,
         s.chk
         + (CASE WHEN 2 * s.err >= p.dy THEN s.x + p.sx ELSE s.x END)
           * 1000
         + CASE WHEN 2 * s.err <= p.dx THEN s.y + p.sy ELSE s.y END
  FROM st s JOIN par p ON p.g = s.g
  WHERE s.i < p.span
)
SELECT CAST(s.g AS BIGINT) AS g,
       CAST(p.span + 1 AS BIGINT) AS n_cells,
       CAST(s.chk AS BIGINT) AS path_checksum,
       CAST(CASE WHEN s.x = p.x1 AND s.y = p.y1 THEN 1 ELSE 0 END
            AS INT) AS endpoint_hit
FROM st s JOIN par p ON p.g = s.g
WHERE s.i = p.span
ORDER BY g
"""


@register_extra("bresenham_line_cells", _BRESENHAM_ORACLE)
def bresenham_line_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bresenham line rasterization (see oracle comment) — one
    guarded fold per segment; endpoint arrival is hash-frozen at 1
    for every segment."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    grp = p.select((F.col("p_partkey") % 220).alias("g")).distinct()

    def _h4(prefix: str) -> F.Column:
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(prefix), F.col("g").cast("string")
                    ).cast("binary")
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("long")

    par = (
        grp.select(
            "g",
            (_h4("x0:") % 64).alias("x0"),
            (_h4("y0:") % 64).alias("y0"),
            ((_h4("x0:") % 64 + 1 + _h4("x1:") % 63) % 64).alias("x1"),
            (_h4("y1:") % 64).alias("y1"),
        )
        .withColumn("dx", F.expr("abs(x1 - x0)"))
        .withColumn("dy", F.expr("-abs(y1 - y0)"))
        .withColumn("sx", F.expr("IF(x0 < x1, 1L, -1L)"))
        .withColumn("sy", F.expr("IF(y0 < y1, 1L, -1L)"))
        .withColumn("span", F.expr("greatest(abs(x1 - x0), abs(y1 - y0))"))
    )
    fold = (
        "aggregate(sequence(1, CAST(span AS INT)),"
        " named_struct('x', x0, 'y', y0, 'err', dx + dy,"
        "              'chk', x0 * 1000 + y0),"
        " (a, i) -> named_struct("
        "   'x', IF(2 * a.err >= dy, a.x + sx, a.x),"
        "   'y', IF(2 * a.err <= dx, a.y + sy, a.y),"
        "   'err', a.err + IF(2 * a.err >= dy, dy, 0L)"
        "          + IF(2 * a.err <= dx, dx, 0L),"
        "   'chk', a.chk + IF(2 * a.err >= dy, a.x + sx, a.x) * 1000"
        "          + IF(2 * a.err <= dx, a.y + sy, a.y)))"
    )
    return (
        par.withColumn("st", F.expr(fold))
        .select(
            F.col("g").cast("long"),
            (F.col("span") + 1).cast("long").alias("n_cells"),
            F.col("st.chk").cast("long").alias("path_checksum"),
            F.when(
                (F.col("st.x") == F.col("x1"))
                & (F.col("st.y") == F.col("y1")),
                1,
            )
            .otherwise(0)
            .cast("int")
            .alias("endpoint_hit"),
        )
        .orderBy("g")
    )


# ------------------------------------------------ Bezier evaluation

# Cubic Bezier curves (de Casteljau 1959 / Bezier 1962) evaluated
# EXACTLY on the t = k/16 lattice: control coordinates are scaled by
# 4096 = 16^3 so the Bernstein form
#   B(k) = sum_i C(3,i) (16-k)^(3-i) k^i P_i / 4096
# divides exactly — no float ever appears. Endpoint interpolation
# (B(0) = P0, B(16) = P3) and bounding-box containment (a weak but
# exact form of the convex-hull property) are recomputed per point
# and hash-frozen at 1.
_BEZIER_ORACLE = """
WITH grp AS MATERIALIZED (
  SELECT DISTINCT p_partkey % 80 AS g FROM part
),
ctrl AS MATERIALIZED (
  SELECT g,
         ('0x' || substr(md5('bx0:' || CAST(g AS VARCHAR)),
                         1, 4))::BIGINT % 256 * 4096 AS x0,
         ('0x' || substr(md5('by0:' || CAST(g AS VARCHAR)),
                         1, 4))::BIGINT % 256 * 4096 AS y0,
         ('0x' || substr(md5('bx1:' || CAST(g AS VARCHAR)),
                         1, 4))::BIGINT % 256 * 4096 AS x1,
         ('0x' || substr(md5('by1:' || CAST(g AS VARCHAR)),
                         1, 4))::BIGINT % 256 * 4096 AS y1,
         ('0x' || substr(md5('bx2:' || CAST(g AS VARCHAR)),
                         1, 4))::BIGINT % 256 * 4096 AS x2,
         ('0x' || substr(md5('by2:' || CAST(g AS VARCHAR)),
                         1, 4))::BIGINT % 256 * 4096 AS y2,
         ('0x' || substr(md5('bx3:' || CAST(g AS VARCHAR)),
                         1, 4))::BIGINT % 256 * 4096 AS x3,
         ('0x' || substr(md5('by3:' || CAST(g AS VARCHAR)),
                         1, 4))::BIGINT % 256 * 4096 AS y3
  FROM grp
),
pts AS MATERIALIZED (
  SELECT c.*, k.k,
         ((16 - k.k) * (16 - k.k) * (16 - k.k) * x0
          + 3 * (16 - k.k) * (16 - k.k) * k.k * x1
          + 3 * (16 - k.k) * k.k * k.k * x2
          + k.k * k.k * k.k * x3) // 4096 AS bx,
         ((16 - k.k) * (16 - k.k) * (16 - k.k) * y0
          + 3 * (16 - k.k) * (16 - k.k) * k.k * y1
          + 3 * (16 - k.k) * k.k * k.k * y2
          + k.k * k.k * k.k * y3) // 4096 AS by
  FROM ctrl c, (SELECT unnest(generate_series(0, 16)) AS k) k
)
SELECT CAST(g AS BIGINT) AS g, CAST(k AS INT) AS k,
       CAST(bx AS BIGINT) AS bx, CAST(by AS BIGINT) AS by,
       CAST(CASE WHEN (k = 0 AND bx = x0 AND by = y0)
                   OR (k = 16 AND bx = x3 AND by = y3)
                   OR (k > 0 AND k < 16) THEN 1 ELSE 0 END AS INT)
         AS endpoint_ok,
       CAST(CASE WHEN bx >= least(x0, x1, x2, x3)
                  AND bx <= greatest(x0, x1, x2, x3)
                  AND by >= least(y0, y1, y2, y3)
                  AND by <= greatest(y0, y1, y2, y3)
            THEN 1 ELSE 0 END AS INT) AS in_bbox
FROM pts ORDER BY g, k
"""


@register_extra("bezier_curve_points", _BEZIER_ORACLE)
def bezier_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cubic Bezier lattice evaluation (see oracle comment) —
    pure Bernstein column algebra per (curve, k), map-only."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    sess = p.sparkSession
    grp = p.select((F.col("p_partkey") % 80).alias("g")).distinct()

    def _h4(prefix: str) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(prefix), F.col("g").cast("string")
                        ).cast("binary")
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % 256
            * 4096
        )

    ctrl = grp.select(
        "g",
        _h4("bx0:").alias("x0"), _h4("by0:").alias("y0"),
        _h4("bx1:").alias("x1"), _h4("by1:").alias("y1"),
        _h4("bx2:").alias("x2"), _h4("by2:").alias("y2"),
        _h4("bx3:").alias("x3"), _h4("by3:").alias("y3"),
    )
    ks = sess.range(0, 17).select(F.col("id").cast("long").alias("k"))
    pts = ctrl.crossJoin(F.broadcast(ks)).withColumn(
        "bx",
        F.expr(
            "((16 - k) * (16 - k) * (16 - k) * x0"
            " + 3 * (16 - k) * (16 - k) * k * x1"
            " + 3 * (16 - k) * k * k * x2 + k * k * k * x3) div 4096"
        ),
    ).withColumn(
        "by",
        F.expr(
            "((16 - k) * (16 - k) * (16 - k) * y0"
            " + 3 * (16 - k) * (16 - k) * k * y1"
            " + 3 * (16 - k) * k * k * y2 + k * k * k * y3) div 4096"
        ),
    )
    return pts.select(
        F.col("g").cast("long"),
        F.col("k").cast("int"),
        F.col("bx").cast("long"),
        F.col("by").cast("long"),
        F.expr(
            "CAST(CASE WHEN (k = 0 AND bx = x0 AND by = y0)"
            " OR (k = 16 AND bx = x3 AND by = y3)"
            " OR (k > 0 AND k < 16) THEN 1 ELSE 0 END AS INT)"
        ).alias("endpoint_ok"),
        F.expr(
            "CAST(CASE WHEN bx >= least(x0, x1, x2, x3)"
            " AND bx <= greatest(x0, x1, x2, x3)"
            " AND by >= least(y0, y1, y2, y3)"
            " AND by <= greatest(y0, y1, y2, y3)"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("in_bbox"),
    ).orderBy("g", "k")


# ------------------------------------------------ site percolation

# Site percolation (Broadbent & Hammersley 1957): on a 12x12 lattice
# the probability of a top-to-bottom open crossing jumps through the
# critical density p_c ~ 0.5927. Thirty md5 grids at each of six
# densities; crossing is decided EXACTLY by transitive closure over
# open-site adjacency (8 doubling rounds cover path length 256 > any
# simple path on 144 cells). The frozen crossing counts trace the
# phase transition: 0/30 at p=.40 rising to ~27/30 at p=.70 with the
# midpoint at p_c.
_PERC_ORACLE = """
WITH RECURSIVE ps AS MATERIALIZED (
  SELECT unnest([40, 50, 55, 59, 63, 70]) AS p
),
cells AS MATERIALIZED (
  SELECT p, g.g, r.r * 12 + c.c AS cell, r.r AS row_
  FROM ps,
       (SELECT unnest(generate_series(0, 29)) AS g) g,
       (SELECT unnest(generate_series(0, 11)) AS r) r,
       (SELECT unnest(generate_series(0, 11)) AS c) c
  WHERE ('0x' || substr(md5('pc:' || CAST(p AS VARCHAR) || ':'
           || CAST(g.g AS VARCHAR) || ':' || CAST(r.r AS VARCHAR)
           || ':' || CAST(c.c AS VARCHAR)), 1, 4))::BIGINT % 100 < p
),
adj AS MATERIALIZED (
  SELECT a.p, a.g, a.cell AS x, b.cell AS y
  FROM cells a
  JOIN cells b ON b.p = a.p AND b.g = a.g
   AND ((b.cell = a.cell + 1 AND a.cell % 12 < 11)
     OR (b.cell = a.cell - 1 AND a.cell % 12 > 0)
     OR b.cell = a.cell + 12 OR b.cell = a.cell - 12)
),
reach(p, g, x, y) AS (
  -- extend by one edge per iteration: DuckDB's recursive term sees
  -- ONLY the previous iteration's rows, so closure-by-self-join
  -- (doubling) silently misses odd path lengths — the Spark side
  -- doubles over the ACCUMULATED relation instead, where it is valid
  SELECT p, g, x, y FROM adj
  UNION
  SELECT r.p, r.g, r.x, a.y
  FROM reach r JOIN adj a
    ON a.p = r.p AND a.g = r.g AND a.x = r.y
),
crossing AS MATERIALIZED (
  SELECT DISTINCT r.p, r.g
  FROM reach r
  JOIN cells a ON a.p = r.p AND a.g = r.g AND a.cell = r.x
                AND a.row_ = 0
  JOIN cells b ON b.p = r.p AND b.g = r.g AND b.cell = r.y
                AND b.row_ = 11
)
SELECT CAST(ps.p AS INT) AS p_pct,
       CAST(count(c.g) AS BIGINT) AS n_crossing,
       CAST(30 AS BIGINT) AS n_grids
FROM ps LEFT JOIN crossing c ON c.p = ps.p
GROUP BY ps.p ORDER BY p_pct
"""


@register_extra("site_percolation_crossing", _PERC_ORACLE)
def site_percolation_crossing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation crossing counts per density (see oracle comment) —
    exact closure via doubling joins; grids are dim-sized."""
    sess = spark
    ps = sess.createDataFrame(
        [(40,), (50,), (55,), (59,), (63,), (70,)], "p int"
    )
    gs = sess.range(0, 30).select(F.col("id").cast("int").alias("g"))
    rs = sess.range(0, 12).select(F.col("id").cast("int").alias("r"))
    cs = sess.range(0, 12).select(F.col("id").cast("int").alias("c"))
    cells = (
        ps.crossJoin(F.broadcast(gs))
        .crossJoin(F.broadcast(rs))
        .crossJoin(F.broadcast(cs))
        .filter(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("pc:"),
                            F.col("p").cast("string"),
                            F.lit(":"),
                            F.col("g").cast("string"),
                            F.lit(":"),
                            F.col("r").cast("string"),
                            F.lit(":"),
                            F.col("c").cast("string"),
                        ).cast("binary")
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % 100
            < F.col("p")
        )
        .select(
            "p", "g", (F.col("r") * 12 + F.col("c")).alias("cell"),
            F.col("r").alias("row_"),
        )
        .localCheckpoint(eager=True)
    )
    b = cells.select(
        F.col("p").alias("pb"), F.col("g").alias("gb"),
        F.col("cell").alias("cb"),
    )
    adj = (
        cells.join(
            b,
            (F.col("pb") == F.col("p")) & (F.col("gb") == F.col("g"))
            & (
                ((F.col("cb") == F.col("cell") + 1)
                 & (F.col("cell") % 12 < 11))
                | ((F.col("cb") == F.col("cell") - 1)
                   & (F.col("cell") % 12 > 0))
                | (F.col("cb") == F.col("cell") + 12)
                | (F.col("cb") == F.col("cell") - 12)
            ),
        )
        .select("p", "g", F.col("cell").alias("x"), F.col("cb").alias("y"))
        .localCheckpoint(eager=True)
    )
    reach = adj
    for _ in range(8):
        s2 = reach.select(
            F.col("p").alias("ps2"), F.col("g").alias("gs2"),
            F.col("x").alias("xs2"), F.col("y").alias("ys2"),
        )
        nxt = reach.join(
            s2,
            (F.col("ps2") == F.col("p")) & (F.col("gs2") == F.col("g"))
            & (F.col("xs2") == F.col("y")),
        ).select("p", "g", "x", F.col("ys2").alias("y"))
        reach = reach.unionByName(nxt).distinct()
        reach = reach.sparkSession.createDataFrame(
            reach.rdd.cache(), reach.schema
        )
    tops = cells.filter(F.col("row_") == 0).select(
        "p", "g", F.col("cell").alias("x")
    )
    bots = cells.filter(F.col("row_") == 11).select(
        F.col("p").alias("p3"), F.col("g").alias("g3"),
        F.col("cell").alias("y3"),
    )
    crossing = (
        reach.join(tops, ["p", "g", "x"])
        .join(
            bots,
            (F.col("p3") == F.col("p")) & (F.col("g3") == F.col("g"))
            & (F.col("y3") == F.col("y")),
        )
        .select("p", "g")
        .distinct()
    )
    return (
        ps.join(
            crossing.groupBy("p").agg(F.count(F.lit(1)).alias("n_crossing")),
            "p",
            "left",
        )
        .select(
            F.col("p").cast("int").alias("p_pct"),
            F.coalesce("n_crossing", F.lit(0)).cast("long")
            .alias("n_crossing"),
            F.lit(30).cast("long").alias("n_grids"),
        )
        .orderBy("p_pct")
    )
