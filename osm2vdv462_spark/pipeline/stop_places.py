"""Stop-places view DAG re-expressed as DataFrame transformations.

Mirrors /root/reference/pipeline/stop_places/sql/stop_places.sql ("SP")
view-for-view; each function documents its source view. All geometry math
runs in the Arrow-vectorized geo kernel; tag logic stays in Catalyst.

Ordering note: Postgres relies on arbitrary-but-stable scan order for
array_agg[1] / jsonb_combine; the engine pins the normative order
(osm_id, osm_type) everywhere a merge is order-sensitive (SURVEY.md §7
"order-sensitive merges").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.parsers import get_level
from ..geo.columns import est_width_m, merge_geoms
from ..operators.cluster import connected_components
from ..operators.spatial_join import touches_join


def platforms_with_width(platforms: DataFrame) -> DataFrame:
    """SP:961-1000 platforms_with_width: estimate polygon platform width
    and inject it as tags['est_width'] (2 dp). Non-polygons unchanged."""
    w = F.round(est_width_m(F.col("geom")), 2)
    tags2 = F.when(
        w.isNotNull(),
        F.map_concat(
            F.col("tags"), F.create_map(F.lit("est_width"), F.format_string("%.2f", w))
        ),
    ).otherwise(F.col("tags"))
    return platforms.select(
        "osm_id", "osm_type", "IFOPT", tags2.alias("tags"), "geom"
    )


def platforms_split(pww: DataFrame, platforms_edges: DataFrame) -> DataFrame:
    """SP:1008-1036 platforms_split: explode multi-IFOPT platforms
    (';'-separated, WITH ORDINALITY), then LEFT-join platform edges that
    ST_Touch the platform AND whose tags['ref'] equals the platform's
    positional refs[index]. Edge tags/geometry override the platform's."""
    ps = pww.select(
        "osm_id",
        "osm_type",
        "tags",
        "geom",
        F.split(F.element_at("tags", "ref"), ";").alias("refs"),
        F.posexplode(F.split("IFOPT", ";")).alias("index0", "split_IFOPT"),
    ).withColumn("ref_at", F.col("refs")[F.col("index0")])

    # spatial phase once per (platform, edge) candidate: cell-cover join +
    # exact touches, keyed by synthetic ids (osm ids can collide across type)
    pl_keyed = pww.select(
        F.concat_ws("/", "osm_type", F.col("osm_id").cast("string")).alias("_pk"),
        "geom",
    ).dropDuplicates(["_pk"])
    pe_keyed = platforms_edges.select(
        F.concat_ws("/", "osm_type", F.col("osm_id").cast("string")).alias("_ek"),
        "geom",
    ).dropDuplicates(["_ek"])
    touching = touches_join(
        pl_keyed,
        pe_keyed,
        left_id="_pk",
        left_wkb="geom",
        right_id="_ek",
        right_wkb="geom",
        predicate="touches",
    )

    pe = platforms_edges.select(
        F.concat_ws("/", "osm_type", F.col("osm_id").cast("string")).alias("_ek"),
        F.col("tags").alias("pe_tags"),
        F.col("geom").alias("pe_geom"),
        F.element_at("tags", "ref").alias("pe_ref"),
    )
    cand = touching.join(pe, "_ek").withColumnRenamed("_pk", "_ck")

    base = ps.withColumn(
        "_pk", F.concat_ws("/", "osm_type", F.col("osm_id").cast("string"))
    )
    with_edge = base.join(cand, base["_pk"] == cand["_ck"]).filter(
        F.col("ref_at").isNotNull() & (F.col("ref_at") == F.col("pe_ref"))
    )
    # LEFT JOIN semantics: a (platform, split_IFOPT) with no ref-matching
    # touching edge still appears once, with its own tags/geometry
    matched = with_edge.select("_pk", "split_IFOPT").distinct()
    unmatched = base.join(matched, ["_pk", "split_IFOPT"], "left_anti")

    def _finish(df: DataFrame, has_edge: bool) -> DataFrame:
        tags = (
            F.map_concat("tags", "pe_tags") if has_edge else F.col("tags")
        )
        geom = F.col("pe_geom") if has_edge else F.col("geom")
        return df.select(
            "osm_type",
            "osm_id",
            F.col("split_IFOPT").alias("IFOPT"),
            tags.alias("tags"),
            geom.alias("geom"),
        )

    return _finish(with_edge, True).unionByName(_finish(unmatched, False))


def platforms_merged(split: DataFrame, cached: list | None = None) -> DataFrame:
    """SP:1048-1065 platforms_merged: global eps=0 DBSCAN (= connected
    components of the intersects graph), then GROUP BY (IFOPT, cluster):
    first (osm_id, osm_type) in pinned order, ST_Union geometry,
    jsonb_combine tags (last-key-wins in pinned order). The clustered
    rows both aggregations read are cached and appended to ``cached``
    so the caller can release them."""
    # content-hash row id (stable across recomputation, unlike
    # monotonically_increasing_id); rows identical in all four fields
    # would cluster identically anyway
    rows = split.withColumn(
        "_row", F.xxhash64("osm_id", "osm_type", "IFOPT", "geom")
    ).localCheckpoint(eager=True)
    a = rows.select(F.col("_row").alias("src"), "geom")
    b = rows.select(F.col("_row").alias("dst"), "geom")
    pairs = touches_join(
        a,
        b,
        left_id="src",
        left_wkb="geom",
        right_id="dst",
        right_wkb="geom",
        predicate="intersects",
    )
    comp = connected_components(
        rows.select(F.col("_row").alias("id")), pairs, vid="id", src="src", dst="dst"
    )
    clustered = rows.join(comp, rows["_row"] == comp["id"]).drop("id").cache()
    if cached is not None:
        cached.append(clustered)

    # pinned merge order: (osm_id, osm_type). Structs with maps are not
    # orderable in Spark, so geometry/id aggregation and the last-wins tag
    # fold (A1 jsonb_combine) run as two plans joined on the group key.
    gm = F.struct(F.col("osm_id"), F.col("osm_type"), F.col("geom"))
    base = (
        clustered.groupBy("IFOPT", "component")
        .agg(
            F.min(F.struct("osm_id", "osm_type")).alias("rep"),
            F.array_sort(F.collect_list(gm)).alias("gs"),
        )
        .select(
            "IFOPT",
            "component",
            F.col("rep.osm_id").alias("osm_id"),
            F.col("rep.osm_type").alias("osm_type"),
            merge_geoms(F.transform("gs", lambda m: m["geom"])).alias("geom"),
        )
    )
    entries = clustered.select(
        "IFOPT",
        "component",
        F.struct("osm_id", "osm_type").alias("ord"),
        F.explode_outer("tags").alias("key", "val"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("IFOPT", "component", "key").orderBy(F.col("ord").desc())
    tags = (
        entries.filter(F.col("key").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("IFOPT", "component")
        .agg(F.map_from_entries(F.collect_list(F.struct("key", "val"))).alias("tags"))
    )
    return (
        base.join(tags, ["IFOPT", "component"], "left")
        .select(
            "osm_id",
            "osm_type",
            "IFOPT",
            "geom",
            F.coalesce("tags", F.create_map().cast("map<string,string>")).alias(
                "tags"
            ),
        )
    )


def final_quays(merged: DataFrame, members_ref: DataFrame) -> DataFrame:
    """SP:1072-1077 final_quays: membership join + level derivation."""
    return (
        merged.join(
            F.broadcast(members_ref),
            (merged["osm_id"] == members_ref["member_id"])
            & (merged["osm_type"] == members_ref["osm_type"]),
        )
        .drop(members_ref["osm_type"])
        .drop("member_id")
        .withColumn("level", get_level(F.col("tags")))
    )


def final_entrances(entrances: DataFrame, members_ref: DataFrame) -> DataFrame:
    """SP:1087-1092 final_entrances: node membership join; IFOPT = node id
    as text; level from tags."""
    m = members_ref.filter(F.col("osm_type") == "N")
    return (
        entrances.join(
            F.broadcast(m), entrances["node_id"] == m["member_id"]
        )
        .drop("member_id", "osm_type")
        .withColumn("IFOPT", F.col("node_id").cast("string"))
        .withColumn("level", get_level(F.col("tags")))
    )


def final_access_spaces(access_spaces: DataFrame, pois: DataFrame) -> DataFrame:
    """SP:1102-1107 final_access_spaces: left-join POI tags onto derived
    access spaces, empty-map fallback."""
    p = pois.filter(F.col("osm_type") == "N").select(
        F.col("osm_id").alias("_poi_id"), F.col("tags").alias("poi_tags")
    )
    return (
        access_spaces.join(
            F.broadcast(p), access_spaces["node_id"] == F.col("_poi_id"), "left"
        )
        .drop("_poi_id")
        .withColumn(
            "tags",
            F.coalesce(F.col("poi_tags"), F.create_map().cast("map<string,string>")),
        )
        .drop("poi_tags")
    )
