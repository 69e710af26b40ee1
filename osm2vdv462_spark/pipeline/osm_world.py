"""World tables from a REAL `.osm.pbf` extract.

The synthetic `world.py` bypasses two ingest stages that osm2pgsql
performs for the reference (main.lua + osm2pgsql's middle): the tag
dispatch (pipeline/extract.py, oracle-gated) and WAY-GEOMETRY ASSEMBLY
— resolving each way's node-ref list against the node store and
emitting an ordered linestring/polygon. This module supplies the
latter Spark-first and builds the pipeline's input tables
(world_dfs-shaped) from a real extract, so the whole stop-places DAG
runs end-to-end on the reference's own example data
(tests/test_real_world.py).

Scale shape: the ref->node resolution is THE big shuffle of any OSM
ingest (planet: ~9e9 nodes, ~1e9 ways averaging ~9 refs). It is an
equi-join on node id between two fact tables — both sides hash-
partition on the id, the way side pre-exploded with positional
ordinality, then one partial-aggregated `collect_list(struct(pos,
lon, lat))` + JVM `array_sort` rebuilds vertex order without a
sort-within-group shuffle. Only the final WKB byte encoding is a
pandas UDF (one Arrow batch pass, no per-row Python logic beyond the
encoder)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..geo import wkb as _wkb
from ..sources import pbf as _pbf
from . import extract as _extract


def assemble_way_geometries(pbf_df: DataFrame) -> DataFrame:
    """(osm_id, geom, is_closed, n_refs, n_resolved) per way.

    Extract-clipped ways can reference nodes outside the file:
    ``n_resolved < n_refs`` marks them; geometry uses the resolved
    prefix order (matching osm2pgsql's behavior for clipped input).
    Closed + fully-resolved ways encode as polygons downstreamable by
    the area heuristic; everything else as linestrings."""
    nodes = pbf_df.filter(F.col("element_type") == "node").select(
        F.col("osm_id").alias("ref"), "lon", "lat"
    )
    ways = pbf_df.filter(F.col("element_type") == "way").select(
        "osm_id",
        F.size("refs").alias("n_refs"),
        (F.element_at("refs", 1) == F.element_at("refs", -1)).alias("is_closed"),
        F.posexplode("refs").alias("pos", "ref"),
    )
    j = ways.join(nodes, "ref")
    per_way = j.groupBy("osm_id", "n_refs", "is_closed").agg(
        F.array_sort(F.collect_list(F.struct("pos", "lon", "lat"))).alias("pts")
    )

    @F.pandas_udf("binary")
    def _encode(pts: pd.Series, closed: pd.Series) -> pd.Series:
        out = []
        for p, c in zip(pts, closed):
            coords = np.array([[q["lon"], q["lat"]] for q in p], np.float64)
            if c and len(coords) >= 4:
                out.append(bytes(_wkb.encode_polygon([coords])))
            elif len(coords) >= 2:
                out.append(bytes(_wkb.encode_linestring(coords)))
            else:
                out.append(None)
        return pd.Series(out, dtype=object)

    return per_way.select(
        "osm_id",
        _encode(F.col("pts"), F.col("is_closed")).alias("geom"),
        "is_closed",
        "n_refs",
        F.size("pts").alias("n_resolved"),
    )


def world_from_pbf(
    spark: SparkSession, path: str, cached: list | None = None
) -> dict[str, DataFrame]:
    """The stop-places pipeline's input tables (world_dfs schemas) from
    a real extract: scan -> dispatch -> geometry assembly -> per-table
    projection. The raw scan and the dispatched base are cached; both
    are appended to ``cached`` so the caller can release them."""
    raw = _pbf.read_pbf(spark, path).cache()
    dispatched = _extract.dispatch(_pbf.elements_for_dispatch(raw)).select(
        "osm_id", "osm_type", "target_table", "ifopt"
    )
    tagged = raw.select(
        "osm_id",
        "element_type",
        F.coalesce(
            F.col("tags"), F.create_map().cast("map<string,string>")
        ).alias("tags"),
        "lon",
        "lat",
        "member_types",
        "member_refs",
    )
    way_geoms = assemble_way_geometries(raw).select(
        F.col("osm_id").alias("_wid"), F.col("geom").alias("_wgeom")
    )

    @F.pandas_udf("binary")
    def _point(lon: pd.Series, lat: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if pd.isna(x) else bytes(_wkb.encode_point(x, y))
                for x, y in zip(lon, lat)
            ],
            dtype=object,
        )

    t = F.col("element_type")
    tagged = tagged.withColumn(
        "osm_type",
        F.when(t == "node", "N").when(t == "way", "W").otherwise("R"),
    )
    base = (
        tagged.join(dispatched, ["osm_id", "osm_type"])
        .join(
            way_geoms, F.col("osm_id") == way_geoms["_wid"], "left"
        )
        .withColumn(
            "geom",
            F.when(t == "node", _point(F.col("lon"), F.col("lat")))
            .when(t == "way", F.col("_wgeom"))
            .otherwise(F.lit(None).cast("binary")),  # relation geoms:
            # member-assembled multipolygons not needed by any consumer
            # (stop_areas has no geometry column; relation platforms are
            # dropped like the reference's osm2pgsql config does)
        )
        .cache()
    )
    if cached is not None:
        cached.extend([raw, base])

    def table(name):
        return base.filter(F.col("target_table") == name)

    # geometry-less platforms (relation platforms — no member assembly,
    # see above — and bbox-clipped ways with <2 resolved nodes) drop,
    # as they do from osm2pgsql's output for clipped extracts
    platforms = (
        table("platforms")
        .filter(F.col("geom").isNotNull())
        .select(
            "osm_id", "osm_type", F.col("ifopt").alias("IFOPT"), "tags", "geom"
        )
    )
    platform_edges = table("platforms_edges").select(
        "osm_id", "osm_type", "tags", "geom"
    )
    stop_positions = table("stop_positions").select(
        F.col("osm_id").alias("node_id"),
        F.col("ifopt").alias("IFOPT"),
        "tags",
        "geom",
    )
    entrances = table("entrances").select(
        F.col("osm_id").alias("node_id"), "tags", "geom"
    )
    pois = table("pois").select("osm_id", "osm_type", "tags", "geom")
    highways = table("highways").select("osm_id", "osm_type", "tags", "geom")
    parking = table("parking").select("osm_id", "osm_type", "tags", "geom")

    sa = table("stop_areas")
    stop_areas = sa.select(
        F.col("osm_id").alias("relation_id"),
        F.col("ifopt").alias("IFOPT"),
        "tags",
    )
    members = (
        sa.select(
            F.col("osm_id").alias("relation_id"),
            F.explode(F.arrays_zip("member_types", "member_refs")).alias("m"),
        )
        .select(
            "relation_id",
            F.col("m.member_refs").alias("member_id"),
            F.when(F.col("m.member_types") == "node", "N")
            .when(F.col("m.member_types") == "way", "W")
            .otherwise("R")
            .alias("osm_type"),
        )
    )
    return {
        "stop_areas": stop_areas,
        "stop_areas_members_ref": members,
        "platforms": platforms,
        "platforms_edges": platform_edges,
        "stop_positions": stop_positions,
        "entrances": entrances,
        "pois": pois,
        "highways": highways,
        "parking": parking,
    }
