"""Stop-places pipeline queries over the deterministic synthetic OSM
world (pipeline/world.py), WITH closed-form DuckDB oracles.

The world's ids are structured (100000 + area*1000 + role slot), its
platforms are axis-aligned rectangles, and the route synthesizer's hash
is md5-derived — so every gate-checked output (quay ids/IFOPTs/widths,
access-space nodes/levels, path-link endpoints) has a closed form the
oracle reproduces with range() + CASE arithmetic + the same haversine
formula (the datagen.py technique applied to the pipeline). The DBSCAN
merge / stitcher SEMANTICS are additionally covered by brute-force
oracles in tests/test_stop_places.py and tests/test_routing.py on
pathological fixtures the closed forms don't reach.

The world is seeded per sf_dir (more areas at bigger sf); the oracles
derive the same area count from the customer view's row count.

Every query reads the stage tables of the export's own stage DAG
(pipeline/runner.run_stages), run once per (session, sf): the gate
checks the stages the export writes, not a second wiring of them.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..pipeline import export as ex_mod, runner
from . import register


def _n_areas(sf_dir: str) -> int:
    if "0.001" in sf_dir:
        return 4
    if "0.01" in sf_dir:
        return 8
    return 16


# ---------------------------------------------------------------- oracles
#
# Closed-form row generators mirroring pipeline/world.py's structured ids.
# _P enumerates areas (count derived from the customer view: 150 rows ->
# 4 areas, 1500 -> 8, 15000+ -> 16, matching _n_areas), quay/entrance
# IFOPTs, and the md5-derived route hash h exactly as
# routing.synthesize_routes computes it.

_P = """
p AS (
  SELECT CAST(t.i AS BIGINT) AS i,
         CAST(1000 + t.i AS BIGINT) AS rel,
         CAST(100000 + t.i * 1000 AS BIGINT) AS base,
         'de:09162:' || CAST(t.i AS VARCHAR) AS ifopt
  FROM range(0, 16) t(i)
  WHERE t.i < (SELECT CASE WHEN count(*) >= 15000 THEN 16
                           WHEN count(*) >= 1500 THEN 8
                           ELSE 4 END
               FROM customer)
)
"""

# width of an axis-aligned rect h meters tall: the oriented envelope's
# short side = N-S haversine of h/111320 degrees (geo/kernel.py:21-32,
# EARTH_R = 6371008.8), rounded to 2 dp and %.2f-formatted
_W = (
    "printf('%.2f', round(2 * 6371008.8 * "
    "asin(sin(radians({h} / 111320.0) / 2)), 2))"
)

_QUAYS_SQL = (
    "WITH "
    + _P
    + f"""
SELECT rel AS relation_id, base + 1 AS osm_id, 'W' AS osm_type,
       ifopt || ':1' AS "IFOPT", CAST(0.0 AS DOUBLE) AS level,
       {_W.format(h=5)} AS est_width
FROM p
UNION ALL
SELECT rel, base + 2, 'W', ifopt || ':2', 0.0, {_W.format(h=6)} FROM p
UNION ALL
SELECT rel, base + 4, 'W', ifopt || ':3', 0.0, {_W.format(h=8)}
FROM p WHERE i % 2 = 0
UNION ALL
SELECT rel, base + 4, 'W', ifopt || ':4', 0.0, {_W.format(h=8)}
FROM p WHERE i % 2 = 0
UNION ALL
SELECT rel, base + 7, 'N', ifopt || ':9', -1.0, CAST(NULL AS VARCHAR)
FROM p WHERE i % 3 = 0
ORDER BY relation_id, "IFOPT"
"""
)

# stop-area edges (ordered quay pairs + quay<->entrance both ways), each
# with the stitcher's route variant v = h % 3 and node base nb
_ROUTES = (
    _P
    + """,
quays AS (
  SELECT rel, ifopt || ':1' AS q FROM p
  UNION ALL SELECT rel, ifopt || ':2' FROM p
  UNION ALL SELECT rel, ifopt || ':3' FROM p WHERE i % 2 = 0
  UNION ALL SELECT rel, ifopt || ':4' FROM p WHERE i % 2 = 0
  UNION ALL SELECT rel, ifopt || ':9' FROM p WHERE i % 3 = 0
),
ents AS (
  SELECT rel, CAST(base + 20 AS VARCHAR) AS e FROM p
  UNION ALL SELECT rel, CAST(base + 21 AS VARCHAR) FROM p WHERE i % 2 = 1
),
edges AS (
  SELECT a.rel AS rel, a.q AS s, b.q AS t,
         'QUAY' AS st, 'QUAY' AS tt
  FROM quays a JOIN quays b ON a.rel = b.rel AND a.q <> b.q
  UNION ALL
  SELECT q.rel, q.q, e.e, 'QUAY', 'ENTRANCE'
  FROM quays q JOIN ents e ON q.rel = e.rel
  UNION ALL
  SELECT q.rel, e.e, q.q, 'ENTRANCE', 'QUAY'
  FROM quays q JOIN ents e ON q.rel = e.rel
),
routes AS (
  SELECT rel, s, t, st, tt, h % 3 AS v,
         CAST(9000000 + (h % 900000000) * 10 AS BIGINT) AS nb
  FROM (SELECT *, ('0x' || substr(md5(s || '|' || t), 1, 15))::BIGINT AS h
        FROM edges)
),
aug AS (
  SELECT rel, s, t, st, tt, v,
         CAST(rel AS VARCHAR) || '_' || CAST(nb + 2 AS VARCHAR) || ':0'
           AS as1,
         CASE WHEN v = 0
              THEN CAST(rel AS VARCHAR) || '_' || CAST(nb + 3 AS VARCHAR)
                   || ':1'
              ELSE CAST(rel AS VARCHAR) || '_' || CAST(nb + 2 AS VARCHAR)
                   || ':-1' END AS as2,
         nb + 2 AS n1,
         CASE WHEN v = 0 THEN nb + 3 ELSE nb + 2 END AS n2,
         CAST(CASE WHEN v = 0 THEN 1.0 ELSE -1.0 END AS DOUBLE) AS mid_lvl
  FROM routes
)
"""
)

_LINKS_SQL = (
    "WITH "
    + _ROUTES
    + """
SELECT rel AS stop_area_relation_id, from_ifopt, to_ifopt,
       from_type, to_type, level
FROM (
  SELECT rel, s AS from_ifopt, t AS to_ifopt, st AS from_type,
         tt AS to_type, CAST(0.0 AS DOUBLE) AS level
  FROM aug WHERE v = 2
  UNION ALL
  SELECT rel, s, as1, st, 'ACCESS_SPACE', 0.0 FROM aug WHERE v <> 2
  UNION ALL
  SELECT rel, as1, as2, 'ACCESS_SPACE', 'ACCESS_SPACE', mid_lvl
  FROM aug WHERE v <> 2
  UNION ALL
  SELECT rel, as2, t, 'ACCESS_SPACE', tt, 0.0 FROM aug WHERE v <> 2
)
ORDER BY stop_area_relation_id, from_ifopt, to_ifopt
"""
)

_ACCESS_SQL = (
    "WITH "
    + _ROUTES
    + """
SELECT DISTINCT rel AS relation_id, node_id, level, "IFOPT"
FROM (
  SELECT rel, n1 AS node_id, CAST(0.0 AS DOUBLE) AS level, as1 AS "IFOPT"
  FROM aug WHERE v <> 2
  UNION ALL
  SELECT rel, n2, mid_lvl, as2 FROM aug WHERE v <> 2
)
ORDER BY relation_id, node_id, level
"""
)


_memo: dict = {}


def _stages(spark: SparkSession, sf_dir: str) -> dict:
    """The export's stage frames by stage name (runner.run_stages) over
    this sf's synthetic world, run once per (session, sf). The workdir
    lives until the process exits: the frames read its parquet."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _memo:
        workdir = tempfile.mkdtemp(prefix="pipeline_stages_")
        atexit.register(shutil.rmtree, workdir, ignore_errors=True)
        _memo[key], _ = runner.run_stages(
            spark, workdir, n_areas=_n_areas(sf_dir), seed=42
        )
    return _memo[key]


@register("final_quays_pipeline", _QUAYS_SQL)
def final_quays_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full platform DAG: width -> split -> DBSCAN merge -> membership
    join (ref stop_places.sql:961-1077)."""
    fq = _stages(spark, sf_dir)["final_quays"]
    return fq.select(
        "relation_id",
        "osm_id",
        "osm_type",
        "IFOPT",
        "level",
        F.element_at("tags", "est_width").alias("est_width"),
    ).orderBy("relation_id", "IFOPT")


@register("path_links_pipeline", _LINKS_SQL)
def path_links_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edges fan-out -> synth routes -> R1-R5 stitcher (ref ppr.py)."""
    links = _stages(spark, sf_dir)["path_links"]
    return links.select(
        "stop_area_relation_id",
        F.col("edge.fromIFOPT").alias("from_ifopt"),
        F.col("edge.toIFOPT").alias("to_ifopt"),
        F.col("edge.fromType").alias("from_type"),
        F.col("edge.toType").alias("to_type"),
        "level",
    ).orderBy("stop_area_relation_id", "from_ifopt", "to_ifopt")


from .netex_oracle import build_netex_oracle_sql


@register("netex_stop_places_xml", build_netex_oracle_sql())
def netex_stop_places_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full export DAG to the per-stop-place NeTEx document (ref
    stop_places.sql:1325-1449 + export.sql:5-44) — the engine's actual
    deliverable, value-hash gated BYTE-FOR-BYTE: the oracle
    (queries/netex_oracle.py) rebuilds the complete XML string per
    relation (quays/entrances/access spaces/path links, DELFI key
    lists, levels, centroids, content-hash link ids) from the
    closed-form world in plain DuckDB SQL."""
    ed = _stages(spark, sf_dir)["export_data"]
    return (
        ex_mod.xml_stop_places(ed).select("relation_id", "xml")
        .orderBy("relation_id")
    )


@register("access_spaces_pipeline", _ACCESS_SQL)
def access_spaces_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived access spaces with (node_id, level) PK dedup
    (ref ppr.py:99-125 + 02_setup.sql:90-97)."""
    access = _stages(spark, sf_dir)["access_spaces"]
    return access.select("relation_id", "node_id", "level", "IFOPT").orderBy(
        "relation_id", "node_id", "level"
    )


_EXPORT_STATS_SQL = (
    "WITH "
    + _ROUTES
    + """,
per_rel AS (
  SELECT rel,
         sum(CASE WHEN v = 2 THEN 1 ELSE 3 END) AS n_links,
         2 * sum(CASE WHEN v <> 2 THEN 1 ELSE 0 END) AS n_access
  FROM routes GROUP BY rel
),
counts AS (
  SELECT p.rel AS relation_id, 'QUAY' AS category,
         CAST(2 + 2 * CAST(i % 2 = 0 AS INT) + CAST(i % 3 = 0 AS INT)
              AS BIGINT) AS n
  FROM p
  UNION ALL
  SELECT p.rel, 'ENTRANCE', CAST(1 + i % 2 AS BIGINT) FROM p
  UNION ALL
  SELECT rel, 'ACCESS_SPACE', CAST(n_access AS BIGINT) FROM per_rel
  UNION ALL
  SELECT rel, 'SITE_PATH_LINK', CAST(n_links AS BIGINT) FROM per_rel
)
SELECT relation_id, category, n FROM counts
ORDER BY relation_id, category
"""
)


@register("export_data_stats", _EXPORT_STATS_SQL)
def export_data_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structural gate on the export assembly (ref stop_places.sql:
    1290-1320 export_data): element counts per (stop place, category)
    after the full 4-way union + area join, checked against the world's
    closed forms (the XML rendering itself is byte-gated by
    netex_stop_places_xml)."""
    ed = _stages(spark, sf_dir)["export_data"]
    return (
        ed.filter(F.col("category") != "STOP_PLACE")
        .groupBy("relation_id", "category")
        .agg(F.count("*").alias("n"))
        .orderBy("relation_id", "category")
    )


def _ft8(expr: str) -> str:
    """DuckDB twin of xmlbuild.fixed_trim(col, 8)."""
    s = f"rtrim(rtrim(printf('%.8f', {expr}), '0'), '.')"
    return f"(CASE WHEN {s} IN ('-0', '') THEN '0' ELSE {s} END)"


_PARKINGS_SQL = (
    "WITH "
    + _P
    + f""",
geo AS (
  SELECT rel, base,
         11.50 + (i % 4) * 0.01 AS cx,
         48.10 + (i // 4) * 0.01 AS cy
  FROM p
)
SELECT rel AS relation_id,
       '<Parking id="W' || CAST(base + 50 AS VARCHAR)
       || '" version="any">'
       || '<Centroid><Location><Longitude>'
       || {_ft8("cx - 80.0 / 111320.0")}
       || '</Longitude><Latitude>'
       || {_ft8("cy - 40.0 / 111320.0")}
       || '</Latitude></Location></Centroid>'
       || '<ParkingType>undefined</ParkingType>'
       || '<ParkingLayout>openSpace</ParkingLayout>'
       || '<TotalCapacity>20</TotalCapacity></Parking>' AS xml
FROM geo ORDER BY relation_id
"""
)


@register("parkings_pipeline", _PARKINGS_SQL)
def parkings_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's parkings document DAG end-to-end (ref
    parkings.sql:60-85): membership join -> level -> per-parking NeTEx
    Parking fragment. The oracle rebuilds the exact XML (centroid at the
    world rect's closed-form center, fixed-8dp trimmed rendering) from
    the area enumeration, so the document body is value-hash gated."""
    st = _stages(spark, sf_dir)
    epd = ex_mod.export_parkings_data(
        st["world_parking"], st["world_stop_areas_members_ref"]
    )
    return ex_mod.xml_parkings(epd).orderBy("relation_id")
