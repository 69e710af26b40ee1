"""Routing stage: stop-area edge fan-out, deterministic path synthesis,
and path-link stitching.

Reference: /root/reference/pipeline/routing/ppr.py ("PPR") + the
``stop_area_edges`` view (stop_places.sql:1126-1146). The reference walks
each ordered (start, end) element pair per stop area, asks an external
walking router (PPR) for edge lists, then stitches them into path links
split at "access spaces" — SERIALLY, one HTTP request + one DB commit per
edge (its scalability cliff, see SURVEY.md §3.2).

Spark-first redesign:
* ``stop_area_edges``: the J8 self-join + both quay x entrance directions
  (U1) as DataFrame joins;
* ``synthesize_routes``: a hermetic, deterministic replacement for the
  PPR HTTP call (task rule: no external services). It produces the same
  *edge-sequence shape* PPR returns (edge_type / street_type / door_type /
  incline / level / osm ids / polyline), so a real router can be plugged
  back in by swapping this one function;
* ``stitch_path_links``: the exact createPathNetwork / requiresAccessSpace
  / insertAccessSpaces semantics (PPR:99-224), vectorized per route group
  in one ``applyInPandas`` pass — thousands of stop areas stitch in
  parallel instead of serial commits. path_id is a content hash
  (xxhash64 of edge description + geometry) instead of SERIAL so resume /
  retry is idempotent (ON CONFLICT DO NOTHING ≡ dropDuplicates).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..geo import wkb as _wkb
from ..geo.columns import centroid


def stop_area_edges(final_quays: DataFrame, final_entrances: DataFrame) -> DataFrame:
    """stop_places.sql:1126-1146: ordered quay pairs per relation + both
    quay<->entrance directions. Edges are directional: AB and BA."""
    q = final_quays.select(
        "relation_id",
        F.col("IFOPT").alias("ifopt"),
        centroid(F.col("geom")).alias("c"),
    ).select(
        "relation_id", "ifopt", F.col("c.lon").alias("lon"), F.col("c.lat").alias("lat")
    )
    e = final_entrances.select(
        "relation_id",
        F.col("IFOPT").alias("ifopt"),
        centroid(F.col("geom")).alias("c"),
    ).select(
        "relation_id", "ifopt", F.col("c.lon").alias("lon"), F.col("c.lat").alias("lat")
    )

    q1, q2 = q.alias("q1"), q.alias("q2")
    qq = q1.join(
        q2,
        (F.col("q1.relation_id") == F.col("q2.relation_id"))
        & (F.col("q1.ifopt") != F.col("q2.ifopt")),
    ).select(
        F.col("q1.relation_id").alias("relation_id"),
        F.col("q1.ifopt").alias("start_IFOPT"),
        F.col("q2.ifopt").alias("end_IFOPT"),
        F.col("q1.lon").alias("start_lon"),
        F.col("q1.lat").alias("start_lat"),
        F.col("q2.lon").alias("end_lon"),
        F.col("q2.lat").alias("end_lat"),
        F.lit("QUAY").alias("start_type"),
        F.lit("QUAY").alias("end_type"),
    )
    qa, ea = q.alias("q"), e.alias("e")
    qe = qa.join(ea, F.col("q.relation_id") == F.col("e.relation_id")).select(
        F.col("q.relation_id").alias("relation_id"),
        F.col("q.ifopt").alias("start_IFOPT"),
        F.col("e.ifopt").alias("end_IFOPT"),
        F.col("q.lon").alias("start_lon"),
        F.col("q.lat").alias("start_lat"),
        F.col("e.lon").alias("end_lon"),
        F.col("e.lat").alias("end_lat"),
        F.lit("QUAY").alias("start_type"),
        F.lit("ENTRANCE").alias("end_type"),
    )
    eq = qa.join(ea, F.col("q.relation_id") == F.col("e.relation_id")).select(
        F.col("q.relation_id").alias("relation_id"),
        F.col("e.ifopt").alias("start_IFOPT"),
        F.col("q.ifopt").alias("end_IFOPT"),
        F.col("e.lon").alias("start_lon"),
        F.col("e.lat").alias("start_lat"),
        F.col("q.lon").alias("end_lon"),
        F.col("q.lat").alias("end_lat"),
        F.lit("ENTRANCE").alias("start_type"),
        F.lit("QUAY").alias("end_type"),
    )
    return qq.unionByName(qe).unionByName(eq)


_EDGE_SCHEMA = (
    "route_key string, relation_id long,"
    " start_IFOPT string, end_IFOPT string,"
    " start_type string, end_type string,"
    " seq int, edge_type string, street_type string, door_type string,"
    " incline string, level double, osm_way_id long,"
    " from_node_osm_id long, to_node_osm_id long, path array<array<double>>"
)


def synthesize_routes(edges: DataFrame, way_pool: DataFrame | None = None) -> DataFrame:
    """Deterministic geodesic path synthesizer (replaces the PPR HTTP call,
    PPR:234-248 makeRequest). For each stop-area edge it emits a route =
    sequence of edges whose SHAPE matches PPR's /api/route response
    (include_edges=true). The route variant is chosen by a stable hash of
    the (start, end) pair so every stitcher branch gets exercised:

    variant 0: footway -> stairs(level +1) -> footway   (street transition)
    variant 1: footway -> elevator(level -1) -> footway (edge transition)
    variant 2: single footway                           (no access space)

    ``way_pool`` (relation_id, osm_id) optionally supplies REAL highway way
    ids per relation so final_site_path_links' tag resolution (J9) finds
    tags; otherwise synthetic way ids are used.
    """
    pool = {}
    if way_pool is not None:
        from ..operators._guard import collect_dim

        for r in collect_dim(way_pool, "synthesize_routes way_pool"):
            pool.setdefault(r[0], []).append(int(r[1]))
    bpool = edges.sparkSession.sparkContext.broadcast(pool)

    def _gen(batches):
        pool = bpool.value
        for pdf in batches:
            out = []
            import hashlib

            for row in pdf.itertuples(index=False):
                # deterministic across runs AND reproducible in ANSI SQL
                # (DuckDB: strtol(substr(md5(s||'|'||t),1,15),16)) so the
                # driver's oracle can derive the same variants/node ids
                h = int(
                    hashlib.md5(
                        f"{row.start_IFOPT}|{row.end_IFOPT}".encode()
                    ).hexdigest()[:15],
                    16,
                )
                variant = h % 3
                key = f"{row.relation_id}|{row.start_IFOPT}|{row.end_IFOPT}"
                a = np.array([row.start_lon, row.start_lat])
                b = np.array([row.end_lon, row.end_lat])
                m1 = a + (b - a) / 3.0
                m2 = a + 2.0 * (b - a) / 3.0
                # wide id space: (node, level) access-space dedup must not
                # collide across routes (birthday bound ~1e-5 at 10^3 edges)
                nbase = 9_000_000 + (h % 900_000_000) * 10
                ways = pool.get(row.relation_id, [])
                w1 = ways[h % len(ways)] if ways else 8_000_000 + h % 100_000
                w2 = ways[(h + 1) % len(ways)] if ways else w1 + 1

                def edge(seq, et, st, door, incline, level, way, fn, tn, path):
                    out.append(
                        (key, row.relation_id, row.start_IFOPT, row.end_IFOPT,
                         row.start_type, row.end_type, seq, et, st, door,
                         incline, level, way, fn, tn,
                         [[float(p[0]), float(p[1])] for p in path])
                    )

                if variant == 0:
                    edge(0, "footway", None, None, None, 0.0, w1,
                         nbase + 1, nbase + 2, [a, m1])
                    edge(1, "footway", "stairs", None, None, 1.0, w2,
                         nbase + 2, nbase + 3, [m1, m2])
                    edge(2, "footway", None, None, None, 1.0, w1,
                         nbase + 3, nbase + 4, [m2, b])
                elif variant == 1:
                    edge(0, "footway", None, None, None, 0.0, w1,
                         nbase + 1, nbase + 2, [a, m1])
                    # elevator: osm_way_id == from == to (negative way id,
                    # PPR marks node-elevators that way; PPR:64-66)
                    edge(1, "elevator", None, None, None, -1.0,
                         -(nbase + 2), nbase + 2, nbase + 2, [m1, m1])
                    edge(2, "footway", None, None, None, -1.0, w2,
                         nbase + 2, nbase + 5, [m1, m2, b])
                else:
                    edge(0, "footway", None, None, None, 0.0, w1,
                         nbase + 1, nbase + 6, [a, m1, m2, b])
            if out:
                yield pd.DataFrame(
                    out,
                    columns=[
                        "route_key", "relation_id", "start_IFOPT", "end_IFOPT",
                        "start_type", "end_type", "seq", "edge_type",
                        "street_type", "door_type", "incline", "level",
                        "osm_way_id", "from_node_osm_id", "to_node_osm_id",
                        "path",
                    ],
                )

    return edges.mapInPandas(_gen, _EDGE_SCHEMA)


# ---------------------------------------------------------------- stitcher


def _requires_access_space(cur: dict, prev: dict) -> bool:
    """PPR:128-178 requiresAccessSpace — verbatim semantics."""
    if cur["edge_type"] != prev["edge_type"]:
        if cur["edge_type"] == "elevator" or prev["edge_type"] == "elevator":
            return True
        if cur["edge_type"] == "cycle_barrier" or prev["edge_type"] == "cycle_barrier":
            return True
        if cur["edge_type"] == "entrance":
            if cur["door_type"] not in ("no", None):
                return True
        if prev["edge_type"] == "entrance":
            if prev["door_type"] not in ("no", None):
                return True
    if cur["street_type"] != prev["street_type"]:
        if "stairs" in (cur["street_type"], prev["street_type"]):
            return True
        if "escalator" in (cur["street_type"], prev["street_type"]):
            return True
        if "moving_walkway" in (cur["street_type"], prev["street_type"]):
            return True
    if cur["incline"] != prev["incline"]:
        return True
    return False


def _fmt_level(lvl: float) -> str:
    """trim_scale-style: integral levels print without decimals."""
    return str(int(lvl)) if float(lvl).is_integer() else str(lvl)


def _elements_for(edges: list[dict]) -> list[tuple[str, int]]:
    """PPR:32-74 insertPathsElementsRef — element refs for one path link."""
    out: list[tuple[str, int]] = []
    last = edges[-1]
    for e in edges:
        if e["edge_type"] == "crossing":
            if e.get("crossing_type") == "generated":
                if e["from_node_osm_id"] != 0:
                    out.append(("N", e["from_node_osm_id"]))
                else:
                    out.append(("N", e["to_node_osm_id"]))
                out.append(("W", abs(e["osm_way_id"])))
            else:
                if e["from_node_osm_id"] != e["to_node_osm_id"]:
                    out.append(("N", e["from_node_osm_id"]))
                    out.append(("N", e["to_node_osm_id"]))
                else:
                    out.append(("N", e["from_node_osm_id"]))
                out.append(("W", abs(e["osm_way_id"])))
        elif e["edge_type"] == "elevator":
            out.append(("N", abs(e["osm_way_id"])))
        else:
            if e["osm_way_id"] != 0:
                out.append(("W", abs(e["osm_way_id"])))
            if e["to_node_osm_id"] != 0 and e is not last:
                out.append(("N", e["to_node_osm_id"]))
    return out


_LINKS_SCHEMA = (
    "path_id long, stop_area_relation_id long,"
    " from_ifopt string, to_ifopt string, from_type string, to_type string,"
    " level double, geom binary"
)
_ACCESS_SCHEMA = (
    "node_id long, relation_id long, level double, IFOPT string, geom binary"
)
_REF_SCHEMA = "path_id long, osm_type string, osm_id long"


def _stitch_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """createPathNetwork (PPR:181-224) for one route; emits a tall frame
    with a 'kind' discriminator (link / access / ref) that the caller
    splits into the three output tables."""
    pdf = pdf.sort_values("seq")
    edges = pdf.to_dict("records")
    first = edges[0]
    relation_id = int(first["relation_id"])

    prev_edge = first
    prev_ifopt = first["start_IFOPT"]
    prev_type = first["start_type"]
    from_level = first["level"] if first["level"] is not None else 0.0
    to_level = from_level
    path = list(first["path"])
    link_edges = [first]

    links, access, refs = [], [], []

    def emit_link(to_ifopt, to_type, lvl_delta):
        coords = np.asarray(path, dtype=np.float64)
        wkb = _wkb.encode_linestring(coords)
        import hashlib

        from ..geo.kernel import poslist_str

        # content hash replacing SERIAL (SURVEY.md §1.3): stable across
        # runs/retries, fits in positive int64. md5 over the link's TEXT
        # content (endpoints + the canonical fixed-8dp posList) rather
        # than the WKB bytes, so the driver's DuckDB oracle can derive
        # the same id in plain SQL (('0x'||substr(md5(k),1,15))::BIGINT)
        pid = int(
            hashlib.md5(
                f"{prev_ifopt}|{to_ifopt}|{prev_type}|{to_type}|"
                f"{poslist_str(coords)}".encode()
            ).hexdigest()[:15],
            16,
        )
        links.append(
            (int(pid), relation_id, prev_ifopt, to_ifopt, prev_type, to_type,
             float(lvl_delta), wkb)
        )
        for t, i in _elements_for(link_edges):
            refs.append((int(pid), t, int(i)))

    for e in edges[1:]:
        if _requires_access_space(prev_edge, e):
            # insertAccessSpaces(cur=e, prev=prev_edge), PPR:99-125
            special = (
                e["edge_type"] == "elevator"
                or e["street_type"] in ("stairs", "escalator")
                or e["incline"] is not None
            )
            lvl = (prev_edge["level"] if special else e["level"])
            lvl = 0.0 if lvl is None else float(lvl)
            node = int(e["from_node_osm_id"])
            ifopt = f"{relation_id}_{node}:{_fmt_level(lvl)}"
            access.append(
                (node, relation_id, lvl, ifopt,
                 _wkb.encode_point(e["path"][0][0], e["path"][0][1]))
            )
            to_level = lvl
            emit_link(ifopt, "ACCESS_SPACE", to_level - from_level)
            path = list(e["path"])
            link_edges = [e]
            prev_ifopt = ifopt
            prev_type = "ACCESS_SPACE"
            from_level = to_level
        else:
            path.extend(list(e["path"])[1:])
            link_edges.append(e)
            to_level = e["level"] if e["level"] is not None else 0.0
        prev_edge = e

    emit_link(first["end_IFOPT"], first["end_type"], to_level - from_level)

    rows = []
    for l in links:
        rows.append(("link",) + l + (None, None, None))
    for a in access:
        rows.append(
            ("access", None, a[1], None, a[3], None, None, a[2], a[4], a[0], None, None)
        )
    for r in refs:
        rows.append(
            ("ref", r[0], None, None, None, None, None, None, None, None, r[1], r[2])
        )
    # dtype=object at construction: mixed int/None columns otherwise
    # coerce to float64 IMMEDIATELY, silently rounding int64 ids above
    # 2^53 (the 60-bit content-hash path ids!) before any cast could
    # save them; Int64 from object keeps them exact for Arrow
    out = pd.DataFrame(
        rows,
        columns=[
            "kind", "path_id", "stop_area_relation_id", "from_ifopt", "to_ifopt",
            "from_type", "to_type", "level", "geom", "node_id", "osm_type",
            "osm_id",
        ],
        dtype=object,
    )
    for c in ("path_id", "stop_area_relation_id", "node_id", "osm_id"):
        out[c] = out[c].astype("Int64")
    out["level"] = out["level"].astype("float64")
    return out


_TALL_SCHEMA = (
    "kind string, path_id long, stop_area_relation_id long, from_ifopt string,"
    " to_ifopt string, from_type string, to_type string, level double,"
    " geom binary, node_id long, osm_type string, osm_id long"
)


def stitch_path_links(
    routes: DataFrame, cached: list | None = None
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Run the stitcher per route group; returns (path_links,
    access_spaces, paths_elements_ref) with the reference's dedup rules:
    path_links unique on content hash (≡ ON CONFLICT (edge, sha) DO
    NOTHING), access_spaces unique on (node_id, level) (PK,
    02_setup.sql:96), refs unique on all columns (02_setup.sql:35).
    All three read one cached stitcher output, appended to ``cached``
    so the caller can release it."""
    tall = routes.groupBy("route_key").applyInPandas(_stitch_group, _TALL_SCHEMA)
    tall = tall.cache()
    if cached is not None:
        cached.append(tall)
    path_links = (
        tall.filter(F.col("kind") == "link")
        .select(
            "path_id",
            "stop_area_relation_id",
            F.struct(
                F.col("from_ifopt").alias("fromIFOPT"),
                F.col("to_ifopt").alias("toIFOPT"),
                F.col("from_type").alias("fromType"),
                F.col("to_type").alias("toType"),
            ).alias("edge"),
            "level",
            "geom",
        )
        .dropDuplicates(["path_id"])
    )
    access_spaces = (
        tall.filter(F.col("kind") == "access")
        .select("node_id", F.col("stop_area_relation_id").alias("relation_id"),
                "level", F.col("to_ifopt").alias("IFOPT"), "geom")
        .dropDuplicates(["node_id", "level"])
    )
    refs = (
        tall.filter(F.col("kind") == "ref")
        .select("path_id", "osm_type", "osm_id")
        .dropDuplicates(["path_id", "osm_type", "osm_id"])
    )
    return path_links, access_spaces, refs


def final_site_path_links(
    path_links: DataFrame, refs: DataFrame, highways: DataFrame
) -> DataFrame:
    """stop_places.sql:1156-1170 final_site_path_links: resolve each path's
    element refs against highways, fold tags (jsonb_combine, pinned order
    by (osm_type, osm_id)), DISTINCT ON path_id, '{}' fallback."""
    from pyspark.sql import Window

    hw = highways.select("osm_id", "osm_type", F.col("tags").alias("hw_tags"))
    entries = (
        refs.join(hw, ["osm_id", "osm_type"], "left")
        .select(
            "path_id",
            F.struct("osm_type", "osm_id").alias("ord"),
            F.explode_outer("hw_tags").alias("key", "val"),
        )
        .filter(F.col("key").isNotNull())
    )
    w = Window.partitionBy("path_id", "key").orderBy(F.col("ord").desc())
    per_path = (
        entries.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("path_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("key", "val"))).alias("tags"))
    )
    return (
        path_links.join(per_path, "path_id", "left")
        .select(
            F.col("stop_area_relation_id").alias("relation_id"),
            F.col("path_id").cast("string").alias("id"),
            F.coalesce(
                F.col("tags"), F.create_map().cast("map<string,string>")
            ).alias("tags"),
            "geom",
            "level",
            "edge",
        )
        .dropDuplicates(["id"])
    )
