"""Stop-place rollup + NeTEx document assembly.

Mirrors /root/reference/pipeline/stop_places/sql/stop_places.sql
1181-1449 ("SP"), parkings.sql, organisations.sql and export/export.sql:
org matching (J7 top-1 lateral), member-geometry collection (A3), levels
map (A5), the 4-way export union (U3), ordered XML aggregation (A6) and
the single-document grand aggregation (A9).

Determinism: Postgres leaves several orders to scan order; the engine
pins them (SURVEY.md §7): inner element order by element id, category
order by the CATEGORY enum rank (02_setup.sql:45), levels map last-wins
by (category_rank, id).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions import xmlbuild as X
from ..functions.parsers import create_level_id, get_level
from ..geo.columns import centroid, geodesic_length_m, geom_type, poslist

CATEGORY_RANK = {"ENTRANCE": 0, "QUAY": 1, "ACCESS_SPACE": 2, "SITE_PATH_LINK": 3}


def _rank(cat_col):
    expr = F.lit(99)
    for name, rank in CATEGORY_RANK.items():
        expr = F.when(cat_col == name, F.lit(rank)).otherwise(expr)
    return expr


# ------------------------------------------------------------ org match


def _org_candidates(organisations: DataFrame) -> DataFrame:
    return organisations.select(
        F.col("id").alias("org_id"),
        "label",
        "official_name",
        "short_name",
        F.col("alternatives"),
    )


def _match_org(stop_areas: DataFrame, organisations: DataFrame, key: str) -> DataFrame:
    """SP:1181-1221 stop_places_with_organisations lateral: match by
    '<key>:wikidata' id list, else (no id tag) by name/alias overlap;
    top-1 by org id. Broadcast nested-loop on the small org dim."""
    tags = F.col("tags")
    wd = F.split(F.element_at(tags, f"{key}:wikidata"), ";")
    names = F.concat(
        F.coalesce(F.split(F.element_at(tags, key), ";"), F.array()),
        F.coalesce(F.split(F.element_at(tags, f"{key}:short"), ";"), F.array()),
    )
    org = F.broadcast(_org_candidates(organisations))
    org_names = F.concat(
        F.array(F.col("label"), F.col("official_name"), F.col("short_name")),
        F.coalesce(F.split(F.col("alternatives"), ", "), F.array()),
    )
    cond = F.array_contains(wd, F.col("org_id")) | (
        F.element_at(tags, f"{key}:wikidata").isNull()
        & F.arrays_overlap(names, org_names)
    )
    j = stop_areas.select("relation_id", "tags").join(org, cond, "left")
    w = Window.partitionBy("relation_id").orderBy(F.col("org_id").asc_nulls_last())
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("relation_id", F.col("org_id").alias(f"{key}_org_id"))
    )


def stop_places_with_organisations(
    stop_areas: DataFrame, organisations: DataFrame
) -> DataFrame:
    op = _match_org(stop_areas, organisations, "operator")
    net = _match_org(stop_areas, organisations, "network")
    return (
        stop_areas.join(op, "relation_id", "left")
        .join(net, "relation_id", "left")
        .withColumnRenamed("operator_org_id", "operator_id")
        .withColumnRenamed("network_org_id", "network_id")
    )


# ------------------------------------------------------------- geometry


def stop_places_with_geometry(
    with_orgs: DataFrame, members_ref: DataFrame, platforms: DataFrame
) -> DataFrame:
    """SP:1231-1246: ST_Collect member platform geometries per relation;
    consumer is the area centroid, so collect the centroid-relevant
    coordinate mean via the merged collection's centroid (computed from
    per-member centroids weighted equally — matching ST_Centroid of a
    collection of mixed geometries only for its point/centroid use)."""
    m = members_ref.select("relation_id", "member_id", "osm_type")
    p = platforms.select("osm_id", "osm_type", "geom")
    joined = m.join(
        p,
        (m["member_id"] == p["osm_id"]) & (m["osm_type"] == p["osm_type"]),
    ).select("relation_id", "geom")
    c = joined.select("relation_id", centroid(F.col("geom")).alias("c"))
    # avg over DECIMAL, not double: float addition is non-associative and
    # the partial-agg order varies with task scheduling, so a double avg
    # makes the document differ by ULPs between runs (A3/A6 determinism
    # invariant). decimal(38,25) holds the member centroids' magnitude
    # with deterministic rounding; the sum/divide is exact.
    agg = c.groupBy("relation_id").agg(
        F.avg(F.col("c.lon").cast("decimal(38,25)"))
        .cast("double")
        .alias("area_lon"),
        F.avg(F.col("c.lat").cast("decimal(38,25)"))
        .cast("double")
        .alias("area_lat"),
    )
    return with_orgs.join(agg, "relation_id")  # inner, like the reference


# ------------------------------------------------------------ rollups


def final_stop_places(
    with_geom: DataFrame,
    final_quays: DataFrame,
    final_entrances: DataFrame,
    final_access_spaces: DataFrame,
) -> DataFrame:
    """SP:1253-1283: levels map {level -> tags['level:ref']} from all
    elements; jsonb key dedup pinned to last-wins by level value (the
    map key) — value tie-break: max(level:ref) for determinism."""
    cols = lambda df: df.select(
        "relation_id", F.col("level"), F.element_at("tags", "level:ref").alias("ref")
    )
    elems = (
        cols(final_quays)
        .unionByName(cols(final_entrances))
        .unionByName(cols(final_access_spaces))
    )
    levels = (
        elems.groupBy("relation_id", "level")
        .agg(F.max("ref").alias("ref"))
        .groupBy("relation_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("level", "ref")))
            ).alias("levels")
        )
    )
    return with_geom.join(levels, "relation_id")  # inner: areas w/ elements


def export_data(
    fsp: DataFrame,
    final_quays: DataFrame,
    final_entrances: DataFrame,
    final_access_spaces: DataFrame,
    final_site_path_links: DataFrame,
) -> DataFrame:
    """SP:1290-1320 export_data: 4-way aligned UNION + join to areas."""
    empty_edge = F.lit(None).cast(
        "struct<fromIFOPT:string,toIFOPT:string,fromType:string,toType:string>"
    )

    def shape(df, category, id_col, edge=None):
        return df.select(
            F.lit(category).alias("category"),
            F.col("relation_id"),
            F.col(id_col).cast("string").alias("id"),
            F.col("tags"),
            F.col("geom"),
            F.col("level").cast("double").alias("level"),
            (edge if edge is not None else empty_edge).alias("edge"),
        )

    elements = (
        shape(final_quays, "QUAY", "IFOPT")
        .unionByName(shape(final_entrances, "ENTRANCE", "IFOPT"))
        .unionByName(shape(final_access_spaces, "ACCESS_SPACE", "IFOPT"))
        .unionByName(
            shape(final_site_path_links, "SITE_PATH_LINK", "id", F.col("edge"))
        )
    )
    pta = fsp.select(
        F.col("relation_id"),
        F.col("IFOPT").alias("area_id"),
        F.col("tags").alias("area_tags"),
        "area_lon",
        "area_lat",
        "operator_id",
        "network_id",
        "levels",
    )
    return elements.join(F.broadcast(pta), "relation_id")


# --------------------------------------------------------- XML assembly


_TEMPLATE_CACHE: dict = {}
# created at import: a lazily created lock lets two threads that race
# the first build each create (and hold) a different lock
_TEMPLATE_LOCK = threading.RLock()


def prewarm_templates(spark: SparkSession):
    """Kick the template build on a background driver thread. The
    document DAG runs ~10 eager stage jobs before it needs the XML
    templates; the ~2-3 s py4j construction can overlap them instead of
    serializing after (guide §2.6: the driver is idle while executors
    work). Returns the thread; callers need not join — the next
    _stop_place_templates call blocks on the lock until the build
    lands."""
    from pyspark import InheritableThread

    t = InheritableThread(
        target=lambda: _stop_place_templates(spark), daemon=True
    )
    t.start()
    return t


def _stop_place_templates(spark: SparkSession) -> dict:
    """Unbound Column trees for every per-element / per-area XML
    template, built ONCE per application and reused. The templates only
    reference column NAMES (tags, _c, relation_id, ...), never data, so
    the same tree is valid for every DataFrame of the export shape —
    but each fresh build costs ~2-3 s of py4j round trips (the DELFI
    ladders are thousands of Column ops), which the e2e pipeline paid on
    every run. Same per-session memo pattern as jvm_pip._AUTO_BUILD_CACHE;
    keyed on applicationId so a new session rebuilds against its own JVM
    objects."""
    key = spark.sparkContext.applicationId
    hit = _TEMPLATE_CACHE.get(key)
    if hit is not None:
        return hit
    with _TEMPLATE_LOCK:
        return _build_templates(key)


def _build_templates(key: str) -> dict:
    hit = _TEMPLATE_CACHE.get(key)
    if hit is not None:  # built while we waited on the lock
        return hit
    ing = X.parsed_ingredients(F.col("tags"))
    pre = {k: F.col(k) for k in ing}
    tags = F.col("tags")
    c = F.col("_c")
    gt = F.col("_gt")
    ln = F.col("_ln")
    pl = F.col("_pl")
    attrs = dict(id=F.col("id"), version=F.lit("any"))
    quay = X.elem(
        "Quay",
        F.concat_ws(
            "",
            X.ex_keylist_quay(tags, pre=pre),
            X.ex_name(tags),
            X.ex_short_name(tags),
            X.ex_centroid(c["lon"], c["lat"]),
            X.ex_level_ref(F.col("relation_id"), F.col("level")),
            X.ex_quay_type(tags, gt),
        ),
        **attrs,
    )
    entrance = X.elem(
        "Entrance",
        F.concat_ws(
            "",
            X.ex_keylist_entrance(tags, pre=pre),
            X.ex_name(tags, "Eingang"),
            X.ex_centroid(c["lon"], c["lat"]),
            X.ex_level_ref(F.col("relation_id"), F.col("level")),
            X.ex_entrance_type(tags),
        ),
        **attrs,
    )
    access = X.elem(
        "AccessSpace",
        F.concat_ws(
            "",
            X.ex_keylist_access_space(tags, pre=pre),
            X.ex_name(tags, "Zwischenpunkt"),
            X.ex_centroid(c["lon"], c["lat"]),
            X.ex_level_ref(F.col("relation_id"), F.col("level")),
            X.ex_access_space_type(tags),
        ),
        **attrs,
    )
    link = X.elem(
        "SitePathLink",
        F.concat_ws(
            "",
            X.ex_keylist_site_path_link(tags, ln, pre=pre),
            X.ex_distance(ln),
            X.ex_line_string(pl, F.col("id")),
            X.ex_from_to(F.col("area_id"), F.col("edge")),
            X.ex_number_of_steps(tags),
            X.ex_access_feature_type(tags),
            X.ex_transfer_duration(tags, ln, F.col("level"), pre=pre),
        ),
        **attrs,
    )
    hit = {
        "ing": ing,
        "frags": [
            ("QUAY", quay),
            ("ENTRANCE", entrance),
            ("ACCESS_SPACE", access),
            ("SITE_PATH_LINK", link),
        ],
        "head": _area_head_template(),
    }
    _TEMPLATE_CACHE.clear()  # exactly one entry (old sessions' JVM refs)
    _TEMPLATE_CACHE[key] = hit
    return hit


def _element_xml(df: DataFrame) -> DataFrame:
    """Per-element XML fragment (the inner xmlelement per category,
    SP:1369-1443)."""
    # stage 1: ingredients (geometry UDFs + every parser result) computed
    # ONCE per row and materialized — the fragment assembly then
    # references plain columns, keeping each codegen unit small enough
    # for a default-sized driver heap (the inlined version compiles
    # methods too large for janino under 1g)
    tmpl = _stop_place_templates(df.sparkSession)
    df = (
        df.withColumn("_c", centroid(F.col("geom")))
        .withColumn("_gt", geom_type(F.col("geom")))
        .withColumn("_ln", geodesic_length_m(F.col("geom")))
        .withColumn("_pl", poslist(F.col("geom")))
        .withColumns(tmpl["ing"])
        .localCheckpoint(eager=False)
    )
    # four separate plans instead of one when() chain over all four
    # element builders: each branch alone is already a very large
    # expression tree (DELFI ladders inline the tag parsers repeatedly);
    # combined they exceed what janino can compile in a default-sized
    # driver heap. Union of filtered selects keeps codegen units small.
    parts = []
    for cat, frag in tmpl["frags"]:
        parts.append(
            df.filter(F.col("category") == cat).withColumn("frag", frag)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_WRAPPER = {
    "ENTRANCE": "entrances",
    "QUAY": "quays",
    "ACCESS_SPACE": "accessSpaces",
    "SITE_PATH_LINK": "pathLinks",
}


def _area_head_template():
    """Unbound Column for the per-area <StopPlace> head (keylist, names,
    centroid, org ref, levels) — cached via _stop_place_templates."""
    area_tags = F.col("area_tags")
    levels_xml = F.concat(
        F.lit("<levels>"),
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.map_entries(F.col("levels")),
                    lambda a, b: F.when(a["key"] < b["key"], -1)
                    .when(a["key"] > b["key"], 1)
                    .otherwise(0),
                ),
                lambda e: F.concat(
                    F.lit('<Level id="'),
                    create_level_id(F.col("relation_id"), e["key"]),
                    F.lit('" version="any"><ShortName>'),
                    # inside a HOF lambda: Python-UDF render is banned;
                    # level keys are k / k.5 so the JVM render is exact
                    X.esc(F.coalesce(e["value"], X._num_str_lambda(e["key"]))),
                    F.lit("</ShortName></Level>"),
                ),
            ),
        ),
        F.lit("</levels>"),
    )
    return F.concat_ws(
        "",
        X.ex_keylist_stop_place(area_tags),
        X.ex_name(area_tags),
        X.ex_short_name(area_tags),
        X.ex_description(area_tags),
        X.ex_centroid(F.col("area_lon"), F.col("area_lat")),
        X.ex_alternative_names(area_tags),
        F.coalesce(
            X.ex_operator_ref(F.col("operator_id")),
            X.ex_authority_ref(F.col("network_id")),
        ),
        levels_xml,
    )


def xml_stop_places(export_df: DataFrame) -> DataFrame:
    """SP:1325-1449 xml_stopPlaces: two-level ordered aggregation into one
    <StopPlace> per relation. Returns (relation_id, xml)."""
    with_frag = _element_xml(export_df)
    per_cat = (
        with_frag.groupBy(
            "relation_id", "category", "area_id", "area_tags", "area_lon",
            "area_lat", "operator_id", "network_id", "levels",
        )
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("id", "frag"))),
                    lambda s: s["frag"],
                ),
            ).alias("children"),
        )
    )
    wrapper = F.lit("")
    for cat, wrap in _WRAPPER.items():
        wrapper = F.when(
            F.col("category") == cat,
            F.concat(F.lit(f"<{wrap}>"), F.col("children"), F.lit(f"</{wrap}>")),
        ).otherwise(wrapper)
    per_cat = per_cat.withColumn("cat_xml", wrapper).withColumn(
        "cat_rank", _rank(F.col("category"))
    )

    head = _stop_place_templates(export_df.sparkSession)["head"]
    return (
        per_cat.groupBy("relation_id", "area_id")
        .agg(
            F.first(head).alias("head"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("cat_rank", "cat_xml"))),
                    lambda s: s["cat_xml"],
                ),
            ).alias("children"),
        )
        .select(
            "relation_id",
            F.concat(
                F.lit('<StopPlace id="'), X.esc(F.col("area_id")),
                F.lit('" version="any">'), F.col("head"), F.col("children"),
                F.lit("</StopPlace>"),
            ).alias("xml"),
        )
    )


def export_parkings_data(parking: DataFrame, members_ref: DataFrame) -> DataFrame:
    """parkings.sql:60-65."""
    m = members_ref
    j = parking.join(
        F.broadcast(m),
        (parking["osm_id"] == m["member_id"]) & (parking["osm_type"] == m["osm_type"]),
    ).drop(m["osm_type"]).drop("member_id")
    return j.withColumn("level", get_level(F.col("tags")))


def xml_parkings(epd: DataFrame) -> DataFrame:
    """parkings.sql:69-85."""
    tags = F.col("tags")
    c = centroid(F.col("geom"))
    return epd.select(
        F.col("relation_id"),
        X.elem(
            "Parking",
            F.concat_ws(
                "",
                X.ex_name(tags),
                X.ex_centroid(c["lon"], c["lat"]),
                X.ex_parking_type(tags),
                X.ex_parking_layout(tags),
                X.ex_total_capacity(tags),
            ),
            id=F.concat(F.col("osm_type"), F.col("osm_id").cast("string")),
            version=F.lit("any"),
        ).alias("xml"),
    )


def xml_organisations(organisations: DataFrame) -> DataFrame:
    """organisations.sql:64-92: DISTINCT ON (id), Operator/Authority."""
    w = Window.partitionBy("id").orderBy("label")
    orgs = (
        organisations.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    contact = F.concat(
        F.lit("<ContactDetails>"),
        F.concat_ws(
            "",
            X.elem_opt("Email", F.nullif(F.col("email"), F.lit(""))),
            X.elem_opt("Phone", F.nullif(F.col("phone"), F.lit(""))),
            X.elem_opt("Url", F.nullif(F.col("website"), F.lit(""))),
        ),
        F.lit("</ContactDetails>"),
    )
    def org_elem(elem_name, type_name):
        return X.elem(
            elem_name,
            F.concat_ws(
                "",
                X.elem_opt("Name", F.col("label")),
                X.elem_opt("ShortName", F.nullif(F.col("short_name"), F.lit(""))),
                X.elem_opt("LegalName", F.nullif(F.col("official_name"), F.lit(""))),
                contact,
                F.lit(f"<OrganisationType>{type_name}</OrganisationType>"),
            ),
            id=F.col("id"),
            version=F.lit("any"),
        )

    return orgs.select(
        F.col("type"),
        F.col("id"),
        F.when(F.col("type") == "operator", org_elem("Operator", "operator"))
        .otherwise(org_elem("Authority", "authority"))
        .alias("xml"),
    )


def collect_parkings(parking_xml: DataFrame) -> list[str]:
    """Parking fragments in document order."""
    return [r["xml"] for r in parking_xml.orderBy("relation_id", "xml").collect()]


def collect_organisations(organisation_xml: DataFrame) -> list[str]:
    """Organisation fragments in document order."""
    return [r["xml"] for r in organisation_xml.orderBy("type", "id").collect()]


def assemble_document(
    stop_place_xml: DataFrame,
    parkings: list[str],
    organisations: list[str],
    timestamp: str = "2024-01-01T00:00:00",
    timezone: str = "Europe/Berlin",
    language: str = "de",
    projection: str = "4326",
) -> str:
    """export.sql:5-44: the grand aggregation (A9) — deterministic order,
    driver-side concat of per-row fragments (output is ONE document; size
    bounded by stop-place count). ``parkings`` / ``organisations`` are
    the fragment lists of collect_parkings / collect_organisations (the
    runner collects them as soon as their inputs exist)."""
    sp = [r["xml"] for r in stop_place_xml.orderBy("relation_id").collect()]
    forest = ""
    if sp:
        forest += "<stopPlaces>" + "".join(sp) + "</stopPlaces>"
    if parkings:
        forest += "<parkings>" + "".join(parkings) + "</parkings>"
    org_forest = ""
    if organisations:
        org_forest = (
            "<organisations>" + "".join(organisations) + "</organisations>"
        )
    return (
        '<?xml version="1.0" standalone="no"?>'
        '<PublicationDelivery xmlns="http://www.netex.org.uk/netex" version="ntx:1.1">'
        f"<PublicationTimestamp>{timestamp}</PublicationTimestamp>"
        "<ParticipantRef>OPENER-next</ParticipantRef>"
        "<dataObjects>"
        '<CompositeFrame id="CompositeFrame_1" version="any">'
        f"<ValidBetween><FromDate>{timestamp}</FromDate></ValidBetween>"
        "<FrameDefaults><DefaultLocale>"
        f"<TimeZone>{timezone}</TimeZone><DefaultLanguage>{language}</DefaultLanguage>"
        "</DefaultLocale>"
        f"<DefaultLocationSystem>{projection}</DefaultLocationSystem>"
        "</FrameDefaults>"
        "<frames>"
        f'<SiteFrame id="SiteFrame_1" version="any">{forest}</SiteFrame>'
        f'<ResourceFrame id="ResourceFrame_1" version="any">{org_forest}</ResourceFrame>'
        "</frames></CompositeFrame></dataObjects></PublicationDelivery>"
    )
