"""NeTEx XML fragment builders as pure Catalyst column expressions.

Re-implements the reference's ~30 xmlelement-based SQL functions
(/root/reference/pipeline/stop_places/sql/stop_places.sql:167-939, "SP";
parkings.sql:11-54; organisations.sql:9-56) as string-building columns —
whole-stage-codegen friendly. The only Python in the loop is float
RENDERING (fixed_trim and the posList formatter in geo.columns): both
must round decimal-midpoint ties half-even on the exact binary value to
stay byte-identical with the DuckDB oracle, which Java's formatter
cannot do (see _render_udf).

Null semantics mirror the reference: STRICT functions -> NULL on NULL
input (concat propagates null); xmlforest-style "skip empty" -> when().
``concat_ws("", ...)`` is the xmlconcat equivalent (skips NULLs).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from .parsers import (
    create_level_id,
    estimate_duration_s,
    get_level,
    iso_duration,
    parse_duration_s,
    parse_incline_pct,
    parse_length_cm,
    parse_weight_kg,
)


def esc(col: Column) -> Column:
    """XML text/attribute escaping."""
    c = F.replace(col, F.lit("&"), F.lit("&amp;"))
    c = F.replace(c, F.lit("<"), F.lit("&lt;"))
    c = F.replace(c, F.lit(">"), F.lit("&gt;"))
    return F.replace(c, F.lit('"'), F.lit("&quot;"))


def elem(name: str, content: Column, **attrs: Column) -> Column:
    """<name a="..">content</name>; NULL if content is NULL (STRICT)."""
    a = F.lit("")
    for k, v in attrs.items():
        a = F.concat(a, F.lit(f' {k}="'), esc(v.cast("string")), F.lit('"'))
    return F.concat(
        F.lit(f"<{name}"), a, F.lit(">"), content.cast("string"), F.lit(f"</{name}>")
    )


def elem_opt(name: str, content: Column, **attrs: Column) -> Column:
    """xmlforest-style: NULL (no element) when content is NULL — elem is
    STRICT already, so no guard that repeats ``content`` is needed."""
    return elem(name, esc(content.cast("string")), **attrs)


def xmlconcat(*parts: Column) -> Column:
    """xmlconcat ≡ concat skipping NULLs; NULL when ALL parts are NULL.

    ``nullif`` evaluates the joined string once (the optimizer moves it
    into its own projection). A guard that repeats the subtree doubles
    the generated code at every nesting level, which pushes the
    SITE_PATH_LINK fragment past the JVM's 64 KB method limit and makes
    whole-stage codegen fall back."""
    return F.nullif(F.concat_ws("", *parts), F.lit(""))


_RENDER_UDFS: dict = {}


def _render_udf(precision: int):
    """Per-precision cached Arrow-batched renderer. Python's float
    formatting rounds the EXACT binary value half-even — the same rule
    DuckDB's printf ({fmt}) and geo.kernel.poslist_str use. Java's
    format_string instead rounds the shortest-repr decimal HALF_UP, so
    doubles landing exactly on a decimal midpoint (dyadic values, e.g.
    100.0078125 at %.6f — reachable from real float32 Distances) render
    one ulp high, breaking the byte-for-byte document guarantee
    (ADVICE r3). All engine-side float rendering therefore goes through
    Python."""
    if precision not in _RENDER_UDFS:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        def _render(s):
            def one(v):
                if pd.isna(v):
                    return None
                txt = f"{v:.{precision}f}".rstrip("0").rstrip(".")
                return "0" if txt in ("", "-0") else txt

            return s.map(one)

        _RENDER_UDFS[precision] = pandas_udf(_render, "string")
    return _RENDER_UDFS[precision]


def fixed_trim(col: Column, precision: int) -> Column:
    """Fixed-precision float rendering, trailing zeros trimmed — the
    ONLY way floats enter XML text. Raw double->string casting is
    banned on this path: Java's Double.toString and other engines'
    shortest-repr algorithms disagree on some values, which would make
    the emitted document unreproducible by the DuckDB gate oracle
    (CLAUDE.md float discipline). Matches geo.columns.poslist's Python
    formatter and DuckDB's rtrim(rtrim(printf('%.Nf', x),'0'),'.')
    byte-for-byte, INCLUDING decimal-midpoint ties (round-half-even on
    the exact binary value — see _render_udf)."""
    return _render_udf(precision)(col.cast("double"))


def _num_str(col: Column) -> Column:
    """Postgres-numeric-ish rendering: integral values without decimals."""
    d = col.cast("double")
    return F.when(
        d == F.floor(d), d.cast("long").cast("string")
    ).otherwise(fixed_trim(d, 6))


def fixed_trim_jvm(col: Column, precision: int) -> Column:
    """format_string-based render for higher-order-function lambdas,
    where Catalyst forbids Python UDFs. ONLY safe for values exactly
    representable at <= precision decimals (e.g. parse_level outputs:
    k or k.5) — no rounding then occurs at the cut, so Java's
    HALF_UP-on-shortest-repr cannot diverge from the oracle's
    half-even. Everything else must use fixed_trim."""
    s = F.format_string(f"%.{precision}f", col.cast("double"))
    s = F.regexp_replace(F.regexp_replace(s, "0+$", ""), "\\.$", "")
    return F.when(
        col.isNotNull(),
        F.when(s.isin("-0", ""), F.lit("0")).otherwise(s),
    )


def _num_str_lambda(col: Column) -> Column:
    """_num_str for HOF-lambda contexts (see fixed_trim_jvm caveat)."""
    d = col.cast("double")
    return F.when(
        d == F.floor(d), d.cast("long").cast("string")
    ).otherwise(fixed_trim_jvm(d, 6))


def key_value(key: str, value: Column) -> Column:
    """create_KeyValue (SP:249-257): NULL when value NULL (STRICT, as
    concat is)."""
    return F.concat(
        F.lit(f"<KeyValue><Key>{key}</Key><Value>"),
        esc(value.cast("string")),
        F.lit("</Value></KeyValue>"),
    )


def delfi_check(key: str, val: Column, *accepted: str) -> Column:
    """delfi_attribute_check_values_xml (SP:264-274): empty-value KeyValue
    when tag value is in the accepted set (default {'yes'})."""
    accepted = accepted or ("yes",)
    return F.when(val.isin(*accepted), F.lit(f"<KeyValue><Key>{key}</Key><Value></Value></KeyValue>"))


def key_list(inner: Column) -> Column:
    """create_keyList (SP:283-293): STRICT — no element when inner NULL."""
    return F.concat(F.lit("<keyList>"), inner, F.lit("</keyList>"))


# ------------------------------------------------------------ simple leaf


def t(tags: Column, key: str) -> Column:
    return F.element_at(tags, key)


def ex_name(tags: Column, fallback: str = "") -> Column:
    """ex_Name (SP:678-700): long COALESCE chain + optional fallback."""
    fb = F.lit(fallback) if fallback else F.lit(None).cast("string")
    return elem_opt(
        "Name",
        F.coalesce(
            t(tags, "name"), t(tags, "name:de"), t(tags, "official_name"),
            t(tags, "uic_name"), t(tags, "ref"),
            t(tags, "ref:IFOPT:description"), t(tags, "description"), fb,
        ),
    )


def ex_short_name(tags: Column) -> Column:
    return elem_opt("ShortName", F.coalesce(t(tags, "short_name"), t(tags, "short_name:de")))


def ex_description(tags: Column) -> Column:
    return elem_opt("Description", t(tags, "description"))


def ex_centroid(lon: Column, lat: Column) -> Column:
    """ex_Centroid (SP:167-177)."""
    return F.when(
        lon.isNotNull() & lat.isNotNull(),
        F.concat(
            F.lit("<Centroid><Location><Longitude>"), fixed_trim(lon, 8),
            F.lit("</Longitude><Latitude>"), fixed_trim(lat, 8),
            F.lit("</Latitude></Location></Centroid>"),
        ),
    )


def ex_operator_ref(org_id: Column) -> Column:
    return F.when(
        org_id.isNotNull(),
        F.concat(F.lit('<OperatorRef ref="'), esc(org_id), F.lit('" version="any"/>')),
    )


def ex_authority_ref(org_id: Column) -> Column:
    return F.when(
        org_id.isNotNull(),
        F.concat(F.lit('<AuthorityRef ref="'), esc(org_id), F.lit('" version="any"/>')),
    )


def ex_level_ref(relation_id: Column, level: Column) -> Column:
    return F.when(
        relation_id.isNotNull() & level.isNotNull(),
        F.concat(
            F.lit('<LevelRef ref="'), create_level_id(relation_id, level),
            F.lit('" version="any"/>'),
        ),
    )


def ex_alternative_names(tags: Column) -> Column:
    """ex_alternativeNames (SP:645-670): translations + alias list."""
    def trans(lang):
        v = t(tags, f"name:{lang}")
        return F.when(
            v.isNotNull(),
            F.concat(
                F.lit('<AlternativeName><NameType>translation</NameType><Name lang="'
                      f'{lang}">'), esc(v), F.lit("</Name></AlternativeName>"),
            ),
        )

    aliases = F.when(
        t(tags, "alt_name").isNotNull(),
        F.concat_ws(
            "",
            F.transform(
                F.split(t(tags, "alt_name"), ";"),
                lambda a: F.concat(
                    F.lit("<AlternativeName><NameType>alias</NameType><Name>"),
                    esc(a), F.lit("</Name></AlternativeName>"),
                ),
            ),
        ),
    )
    inner = xmlconcat(*(trans(l) for l in ["en", "de", "fr", "cs", "pl", "da", "nl", "lb"]), aliases)
    return F.when(inner.isNotNull(), F.concat(F.lit("<alternativeNames>"), inner, F.lit("</alternativeNames>")))


# --------------------------------------------------------------- typing


def ex_quay_type(tags: Column, geom_type: Column) -> Column:
    """ex_QuayType (SP:588-612); geom_type = decoded WKB type name."""
    tram = (t(tags, "tram") == "yes") | (t(tags, "railway") == "tram_stop")
    return elem(
        "QuayType",
        F.when(t(tags, "subway") == "yes", F.lit("metroPlatform"))
        .when(tram & (geom_type == "Point"), F.lit("tramStop"))
        .when(tram, F.lit("tramPlatform"))
        .when(
            (t(tags, "train") == "yes") | (t(tags, "light_rail") == "yes")
            | (t(tags, "railway") == "platform"),
            F.lit("railPlatform"),
        )
        .when(t(tags, "coach") == "yes", F.lit("coachStop"))
        .when(
            (t(tags, "bus") == "yes") | t(tags, "highway").isin("bus_stop", "platform"),
            F.lit("busStop"),
        )
        .otherwise(F.lit("other")),
    )


def ex_entrance_type(tags: Column) -> Column:
    """ex_EntranceType (SP:811-824)."""
    return elem(
        "EntranceType",
        F.when(t(tags, "door") == "yes", F.lit("door"))
        .when(t(tags, "door") == "no", F.lit("opening"))
        .when(t(tags, "door") == "swinging", F.lit("swingDoor"))
        .when(t(tags, "door") == "revolving", F.lit("revolvingDoor"))
        .when(t(tags, "automatic_door").isin("yes", "button", "motion"), F.lit("automaticDoor"))
        .otherwise(F.lit("other")),
    )


def ex_access_space_type(tags: Column) -> Column:
    """ex_AccessSpaceType (SP:831-860)."""
    v = (
        F.when(
            (t(tags, "indoor") == "area")
            | ((t(tags, "highway") == "pedestrian") & (t(tags, "area") == "yes"))
            | (t(tags, "place") == "square")
            | (t(tags, "room") == "entrance"),
            F.lit("concourse"),
        )
        .when(t(tags, "bridge") == "yes", F.lit("overpass"))
        .when(t(tags, "tunnel") == "yes", F.lit("underpass"))
        .when(t(tags, "highway") == "elevator", F.lit("lift"))
        .when(
            (t(tags, "indoor") == "corridor")
            | t(tags, "highway").isin("footway", "pedestrian", "path", "corridor")
            | (t(tags, "room") == "corridor"),
            F.lit("passage"),
        )
        .when((t(tags, "stairs") == "yes") | (t(tags, "room") == "stairs"), F.lit("staircase"))
        .when(t(tags, "room") == "waiting", F.lit("waitingRoom"))
    )
    return elem_opt("AccessSpaceType", v)


def ex_access_feature_type(tags: Column) -> Column:
    """ex_AccessFeatureType (SP:868-893)."""
    v = (
        F.when(
            (t(tags, "highway") == "steps") & t(tags, "conveying").isNull(),
            F.lit("stairs"),
        )
        .when(t(tags, "highway") == "elevator", F.lit("lift"))
        .when(
            (t(tags, "highway") == "steps")
            & t(tags, "conveying").isin("yes", "forward", "backward", "reversible"),
            F.lit("escalator"),
        )
        .when(
            t(tags, "highway").isin("footway", "path", "cycleway")
            & t(tags, "incline").isNotNull(),
            F.lit("ramp"),
        )
    )
    return elem_opt("AccessFeatureType", v)


def ex_number_of_steps(tags: Column) -> Column:
    return elem_opt("NumberOfSteps", t(tags, "step_count"))


def ex_distance(length_m: Column) -> Column:
    """ex_Distance (SP:207-213): float32-rounded (the reference column
    is float4), rendered fixed-precision trimmed (see fixed_trim)."""
    return F.when(
        length_m.isNotNull(),
        F.concat(
            F.lit("<Distance>"),
            fixed_trim(length_m.cast("float").cast("double"), 6),
            F.lit("</Distance>"),
        ),
    )


def ex_transfer_duration(tags: Column, length_m: Column, level: Column, pre=None) -> Column:
    """ex_TransferDuration (SP:911-927): duration tag or estimate."""
    secs = F.coalesce(
        _ing(pre, "_p_dur_s", lambda: parse_duration_s(t(tags, "duration"))),
        estimate_duration_s(tags, length_m, level),
    )
    return F.concat(
        F.lit("<TransferDuration><DefaultDuration>"),
        iso_duration(secs),
        F.lit("</DefaultDuration></TransferDuration>"),
    )


def ex_line_string(poslist: Column, link_id: Column) -> Column:
    """ex_LineString (SP:184-200): gml posList in lat-lon order."""
    return F.when(
        poslist.isNotNull(),
        F.concat(
            F.lit('<LineString xmlns="http://www.opengis.net/gml/3.2" '
                  'xmlns:n0="http://www.opengis.net/gml/3.2" n0:id="LineString_'),
            link_id.cast("string"),
            F.lit('"><posList srsDimension="2">'),
            poslist,
            F.lit("</posList></LineString>"),
        ),
    )


def ex_from_to(area_id: Column, edge: Column) -> Column:
    """ex_FromTo (SP:218-243): PlaceRef/EntranceRef pair."""

    def side(name, ifopt, typ):
        place = F.concat(F.lit('<PlaceRef ref="'), esc(ifopt), F.lit('" version="any"/>'))
        ent = F.concat(
            F.lit('<PlaceRef ref="'), esc(area_id), F.lit('" version="any"/>'),
            F.lit('<EntranceRef ref="'), esc(ifopt), F.lit('" version="any"/>'),
        )
        inner = F.when(typ == "ENTRANCE", ent).otherwise(place)
        return F.concat(F.lit(f"<{name}>"), inner, F.lit(f"</{name}>"))

    return F.concat(
        side("From", edge["fromIFOPT"], edge["fromType"]),
        side("To", edge["toIFOPT"], edge["toType"]),
    )


# ------------------------------------------------------- DELFI key lists


def ex_keylist_stop_place(tags: Column) -> Column:
    """ex_keyList_StopPlace (SP:301-307): no mappings -> NULL."""
    return key_list(xmlconcat())


def ex_keylist_quay(tags: Column, pre=None) -> Column:
    """ex_keyList_Quay (SP:312-359)."""
    kerb = F.when(
        t(tags, "kerb").isin("yes", "raised") & (t(tags, "kerb:approach_aid") == "yes"),
        F.lit("<KeyValue><Key>1200</Key><Value></Value></KeyValue>"),
    ).when(
        t(tags, "kerb").isin("yes", "raised"),
        F.lit("<KeyValue><Key>1202</Key><Value></Value></KeyValue>"),
    )
    inner = xmlconcat(
        delfi_check("1120", t(tags, "bench")),
        delfi_check("1140", t(tags, "passenger_information_display")),
        delfi_check("1141", t(tags, "passenger_information_display:speech_output")),
        delfi_check("1150", t(tags, "announcement")),
        key_value("1170", _num_str(_ing(pre, "_p_height", lambda: parse_length_cm(t(tags, "height"))))),
        key_value(
            "1180",
            _num_str(_ing(pre, "_p_width_est", lambda: parse_length_cm(
                F.coalesce(t(tags, "width"), t(tags, "est_width"))))),
        ),
        kerb,
        delfi_check("1210", t(tags, "ramp:portable")),
        key_value("1211", _num_str(_ing(pre, "_p_ramp_len", lambda: parse_length_cm(t(tags, "ramp:length"))))),
        key_value("1212", _num_str(_ing(pre, "_p_ramp_maxw", lambda: parse_weight_kg(t(tags, "ramp:maxweight"))))),
        delfi_check("1220", t(tags, "platform_lift")),
        key_value("1221", _num_str(_ing(pre, "_p_lift_len", lambda: parse_length_cm(t(tags, "platform_lift:maxlength:physical"))))),
        key_value("1222", _num_str(_ing(pre, "_p_lift_maxw", lambda: parse_weight_kg(t(tags, "platform_lift:maxweight"))))),
        delfi_check("2071", t(tags, "tactile_paving"), "yes", "contrasted"),
    )
    return key_list(inner)


def parsed_ingredients(tags: Column) -> dict[str, Column]:
    """Every parser-derived value the keylist builders need, computed
    ONCE. Callers materialize these as columns (with a lineage cut)
    before assembling fragments — inlining each parser at every use site
    makes the codegen units too large for small driver heaps."""
    return {
        "_p_height": parse_length_cm(t(tags, "height")),
        "_p_width_est": parse_length_cm(F.coalesce(t(tags, "width"), t(tags, "est_width"))),
        "_p_ramp_len": parse_length_cm(t(tags, "ramp:length")),
        "_p_ramp_maxw": parse_weight_kg(t(tags, "ramp:maxweight")),
        "_p_lift_len": parse_length_cm(t(tags, "platform_lift:maxlength:physical")),
        "_p_lift_maxw": parse_weight_kg(t(tags, "platform_lift:maxweight")),
        "_p_length": parse_length_cm(t(tags, "length")),
        "_p_width": parse_length_cm(t(tags, "width")),
        "_p_step_h": parse_length_cm(t(tags, "step:height")),
        "_p_dur_s": parse_duration_s(t(tags, "duration")),
        "_p_incline": parse_incline_pct(t(tags, "incline")),
        "_p_maxw_phys": parse_length_cm(
            F.coalesce(t(tags, "maxwidth:physical"), t(tags, "width"))
        ),
        "_p_kerb_step_h": parse_length_cm(
            F.coalesce(t(tags, "kerb:height"), t(tags, "step:height"))
        ),
        "_p_open": parse_length_cm(t(tags, "opening")),
        "_p_spacing": parse_length_cm(t(tags, "spacing")),
        "_p_door_w": parse_length_cm(
            F.coalesce(t(tags, "maxwidth:physical"), t(tags, "width"), t(tags, "door:width"))
        ),
        "_p_maxw_only": parse_length_cm(t(tags, "maxwidth:physical")),
    }


def _ing(pre, key: str, compute):
    """Use a precomputed ingredient column when available."""
    return pre[key] if pre is not None else compute()


def ex_keylist_site_path_link(tags: Column, length_m: Column, pre=None) -> Column:
    """ex_keyList_SitePathLink (SP:367-465)."""
    is_elevator = t(tags, "highway") == "elevator"
    is_stairs = (t(tags, "highway") == "steps") & t(tags, "conveying").isNull()
    is_escalator = (t(tags, "highway") == "steps") & t(tags, "conveying").isin(
        "yes", "forward", "backward", "reversible"
    )
    p_incline = _ing(pre, "_p_incline", lambda: parse_incline_pct(t(tags, "incline")))
    p_len = _ing(pre, "_p_length", lambda: parse_length_cm(t(tags, "length")))
    p_wid = _ing(pre, "_p_width", lambda: parse_length_cm(t(tags, "width")))
    is_ramp = (
        t(tags, "highway").isin("path", "footway", "cycleway")
        & t(tags, "incline").isNotNull()
        & (p_incline != 0)
    )
    lift_area = _num_str(F.round(p_len * p_wid / 10000.0, 6))
    esc_dir = (
        F.when((t(tags, "conveying") == "forward") & (t(tags, "incline") == "up"), F.lit("aufwärts"))
        .when((t(tags, "conveying") == "forward") & (t(tags, "incline") == "down"), F.lit("abwärts"))
        .when((t(tags, "conveying") == "backward") & (t(tags, "incline") == "up"), F.lit("abwärts"))
        .when((t(tags, "conveying") == "backward") & (t(tags, "incline") == "down"), F.lit("aufwärts"))
    )
    branch = (
        F.when(
            is_elevator,
            xmlconcat(
                F.lit("<KeyValue><Key>2090</Key><Value></Value></KeyValue>"),
                key_value("2092", lift_area),
                key_value("2093", _num_str(p_len)),
                key_value("2094", _num_str(p_wid)),
            ),
        )
        .when(
            is_stairs,
            xmlconcat(
                F.lit("<KeyValue><Key>2110</Key><Value></Value></KeyValue>"),
                key_value("2112", _num_str(_ing(pre, "_p_step_h", lambda: parse_length_cm(t(tags, "step:height"))))),
                key_value("2113", t(tags, "step_count")),
            ),
        )
        .when(
            is_escalator,
            xmlconcat(
                F.lit("<KeyValue><Key>2130</Key><Value></Value></KeyValue>"),
                key_value("2132", esc_dir),
                delfi_check("2133", t(tags, "conveying"), "reversible"),
                key_value("2134", _num_str(F.floor(_ing(pre, "_p_dur_s", lambda: parse_duration_s(t(tags, "duration")))))),
            ),
        )
        .when(
            is_ramp,
            xmlconcat(
                F.lit("<KeyValue><Key>2120</Key><Value></Value></KeyValue>"),
                key_value("2122", _num_str(F.floor(length_m * 100.0))),
                key_value(
                    "2123",
                    _num_str(_ing(pre, "_p_maxw_phys", lambda: parse_length_cm(
                        F.coalesce(t(tags, "maxwidth:physical"), t(tags, "width"))))),
                ),
                key_value("2124", _num_str(p_incline)),
            ),
        )
        .otherwise(
            xmlconcat(
                key_value("2020", _num_str(F.floor(length_m * 100.0))),
                key_value("2021", _num_str(p_wid)),
                delfi_check("2040", t(tags, "railway"), "crossing", "tram_crossing"),
                delfi_check(
                    "2050", t(tags, "surface"),
                    "unpaved", "compacted", "fine_gravel", "gravel", "shells",
                    "rock", "ground", "dirt", "earth", "grass", "sand", "woodchips",
                ),
                F.coalesce(
                    delfi_check("2100", t(tags, "barrier"), "kerb", "step"),
                    delfi_check("2100", t(tags, "kerb"), "raised", "rolled", "yes"),
                ),
                key_value(
                    "2101",
                    _num_str(_ing(pre, "_p_kerb_step_h", lambda: parse_length_cm(
                        F.coalesce(t(tags, "kerb:height"), t(tags, "step:height"))))),
                ),
            )
        )
    )
    return key_list(xmlconcat(delfi_check("2072", t(tags, "tactile_paving"), "yes", "contrasted"), branch))


def ex_keylist_access_space(tags: Column, pre=None) -> Column:
    """ex_keyList_AccessSpace (SP:473-525)."""
    door_type = (
        F.when(t(tags, "door") == "yes", F.lit("Tür"))
        .when(t(tags, "door") == "hinged", F.lit("Anschlagtür"))
        .when(t(tags, "door") == "sliding", F.lit("Schiebetür"))
        .when(t(tags, "door") == "revolving", F.lit("Drehtür"))
        .when(t(tags, "door") == "swinging", F.lit("Pendeltür"))
    )
    open_type = (
        F.when(t(tags, "automatic_door") == "yes", F.lit("automatisch"))
        .when(t(tags, "automatic_door") == "button", F.lit("halbautomatisch"))
        .when(t(tags, "automatic_door") == "motion", F.lit("automatisch"))
    )
    branch = (
        F.when(
            (t(tags, "barrier") == "cycle_barrier")
            & t(tags, "cycle_barrier").isin("single", "tilted", "diagonal"),
            xmlconcat(key_value("2080 ", _num_str(_ing(pre, "_p_maxw_only", lambda: parse_length_cm(t(tags, "maxwidth:physical")))))),
        )
        .when(
            (t(tags, "barrier") == "cycle_barrier")
            & t(tags, "cycle_barrier").isin("double", "triple"),
            xmlconcat(
                key_value("2080 ", _num_str(_ing(pre, "_p_open", lambda: parse_length_cm(t(tags, "opening"))))),
                key_value("2081 ", _num_str(_ing(pre, "_p_spacing", lambda: parse_length_cm(t(tags, "spacing"))))),
            ),
        )
        .when(
            (t(tags, "indoor") == "door") & (t(tags, "door") != "no"),
            xmlconcat(
                F.lit("<KeyValue><Key>2030</Key><Value></Value></KeyValue>"),
                key_value("2032", door_type),
                key_value("2033", open_type),
                key_value(
                    "2034",
                    _num_str(_ing(pre, "_p_door_w", lambda: parse_length_cm(F.coalesce(
                        t(tags, "maxwidth:physical"), t(tags, "width"), t(tags, "door:width")
                    )))),
                ),
            ),
        )
    )
    return key_list(xmlconcat(branch))


def ex_keylist_entrance(tags: Column, pre=None) -> Column:
    """ex_keyList_Entrance (SP:533-567)."""
    door_type = (
        F.when(t(tags, "door") == "yes", F.lit("Tür"))
        .when(t(tags, "door") == "hinged", F.lit("Anschlagtür"))
        .when(t(tags, "door") == "sliding", F.lit("Schiebetür"))
        .when(t(tags, "door") == "revolving", F.lit("Drehtür"))
        .when(t(tags, "door") == "swinging", F.lit("Pendeltür"))
    )
    open_type = (
        F.when(t(tags, "automatic_door") == "yes", F.lit("automatisch"))
        .when(t(tags, "automatic_door") == "button", F.lit("halbautomatisch"))
        .when(t(tags, "automatic_door") == "motion", F.lit("automatisch"))
    )
    inner = xmlconcat(
        F.lit("<KeyValue><Key>2030</Key><Value></Value></KeyValue>"),
        key_value("2032", door_type),
        key_value("2033", open_type),
        key_value(
            "2034",
            _num_str(_ing(pre, "_p_door_w", lambda: parse_length_cm(F.coalesce(
                t(tags, "maxwidth:physical"), t(tags, "width"), t(tags, "door:width")
            )))),
        ),
    )
    return key_list(inner)


# -------------------------------------------------------------- parkings


def ex_parking_type(tags: Column) -> Column:
    """ex_ParkingType (parkings.sql:11-19)."""
    return elem(
        "ParkingType",
        F.when(
            t(tags, "park_ride").isin("yes", "bus", "ferry", "metro", "train", "tram"),
            F.lit("parkAndRide"),
        ).otherwise(F.lit("undefined")),
    )


def ex_parking_layout(tags: Column) -> Column:
    """ex_ParkingLayout (parkings.sql:28-42) — including the reference's
    trailing-space quirk in 'multistorey '."""
    return elem(
        "ParkingLayout",
        F.when(t(tags, "parking").isNull(), F.lit("undefined"))
        .when(t(tags, "parking") == "multi-storey", F.lit("multistorey "))
        .when(t(tags, "parking") == "underground", F.lit("underground"))
        .when(t(tags, "parking") == "street_side", F.lit("roadside"))
        .when((t(tags, "parking") == "surface") & (t(tags, "covered") == "yes"), F.lit("covered"))
        .when(t(tags, "parking") == "surface", F.lit("openSpace"))
        .otherwise(F.lit("other")),
    )


def ex_total_capacity(tags: Column) -> Column:
    return elem_opt("TotalCapacity", t(tags, "capacity"))
