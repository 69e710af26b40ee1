"""End-to-end export test: synthetic world -> full view DAG -> one NeTEx
document. Oracle = structural validity (well-formed XML + NeTEx element
shape), mirroring the reference's CI strategy (xmllint XSD validation of
whole-pipeline output, /root/reference/.github/workflows/validation.yml:32-58)
plus determinism across runs (SURVEY.md §5)."""

import xml.etree.ElementTree as ET

import pytest
from pyspark.sql import functions as F

from osm2vdv462_spark.pipeline import export as ex
from osm2vdv462_spark.pipeline import routing, stop_places as sp
from osm2vdv462_spark.pipeline.world import world_dfs

NS = "{http://www.netex.org.uk/netex}"


def build_document(spark, n_areas=3):
    w = world_dfs(spark, n_areas=n_areas, seed=42)
    pww = sp.platforms_with_width(w["platforms"]).localCheckpoint(eager=True)
    split = sp.platforms_split(pww, w["platforms_edges"]).localCheckpoint(eager=True)
    merged = sp.platforms_merged(split).localCheckpoint(eager=True)
    fq = sp.final_quays(merged, w["stop_areas_members_ref"]).localCheckpoint(eager=True)
    fe = sp.final_entrances(w["entrances"], w["stop_areas_members_ref"]).localCheckpoint(eager=True)
    edges = routing.stop_area_edges(fq, fe).localCheckpoint(eager=True)
    links, access, refs = routing.stitch_path_links(routing.synthesize_routes(edges))
    links = links.localCheckpoint(eager=True)
    access = access.localCheckpoint(eager=True)
    refs = refs.localCheckpoint(eager=True)
    facc = sp.final_access_spaces(access, w["pois"])
    fspl = routing.final_site_path_links(links, refs, w["highways"])

    spo = ex.stop_places_with_organisations(w["stop_areas"], w["organisations"])
    spg = ex.stop_places_with_geometry(
        spo, w["stop_areas_members_ref"], w["platforms"]
    )
    fsp = ex.final_stop_places(spg, fq, fe, facc).localCheckpoint(eager=True)
    ed = ex.export_data(fsp, fq, fe, facc, fspl).localCheckpoint(eager=True)
    xsp = ex.xml_stop_places(ed)
    xpk = ex.xml_parkings(
        ex.export_parkings_data(w["parking"], w["stop_areas_members_ref"])
    )
    xorg = ex.xml_organisations(w["organisations"])
    return ex.assemble_document(
        xsp, ex.collect_parkings(xpk), ex.collect_organisations(xorg)
    ), w


@pytest.fixture(scope="module")
def doc_and_world(spark):
    return build_document(spark)


class TestDocument:
    def test_well_formed(self, doc_and_world):
        doc, w = doc_and_world
        root = ET.fromstring(doc)
        assert root.tag == f"{NS}PublicationDelivery"

    def test_stop_place_structure(self, doc_and_world):
        doc, w = doc_and_world
        root = ET.fromstring(doc)
        sps = root.findall(f".//{NS}StopPlace")
        assert len(sps) == 3  # one per stop area with members
        for s in sps:
            assert s.get("version") == "any"
            assert s.get("id", "").startswith("de:09162:")
            assert s.find(f"{NS}Name") is not None
            assert s.find(f"{NS}Centroid/{NS}Location/{NS}Longitude") is not None
            assert s.find(f"{NS}levels") is not None
            assert len(s.findall(f"{NS}quays/{NS}Quay")) >= 2
            assert len(s.findall(f"{NS}entrances/{NS}Entrance")) >= 1
            assert len(s.findall(f"{NS}pathLinks/{NS}SitePathLink")) >= 2
            # OperatorRef or AuthorityRef (matched via operator:wikidata)
            assert (
                s.find(f"{NS}OperatorRef") is not None
                or s.find(f"{NS}AuthorityRef") is not None
            )

    def test_category_order(self, doc_and_world):
        # NeTEx requires entrances < quays < accessSpaces < pathLinks order
        doc, w = doc_and_world
        root = ET.fromstring(doc)
        order = ["entrances", "quays", "accessSpaces", "pathLinks"]
        for s in root.findall(f".//{NS}StopPlace"):
            seen = [
                c.tag.replace(NS, "")
                for c in s
                if c.tag.replace(NS, "") in order
            ]
            assert seen == sorted(seen, key=order.index)

    def test_quay_content(self, doc_and_world):
        doc, w = doc_and_world
        root = ET.fromstring(doc)
        quays = root.findall(f".//{NS}Quay")
        assert quays
        widths = 0
        for q in quays:
            assert q.find(f"{NS}QuayType") is not None
            assert q.find(f"{NS}LevelRef") is not None
            kl = q.find(f"{NS}keyList")
            if kl is not None:
                keys = [k.findtext(f"{NS}Key") for k in kl]
                if "1180" in keys:
                    widths += 1
        assert widths > 0  # est_width flowed into DELFI attr 1180

    def test_path_link_content(self, doc_and_world):
        doc, w = doc_and_world
        root = ET.fromstring(doc)
        links = root.findall(f".//{NS}SitePathLink")
        assert links
        for l in links:
            assert l.find(f"{NS}Distance") is not None
            assert l.find(f"{NS}From/{NS}PlaceRef") is not None
            assert l.find(f"{NS}To/{NS}PlaceRef") is not None
            td = l.findtext(
                f"{NS}TransferDuration/{NS}DefaultDuration"
            )
            assert td and td.startswith("PT") and td.endswith("S")
            # gml LineString posList
            gml = l.find("{http://www.opengis.net/gml/3.2}LineString")
            assert gml is not None

    def test_parkings_and_orgs(self, doc_and_world):
        doc, w = doc_and_world
        root = ET.fromstring(doc)
        assert len(root.findall(f".//{NS}Parking")) == 3
        orgs = root.findall(f".//{NS}Operator") + root.findall(f".//{NS}Authority")
        assert len(orgs) == 3
        for o in orgs:
            assert o.find(f"{NS}OrganisationType") is not None

    def test_deterministic(self, spark, doc_and_world):
        doc1, _ = doc_and_world
        doc2, _ = build_document(spark)
        assert doc1 == doc2


class TestOrgMatching:
    def test_wikidata_id_wins_over_name(self, spark):
        orgs = spark.createDataFrame(
            [
                ("Q1", "Alpha", "", "Alpha GmbH", "A", "", "", "", "", "operator"),
                ("Q2", "Beta", "", "Beta AG", "B", "", "", "", "", "operator"),
            ],
            "id string, label string, alternatives string, official_name string,"
            " short_name string, website string, email string, phone string,"
            " address string, type string",
        )
        areas = spark.createDataFrame(
            [
                # wikidata present: matched by id even though name says Beta
                (1, "a:1", {"operator": "Beta", "operator:wikidata": "Q1"}),
                # no wikidata: matched by name
                (2, "a:2", {"operator": "Beta"}),
                # alias match via alternatives
                (3, "a:3", {"operator": "nobody"}),
            ],
            "relation_id long, IFOPT string, tags map<string,string>",
        )
        out = {
            r["relation_id"]: r["operator_id"]
            for r in ex.stop_places_with_organisations(areas, orgs).collect()
        }
        assert out[1] == "Q1"
        assert out[2] == "Q2"
        assert out[3] is None

    def test_top1_by_org_id_on_multi_match(self, spark):
        orgs = spark.createDataFrame(
            [
                ("Q9", "Same", "", "", "", "", "", "", "", "operator"),
                ("Q1", "Same", "", "", "", "", "", "", "", "operator"),
            ],
            "id string, label string, alternatives string, official_name string,"
            " short_name string, website string, email string, phone string,"
            " address string, type string",
        )
        areas = spark.createDataFrame(
            [(1, "a:1", {"operator": "Same"})],
            "relation_id long, IFOPT string, tags map<string,string>",
        )
        out = ex.stop_places_with_organisations(areas, orgs).collect()
        assert out[0]["operator_id"] == "Q1"  # ORDER BY org.id LIMIT 1
