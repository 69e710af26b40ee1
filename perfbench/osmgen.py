"""Synthetic `.osm.pbf` extracts for the export workloads.

``build_world`` rows become OSM elements: way geometries turn into ways
with untagged vertex nodes, point rows into tagged nodes, stop areas
into relations with their members. Tags that dispatch requires but the
world rows leave implicit (``ref:IFOPT`` on IFOPT-bearing objects,
``vending=public_transport_tickets`` on ticket machines) are added here.
Filler buildings (closed ways over untagged nodes, which dispatch must
drop) pad the extract to the element mix of a real one.

Rows are built columnar in pandas and encoded by the blob encoder of
``sources.pbf.write_pbf``; ``matches_write_pbf`` checks the file
against ``write_pbf`` itself. Files are cached per (areas, filler, seed);
generation happens before any timed phase. The expected per-table row
counts are ``build_world``'s; the export workload compares them with the
row counts of its ``world_*`` checkpoint stages, which are the tables
``osm_world.world_from_pbf`` builds from the file (``stop_positions``,
which no export stage reads, is not materialized and not compared).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

from osm2vdv462_spark.geo import wkb
from osm2vdv462_spark.pipeline.world import M, build_world
from osm2vdv462_spark.sources import pbf

# id ranges disjoint from build_world's structured ids (< 10^7)
_VERTEX_NODE0 = 10_000_000
_FILLER_WAY0 = 50_000_000
_FILLER_NODE0 = 60_000_000
_FILLER_SIDE_M = 12.0

WORLD_TABLES = (
    "stop_areas", "stop_areas_members_ref", "platforms", "platforms_edges",
    "stop_positions", "entrances", "pois", "highways", "parking",
)


class _Elements:
    """Column lists in the read_pbf row layout."""

    def __init__(self):
        self.cols = {c: [] for c in pbf._COLS}
        self.next_vertex = _VERTEX_NODE0

    def add(self, etype, osm_id, lon=None, lat=None, tags=None, refs=None,
            members=None):
        c = self.cols
        c["element_type"].append(etype)
        c["osm_id"].append(int(osm_id))
        c["lon"].append(lon)
        c["lat"].append(lat)
        c["tags"].append(tags)
        c["refs"].append(refs)
        if members is None:
            c["member_types"].append(None)
            c["member_refs"].append(None)
            c["member_roles"].append(None)
        else:
            c["member_types"].append([t for t, _ in members])
            c["member_refs"].append([int(r) for _, r in members])
            c["member_roles"].append(["" for _ in members])

    def add_way(self, osm_id, tags, geom_wkb):
        """Way over fresh vertex nodes; a closed ring reuses its first
        node as the last ref, as OSM closed ways do."""
        coords = wkb.decode(bytes(geom_wkb)).coords
        closed = len(coords) > 2 and np.array_equal(coords[0], coords[-1])
        body = coords[:-1] if closed else coords
        refs = []
        for lon, lat in body:
            nid = self.next_vertex
            self.next_vertex += 1
            self.add("node", nid, float(lon), float(lat))
            refs.append(nid)
        if closed:
            refs.append(refs[0])
        self.add("way", osm_id, tags=tags, refs=refs)

    def add_point(self, osm_id, tags, geom_wkb):
        (lon, lat), = wkb.decode(bytes(geom_wkb)).coords
        self.add("node", osm_id, float(lon), float(lat), tags=tags)

    def add_geom(self, osm_id, osm_type, tags, geom_wkb):
        if osm_type == "N":
            self.add_point(osm_id, tags, geom_wkb)
        else:
            self.add_way(osm_id, tags, geom_wkb)


def world_elements(n_areas: int, filler: int, seed: int):
    """(pandas frame in read_pbf layout, expected per-table row counts)."""
    w = build_world(n_areas, seed)
    el = _Elements()
    members: dict[int, list] = {}
    for rel, osm_id, osm_type in w["stop_areas_members_ref"]:
        members.setdefault(rel, []).append(
            ("node" if osm_type == "N" else "way", osm_id)
        )
    for rel, ifopt, tags in w["stop_areas"]:
        el.add("relation", rel,
               tags={**tags, "type": "public_transport", "ref:IFOPT": ifopt},
               members=members.get(rel, []))
    for osm_id, osm_type, ifopt, tags, g in w["platforms"]:
        el.add_geom(osm_id, osm_type, {**tags, "ref:IFOPT": ifopt}, g)
    for node_id, ifopt, tags, g in w["stop_positions"]:
        el.add_point(node_id, {**tags, "ref:IFOPT": ifopt}, g)
    for node_id, tags, g in w["entrances"]:
        el.add_point(node_id, tags, g)
    for osm_id, osm_type, tags, g in w["pois"]:
        if tags.get("amenity") == "vending_machine":
            tags = {**tags, "vending": "public_transport_tickets"}
        el.add_geom(osm_id, osm_type, tags, g)
    for table in ("platforms_edges", "highways", "parking"):
        for osm_id, osm_type, tags, g in w[table]:
            el.add_geom(osm_id, osm_type, tags, g)
    frame = pd.DataFrame(el.cols)
    if filler:
        frame = pd.concat([frame, _filler(n_areas, filler, seed)],
                          ignore_index=True)
    expected = {t: len(w[t]) for t in WORLD_TABLES}
    return frame, expected


def _filler(n_areas: int, per_area: int, seed: int) -> pd.DataFrame:
    """``per_area`` square buildings scattered over each area's block:
    4 untagged nodes + 1 closed way each."""
    rng = np.random.default_rng([seed, 1])
    n = n_areas * per_area
    area = np.repeat(np.arange(n_areas), per_area)
    cx = 11.50 + (area % 4) * 0.01 + rng.uniform(-0.005, 0.005, n)
    cy = 48.10 + (area // 4) * 0.01 + rng.uniform(-0.005, 0.005, n)
    h = _FILLER_SIDE_M * M / 2
    corner_dx = np.array([-h, h, h, -h])
    corner_dy = np.array([-h, -h, h, h])
    node_ids = _FILLER_NODE0 + np.arange(4 * n)
    nodes = pd.DataFrame({
        "element_type": "node",
        "osm_id": node_ids,
        "lon": (cx[:, None] + corner_dx).ravel(),
        "lat": (cy[:, None] + corner_dy).ravel(),
    })
    ring = node_ids.reshape(n, 4)
    ways = pd.DataFrame({
        "element_type": "way",
        "osm_id": _FILLER_WAY0 + np.arange(n),
        "tags": [{"building": "yes"}] * n,
        "refs": np.concatenate([ring, ring[:, :1]], axis=1).tolist(),
    })
    out = pd.concat([nodes, ways], ignore_index=True)
    for c in pbf._COLS:
        if c not in out:
            out[c] = None
    return out[list(pbf._COLS)]


def _canonical(frame: pd.DataFrame) -> pd.DataFrame:
    """Elements in canonical OSM order: nodes, ways, relations, each by
    id (the order ``write_pbf`` range-sorts into)."""
    order = frame["element_type"].map({"node": 0, "way": 1, "relation": 2})
    frame = (frame.assign(_ord=order).sort_values(["_ord", "osm_id"])
             .drop(columns="_ord").reset_index(drop=True))
    for c in ("tags", "refs", "member_types", "member_refs", "member_roles"):
        frame[c] = frame[c].astype(object).where(frame[c].notna(), None)
    return frame


def write_extract(frame: pd.DataFrame, path: str) -> int:
    """Encode the elements as one ``.osm.pbf`` the way ``write_pbf``
    encodes one partition: its row conversion, block chunking, block
    encoder and blob framing, in this process without Spark, so no job
    warms the JVM before the export the file feeds (a ``write_pbf``
    call per generated extract would start a second JVM in every run).
    ``matches_write_pbf`` checks the bytes against ``write_pbf`` itself.
    Returns the element count."""
    rows = pbf._rows_from_pandas(_canonical(frame))
    with open(path, "wb") as fh:
        fh.write(pbf._header_bytes())
        for chunk in pbf._chunk_blocks(rows):
            fh.write(pbf._frame_blob(pbf._encode_primitive_block(chunk)))
    return len(rows)


def matches_write_pbf(spark, n_areas: int, filler: int, seed: int,
                      path: str, scratch: str) -> list[str]:
    """Errors if ``path`` differs from what ``sources.pbf.write_pbf``
    writes for the same elements (one partition, so one block stream)."""
    frame, _ = world_elements(n_areas, filler, seed)
    frame = _canonical(frame).astype(object)
    frame = frame.where(frame.notna(), None)
    df = spark.createDataFrame(frame, pbf.PBF_SCHEMA)
    os.makedirs(scratch, exist_ok=True)
    ref = os.path.join(scratch, "write_pbf.osm.pbf")
    pbf.write_pbf(df, ref, partitions=1)
    with open(path, "rb") as a, open(ref, "rb") as b:
        same = a.read() == b.read()
    os.remove(ref)
    return [] if same else [f"{path} differs from write_pbf output"]


def ensure_pbf(cache_dir: str, n_areas: int, filler: int,
               seed: int) -> tuple[str, dict]:
    """Path of the cached extract plus its metadata (element count and
    the expected per-table counts); writes it on a miss."""
    os.makedirs(cache_dir, exist_ok=True)
    stem = os.path.join(cache_dir, f"world_a{n_areas}_f{filler}_s{seed}")
    path, meta_path = stem + ".osm.pbf", stem + ".json"
    if os.path.exists(meta_path) and os.path.exists(path):
        with open(meta_path) as fh:
            return path, json.load(fh)
    frame, expected = world_elements(n_areas, filler, seed)
    tmp = path + ".inprogress"
    n = write_extract(frame, tmp)
    os.replace(tmp, path)
    meta = {"elements": n, "expected": expected}
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    return path, meta
