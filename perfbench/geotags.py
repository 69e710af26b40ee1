"""Seeded geotag table and the brute-force oracle for the assignment
workload.

Points are uniform over the sf0.1 octagon grid's box, except a hot share
drawn around one octagon's centre (skewed, dense spatial joins are where
spatial-join engines win or lose). Uniform points lie within
``COVER_DEG`` (per axis) of a quay: that keeps them inside the region
the operator maps with per-cell quay candidates, so passes run its
unrolled codegen path. Points outside that region take the operator's
exact full-list fallback, which it documents as a near-empty branch
(at 3.5 % of the points, as a uniform box gives, that branch took 90 %
of a pass). The octagon and quay dimensions are
the ``pipeline.datagen`` layers; their key columns (``nation``: 25 keys,
``supplier``: 1000 keys, as at sf0.1) are written here so no test data
outside the benchmark is read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from osm2vdv462_spark.geo import kernel
from osm2vdv462_spark.pipeline import datagen

N_NATIONS = 25
N_SUPPLIERS = 1000
HOT_KEY = 12  # octagon at the grid centre
HOT_SHARE = 0.25
HOT_SIGMA = 0.01
BOX = 0.25
COVER_DEG = 0.15
ROW_GROUPS = 32
WEIGHT_MOD = 1009


def ensure_tables(cache_dir: str, n_points: int, seed: int) -> tuple[str, str]:
    """(geotag parquet path, sf dir holding nation/supplier parquet).

    The geotag table has ``ROW_GROUPS`` row groups, so Spark splits it
    over every core. Only the table of the latest (size, seed) is kept.
    """
    sf_dir = os.path.join(cache_dir, "dims")
    os.makedirs(sf_dir, exist_ok=True)
    for name, col, n0 in (("nation", "n_nationkey", 0),
                          ("supplier", "s_suppkey", 1)):
        n = N_NATIONS if name == "nation" else N_SUPPLIERS
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            keys = pa.array(np.arange(n0, n0 + n, dtype=np.int64))
            pq.write_table(pa.table({col: keys}), path + ".tmp")
            os.replace(path + ".tmp", path)
    path = os.path.join(cache_dir, f"geotags_n{n_points}_s{seed}.parquet")
    if not os.path.exists(path):
        for old in os.listdir(cache_dir):
            if old.startswith("geotags_"):
                os.remove(os.path.join(cache_dir, old))
        lon, lat = points(n_points, seed)
        table = pa.table({
            "event_id": np.arange(n_points, dtype=np.int64),
            "lon": lon,
            "lat": lat,
        })
        pq.write_table(table, path + ".tmp",
                       row_group_size=-(-n_points // ROW_GROUPS))
        os.replace(path + ".tmp", path)
    return path, sf_dir


def points(n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Seeded points: a ``HOT_SHARE`` cluster around the ``HOT_KEY``
    octagon, the rest uniform over the box within ``COVER_DEG`` of a
    quay (see the module docstring)."""
    rng = np.random.default_rng([seed, 2])
    lon = np.empty(n)
    lat = np.empty(n)
    hot = rng.random(n) < HOT_SHARE
    n_hot = int(hot.sum())
    cx, cy = _octagon_centre(HOT_KEY)
    lon[hot] = np.clip(rng.normal(cx, HOT_SIGMA, n_hot), -BOX, BOX)
    lat[hot] = np.clip(rng.normal(cy, HOT_SIGMA, n_hot), -BOX, BOX)
    _, qlon, qlat = quays()
    near = (np.abs(qlon) < BOX + COVER_DEG) & (np.abs(qlat) < BOX + COVER_DEG)
    qlon, qlat = qlon[near], qlat[near]
    parts, need = [], n - n_hot
    while need > 0:
        m = min(2 * need, 1 << 20)
        x = rng.uniform(-BOX, BOX, m)
        y = rng.uniform(-BOX, BOX, m)
        cheb = np.full(m, np.inf)
        for qx, qy in zip(qlon, qlat):
            np.minimum(cheb, np.maximum(np.abs(x - qx), np.abs(y - qy)),
                       out=cheb)
        keep = cheb < COVER_DEG
        parts.append((x[keep][:need], y[keep][:need]))
        need -= len(parts[-1][0])
    lon[~hot] = np.concatenate([p[0] for p in parts])
    lat[~hot] = np.concatenate([p[1] for p in parts])
    return lon, lat


def _octagon_centre(key: int) -> tuple[float, float]:
    return (datagen.GRID_LON0 + datagen.GRID_STEP * (key % 5),
            datagen.GRID_LAT0 + datagen.GRID_STEP * (key // 5))


def quays() -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    k = np.arange(1, N_SUPPLIERS + 1, dtype=np.int64)
    return k, -0.22 + 0.043 * (k % 997), -0.09 + 0.017 * (k % 983)


def oracle_pip(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Stop area (octagon key, -1 for none) per point, by brute force:
    |dx|, |dy| < A and |dx| + |dy| < B against the octagon of the
    nearest grid centre (octagons are narrower than half the grid step,
    so no other octagon can hold the point)."""
    col = np.clip(np.rint((lon - datagen.GRID_LON0) / datagen.GRID_STEP),
                  0, 4).astype(np.int64)
    row = np.clip(np.rint((lat - datagen.GRID_LAT0) / datagen.GRID_STEP),
                  0, N_NATIONS // 5 - 1).astype(np.int64)
    dx = np.abs(lon - (datagen.GRID_LON0 + datagen.GRID_STEP * col))
    dy = np.abs(lat - (datagen.GRID_LAT0 + datagen.GRID_STEP * row))
    inside = (dx < datagen.OCT_A) & (dy < datagen.OCT_A) & (
        dx + dy < datagen.OCT_B)
    return np.where(inside, 5 * row + col, -1)


def pip_aggregates(rel: np.ndarray) -> dict:
    """The exact per-pass aggregates of the stop-area column (see
    ``workloads.pass_observation``) for stop areas ``rel`` (-1: none)."""
    ids = np.arange(len(rel), dtype=np.int64)
    hit = rel >= 0
    return {
        "rows": len(rel),
        "in_poly": int(hit.sum()),
        "rel_sum": int(rel[hit].sum()),
        "rel_weighted": int((((ids % WEIGHT_MOD) + 1) * rel)[hit].sum()),
    }


def oracle(lon: np.ndarray, lat: np.ndarray):
    """(stop area or -1, nearest quay id, its distance in m) per point,
    by brute force; haversine to every quay with the (distance, id)
    tie-break."""
    rel = oracle_pip(lon, lat)
    qid, qlon, qlat = quays()
    d = _haversine(lon[:, None], lat[:, None], qlon[None, :], qlat[None, :])
    best = np.lexsort((np.broadcast_to(qid, d.shape), d), axis=1)[:, 0]
    rows = np.arange(len(lon))
    return rel, qid[best], d[rows, best]


def _haversine(lon1, lat1, lon2, lat2):
    rlon1, rlat1, rlon2, rlat2 = map(np.radians, (lon1, lat1, lon2, lat2))
    h = (np.sin((rlat2 - rlat1) / 2) ** 2
         + np.cos(rlat1) * np.cos(rlat2) * np.sin((rlon2 - rlon1) / 2) ** 2)
    return 2.0 * kernel.EARTH_R * np.arcsin(np.sqrt(np.minimum(h, 1.0)))
