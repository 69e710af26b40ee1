"""The broadcast geotag operators in operators/jvm_pip.py: the unrolled
codegen plan against the higher-order-function plan, the shape of the
codegen plan's broadcast maps, and the windowed target-map build
against a brute-force application of its inclusion rule."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm2vdv462_spark.geo import cells, wkb
from osm2vdv462_spark.operators import jvm_pip as jp
from osm2vdv462_spark.pipeline import datagen

# extra stop areas: 40 and 41 overlap nation 12's octagon at (0, 0) and
# each other; 200 lies far from every quay, so its points are strays
EXTRA_POLYS = {40: (0.02, 0.0), 41: (0.0, 0.02), 200: (5.0, 5.0)}


def _polys(spark, sf_dir):
    octs = datagen.stop_area_octagons(spark, sf_dir)
    extra = spark.createDataFrame(
        [(k, bytearray(wkb.encode_polygon([datagen._octagon_ring(x, y)])))
         for k, (x, y) in EXTRA_POLYS.items()],
        "relation_id int, geom binary",
    )
    return octs.unionByName(extra)


def _points(spark):
    """A 0.004-degree grid over the octagon field (overlaps included),
    a small grid inside stop area 200 and a line far from everything."""
    grid = spark.range(0, 150 * 150).select(
        F.col("id").alias("event_id"),
        (F.lit(-0.3) + (F.col("id") % 150) * 0.004).alias("lon"),
        (F.lit(-0.3) + F.floor(F.col("id") / 150) * 0.004).alias("lat"),
    )
    far = spark.range(0, 400).select(
        (F.col("id") + 1_000_000).alias("event_id"),
        (F.lit(4.98) + (F.col("id") % 20) * 0.002).alias("lon"),
        (F.lit(4.98) + F.floor(F.col("id") / 20) * 0.002).alias("lat"),
    )
    lost = spark.range(0, 50).select(
        (F.col("id") + 2_000_000).alias("event_id"),
        (F.lit(3.0) + F.col("id") * 0.01).alias("lon"),
        F.lit(-4.0).alias("lat"),
    )
    return grid.unionByName(far).unionByName(lost)


def _assign(fn, spark, sf_dir, **kw):
    return fn(
        _points(spark), _polys(spark, sf_dir),
        datagen.quay_sites(spark, sf_dir), point_keep=["event_id"],
        poly_id="relation_id", target_id="quay_id", poly_res=12, **kw,
    )


def test_codegen_and_hof_variants_agree_row_for_row(spark, sf_dir):
    rows = {}
    for name, fn in (("codegen", jp.pip_knn_assign_codegen),
                     ("hof", jp.pip_knn_assign_jvm)):
        rows[name] = {
            r["event_id"]: (r["relation_id"], r["quay_id"],
                            r["dist_m"].hex())  # bitwise dist_m
            for r in _assign(fn, spark, sf_dir).collect()
        }
    assert len(rows["codegen"]) == 150 * 150 + 400 + 50
    assert rows["codegen"] == rows["hof"]
    got = rows["codegen"]
    rels = {v[0] for v in got.values()}
    assert {12, 40, 41, 200, None} <= rels, rels
    # overlap ties take the smallest id: the centre of 12's octagon is
    # inside 40 and 41 too
    centre = 75 * 150 + 75  # (0.0, 0.0)
    assert got[centre][0] == 12
    assert all(v[1] is not None for v in got.values())


def _walk(node):
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _walk(kids.apply(i))


def _joins(df):
    plan = df._jdf.queryExecution().sparkPlan()
    return [n for n in _walk(plan)
            if n.getClass().getSimpleName().endswith("JoinExec")]


def test_one_hash_join_and_local_non_nullable_maps(spark, sf_dir):
    matched = _assign(jp.pip_knn_assign_codegen, spark, sf_dir,
                      assume_covered=True)
    names = [j.getClass().getSimpleName() for j in _joins(matched)]
    assert names == ["BroadcastHashJoinExec"], names
    # with the strays: anti and polygon hash joins (the optimizer may
    # push the anti join into each input of a union) and the full list
    joins = _joins(_assign(jp.pip_knn_assign_codegen, spark, sf_dir))
    assert {j.getClass().getSimpleName() for j in joins} == {
        "BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"}
    for j in joins:
        side = j.buildSide().toString()
        child = j.right() if side == "BuildRight" else j.left()
        assert child.getClass().getSimpleName() == "LocalTableScanExec"
        out = child.output()
        assert not any(out.apply(i).nullable() for i in range(out.size()))


def _brute_map(trows, res, pad):
    """The target map by its definition: every cell within Chebyshev
    ``pad`` of a target lists each target whose distance lower bound
    from the cell is <= the smallest upper bound over ALL targets."""
    ids = np.array([t[0] for t in trows], np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    lon = np.array([t[1] for t in trows], np.float64)[order]
    lat = np.array([t[2] for t in trows], np.float64)[order]
    tix, tiy = cells.xy_of_points(lon, lat, res)
    ncols, nrows = 1 << (res + 1), 1 << res
    near = {
        (min(max(x + dx, 0), ncols - 1), min(max(y + dy, 0), nrows - 1))
        for x, y in zip(tix.tolist(), tiy.tolist())
        for dx in range(-pad, pad + 1)
        for dy in range(-pad, pad + 1)
    }
    cx, cy = (np.array(v, np.int64) for v in zip(*near))
    cell_ids = np.sort(cells.pack(res, cx, cy))
    _, x, y = cells.unpack(cell_ids)
    d = 180.0 / nrows
    x0 = (x.astype(np.float64) * 360.0 / ncols - 180.0)[:, None]
    y0 = (y.astype(np.float64) * 180.0 / nrows - 90.0)[:, None]
    fx = np.maximum(lon - x0, (x0 + d) - lon)
    fy = np.maximum(lat - y0, (y0 + d) - lat)
    ub = (fx * fx + fy * fy).min(axis=1, keepdims=True)
    cos = np.cos(np.radians(np.minimum(
        np.maximum(np.abs(lat), np.abs(y0) + d), 89.0)))
    g = np.maximum(np.maximum(fx - d, 0.0) * cos, np.maximum(fy - d, 0.0))
    keep = g * g <= ub
    K = int(keep.sum(axis=1).max())
    mats = [np.full((len(cell_ids), K), -1, np.int64),
            np.full((len(cell_ids), K), np.nan),
            np.full((len(cell_ids), K), np.nan)]
    for i, row in enumerate(keep):
        k = np.flatnonzero(row)
        for m, v in zip(mats, (ids, lon, lat)):
            m[i, : len(k)] = v[k]
    return (cell_ids, *mats, (ids, lon, lat))


# both layouts map more cells than one build chunk holds, so the
# per-chunk target windows are narrower than the whole target set
@pytest.mark.parametrize("layout", ["sparse_under_64", "high_latitude"])
def test_pruned_map_equals_brute_force_inclusion_rule(layout):
    rng = np.random.default_rng(7)
    if layout == "sparse_under_64":
        n, lon0, lat0, span, res = 40, 8.0, 47.0, 4.0, 13
    else:
        n, lon0, lat0, span, res = 120, 15.0, 78.0, 3.0, 12
    lon = lon0 + rng.random(n) * span
    lat = lat0 + rng.random(n) * span
    ids = rng.permutation(10 * n)[:n]  # unordered ids
    trows = [(int(i), float(x), float(y)) for i, x, y in zip(ids, lon, lat)]
    got = jp._target_cell_arrays(trows, res, 8)
    want = _brute_map(trows, res, 8)
    assert len(got[0]) > 4096
    for g, w in zip(got[:4], want[:4]):
        np.testing.assert_array_equal(g, w)
    for g, w in zip(got[4], want[4]):
        np.testing.assert_array_equal(g, w)
