"""JVM-only fused PIP + kNN: the zero-Python-crossing flagship plan.

Round-1 forensics (BENCH/BASELINE.md) showed the engine's mapInArrow
flagship saturates the per-JVM JVM<->Python Arrow channel (~4.2M rows/s
regardless of cores), so single-JVM scaling measured that artifact, not
the engine. This variant keeps EVERYTHING in the JVM:

* cell ids as Catalyst arithmetic (bit-identical to geo/cells.py);
* per-cell candidate lists (polygon segments / nearby targets) built
  driver-side from the dimension tables and BROADCAST-joined to the
  point table — one row per point, no row multiplication, no shuffle;
* exact ray-cast PIP and exact (dist, id) nearest-target as higher-order
  functions (filter/aggregate) over the candidate arrays — evaluated in
  the JVM, GIL-free, scaling with executor cores.

Semantics are identical to operators/fused.pip_knn_assign (same ray-cast
parity, same haversine, same (dist, id) tie-break); the correctness gate
runs both against the same algebraic oracles.

At 10^12 points: the point table is scanned once; the broadcast maps are
O(dimension size); per-point work is O(local candidates). The Python
variant remains for geometry kinds Catalyst can't express (multi-ring
WKB decode stays in the numpy kernel).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

from ..geo import cells as _cells
from ..geo import kernel as _kernel
from ..geo import wkb as _wkb
from ..geo.columns import haversine_col


def cell_expr(lon: Column, lat: Column, res: int) -> Column:
    """Catalyst twin of cells.cell_of_points (same float ops, same pack:
    id = (res << 57) | (ix << 28) | iy)."""
    ncols, nrows = (1 << (res + 1)), (1 << res)
    ix = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(ncols)))
    iy = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(nrows)))
    ix = F.greatest(F.lit(0), F.least(F.lit(ncols - 1), ix)).cast("long")
    iy = F.greatest(F.lit(0), F.least(F.lit(nrows - 1), iy)).cast("long")
    # '+' rather than '|' (PySpark Column | is boolean OR); the three
    # bit fields are disjoint so addition == bitwise-or here
    return (
        F.shiftleft(F.lit(int(res)).cast("long"), 57)
        + F.shiftleft(ix, 28)
        + iy
    )


def _poly_cell_rows(prows: list[tuple], res: int) -> list[tuple]:
    """(cell, polys: [(pid, segs: [(x0,y0,x1,y1)])]) from (pid, wkb)."""
    per_cell: dict[int, list] = {}
    for pid, blob in prows:
        g = _wkb.decode(bytes(blob))
        segs = []
        for i in range(g.nrings):
            r = g.ring(i)
            for j in range(len(r) - 1):
                segs.append((float(r[j, 0]), float(r[j, 1]),
                             float(r[j + 1, 0]), float(r[j + 1, 1])))
        minx, miny, maxx, maxy = g.bbox()
        for c in _cells.cells_of_bbox(minx, miny, maxx, maxy, res):
            per_cell.setdefault(int(c), []).append((pid, segs))
    return [(c, v) for c, v in sorted(per_cell.items())]


def _target_cell_arrays(
    trows: list[tuple],
    res: int,
    pad_cells: int = 4,
    abort_k: int | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, list]:
    """Per-cell exact-nearest candidate lists for the cells within
    ``pad_cells`` of any target (the region where points actually live;
    stragglers outside take the exact full-list fallback). Inclusion
    rule: a target is listed for cell c iff its distance LOWER bound
    from anywhere in c is <= the smallest distance UPPER bound among all
    targets (so the true nearest — including exact ties — is provably in
    the list). List size tracks LOCAL target density at the chosen
    resolution: candidates live within ~one cell diagonal of the nearest
    target, so pick ``res`` such that a cell holds O(1..10) targets.

    Returns (cell_ids[n], ids[n,K] with -1 padding, lon[n,K], lat[n,K]
    NaN-padded, all_targets) with ``all_targets`` the (ids, lon, lat)
    arrays of every target in id order — numpy end to end so the caller
    can hand the broadcast map to Spark as one Arrow table (the per-cell
    Python tuple build used to dominate the whole operator's wall
    time)."""
    ids = np.array([t[0] for t in trows], np.int64)
    tlon = np.array([t[1] for t in trows], np.float64)
    tlat = np.array([t[2] for t in trows], np.float64)
    # mapped cells = union of per-target dilated neighborhoods
    tix, tiy = _cells.xy_of_points(tlon, tlat, res)
    ncols, nrows = (1 << (res + 1)), (1 << res)
    span = np.arange(-pad_cells, pad_cells + 1)
    nx = np.clip(tix[:, None, None] + span[None, :, None], 0, ncols - 1)
    ny = np.clip(tiy[:, None, None] + span[None, None, :], 0, nrows - 1)
    nx, ny = np.broadcast_arrays(nx, ny)  # full (2p+1)^2 neighborhood
    cell_ids = np.unique(_cells.pack(res, nx.ravel(), ny.ravel()))
    _, ix, iy = _cells.unpack(cell_ids)
    d = _cells._deg_per_cell(res)
    cx0 = ix.astype(np.float64) * 360.0 / ncols - 180.0
    cy0 = iy.astype(np.float64) * 180.0 / nrows - 90.0
    rows: list[tuple] = []
    order = np.argsort(ids, kind="stable")
    ids_o = ids[order]
    lon_o, lat_o = tlon[order], tlat[order]
    # everything below works in the id-sorted domain directly (the
    # pre-r5 code computed bounds unsorted and reordered columns with
    # a[:, order] — identical results, but the sorted domain lets the
    # per-chunk window prune return slot positions without a remap)
    T_lon, T_lat = lon_o[None, :], lat_o[None, :]
    abs_tlat = np.abs(lat_o)[None, :]
    tix_o, tiy_o = tix[order], tiy[order]
    # Window prune (r5): the build was O(cells x targets) PER CHUNK over
    # the full target set, which goes quadratic for metro-density
    # dimensions (20k uniform targets -> minutes per resolution). Both
    # sides of the inclusion rule are provably local: every mapped cell
    # is within Chebyshev ``pad_cells`` of its generating target, so
    # d2ub <= 2*((pad+1)*d)^2, hence (a) the d2ub argmin and (b) every
    # candidate (lat gap <= sqrt(d2ub); cos-scaled lon gap <=
    # sqrt(d2ub)) lie within DY = ceil(sqrt(2)*(pad+1))+1 rows and
    # DX = ceil(DY/cos(lat bound))+1 columns of the chunk's cell bbox.
    # Targets outside the y-window are excluded by their lat gap alone,
    # so the cos bound only needs to hold for targets INSIDE it. The
    # prune runs at every target count: its O(nt) mask per chunk is far
    # cheaper than the (chunk x nt) bound arithmetic it saves.
    DY = int(np.ceil(np.sqrt(2.0) * (pad_cells + 1))) + 1
    # preallocated, REUSED chunk buffers with out= everywhere: on this
    # sandbox kernel first-touch page faults cost ~10-25 ms/MB, so fresh
    # (cells x targets) temporaries dominated the whole map build.
    # Buffer size is bounded by ELEMENT COUNT (not row count): 4 x 512k
    # doubles = 16 MB total regardless of target count — a row-count cap
    # alone made the buffers 131 MB at 1000 targets and the first-touch
    # faults alone cost ~2 s
    nt = len(ids)
    CH = max(64, min(4096, max(1, len(cell_ids)), 524288 // max(nt, 1)))
    fx = np.empty((CH, nt))
    fy = np.empty((CH, nt))
    t1 = np.empty((CH, nt))
    t2 = np.empty((CH, nt))
    for s in range(0, len(cell_ids), CH):
        m = min(CH, len(cell_ids) - s)
        x0 = cx0[s : s + m][:, None]
        y0 = cy0[s : s + m][:, None]
        cs = slice(s, s + m)
        lat_bound = min(89.0, float(np.abs(cy0[cs]).max()) + (DY + 1) * d)
        cosb = float(np.cos(np.radians(lat_bound)))
        DX = max(DY, int(np.ceil(DY / max(cosb, 1e-6))) + 1)
        widx = np.nonzero(
            (tiy_o >= int(iy[cs].min()) - DY)
            & (tiy_o <= int(iy[cs].max()) + DY)
            & (tix_o >= int(ix[cs].min()) - DX)
            & (tix_o <= int(ix[cs].max()) + DX)
        )[0]
        w = len(widx)
        if w == 0:  # unreachable: each cell's generator is in-window
            continue
        Tl, Tt, Ta = T_lon[:, widx], T_lat[:, widx], abs_tlat[:, widx]
        a, b, u, v = fx[:m, :w], fy[:m, :w], t1[:m, :w], t2[:m, :w]
        # farthest-edge degree distances; gaps follow as f - d clipped
        # (R*radians is linear: every bound compares in degree^2 space)
        np.subtract(Tl, x0, out=a)
        np.subtract(x0 + d, Tl, out=u)
        np.maximum(a, u, out=a)
        np.subtract(Tt, y0, out=b)
        np.subtract(y0 + d, Tt, out=u)
        np.maximum(b, u, out=b)
        np.multiply(a, a, out=u)
        np.multiply(b, b, out=v)
        u += v
        d2ub = u.min(axis=1, keepdims=True)
        # gaps
        np.subtract(a, d, out=a)
        np.maximum(a, 0.0, out=a)
        np.subtract(b, d, out=b)
        np.maximum(b, 0.0, out=b)
        # lower bound: lat gap exact; lon gap scaled by cos of an upper
        # bound on |lat| over cell+target (|y0|+d dominates the cell's
        # lats; targets past the gap only shrink cos further)
        np.maximum(Ta, np.abs(y0) + d, out=u)
        np.minimum(u, 89.0, out=u)
        np.radians(u, out=u)
        np.cos(u, out=u)
        a *= u
        np.maximum(a, b, out=a)
        np.multiply(a, a, out=a)
        keep_sorted = a <= d2ub
        # ``abort_k``: the auto-res probe only needs to know whether
        # SOME cell's candidate list exceeds k_target — per-cell counts
        # are chunk-exact (chunking is by cells), so bail the moment one
        # does instead of finishing an O(cells x targets) build whose
        # resolution can never be accepted on K. The probe's budget-
        # accept path rebuilds the chosen res in full (built is None).
        if abort_k is not None and int(keep_sorted.sum(axis=1).max()) > abort_k:
            return cell_ids, None, None, None, (ids_o, lon_o, lat_o)
        ck, ti = np.nonzero(keep_sorted)
        # ascending widx keeps slot order id-ascending
        rows.append((ck + s, widx[ti]))
    if rows:
        ck = np.concatenate([r[0] for r in rows])
        ti = np.concatenate([r[1] for r in rows])
    else:
        ck = ti = np.empty(0, np.int64)
    # np.nonzero is row-major: within each cell ti ascends over the
    # id-sorted targets, so slot order is id-ascending (as documented)
    counts = np.bincount(ck, minlength=len(cell_ids))
    starts = np.concatenate(([0], np.cumsum(counts)))
    K = int(counts.max()) if len(counts) else 0
    pos = np.arange(len(ck)) - starts[ck]
    ids_mat = np.full((len(cell_ids), K), -1, np.int64)
    lon_mat = np.full((len(cell_ids), K), np.nan)
    lat_mat = np.full((len(cell_ids), K), np.nan)
    ids_mat[ck, pos] = ids_o[ti]
    lon_mat[ck, pos] = lon_o[ti]
    lat_mat[ck, pos] = lat_o[ti]
    return cell_ids, ids_mat, lon_mat, lat_mat, (ids_o, lon_o, lat_o)


_SEG_COLS = ("x0", "y0", "x1", "y1")


def _local_frame(spark, cols: dict) -> DataFrame:
    """Driver-local frame (a LocalTableScan, no Python worker) from
    ``{name: numpy or Arrow array}``, every top-level column non-nullable
    so the generated code carries no null checks for them."""
    arrs = [c if isinstance(c, pa.Array) else pa.array(c)
            for c in cols.values()]
    return spark.createDataFrame(pa.Table.from_arrays(arrs, schema=pa.schema(
        [pa.field(n, a.type, nullable=False) for n, a in zip(cols, arrs)]
    )))


def _cand_lists(offsets, ids, lon, lat):
    """Arrow list<struct<id, lon, lat>>: the flat candidates split into
    one list per row at ``offsets`` (len = rows + 1)."""
    fields = [pa.field("id", pa.int64(), False),
              pa.field("lon", pa.float64(), False),
              pa.field("lat", pa.float64(), False)]
    vals = pa.StructArray.from_arrays(
        [pa.array(ids, pa.int64()), pa.array(lon, pa.float64()),
         pa.array(lat, pa.float64())], fields=fields,
    )
    return pa.ListArray.from_arrays(
        pa.array(offsets, pa.int32()), vals,
        type=pa.list_(pa.field("element", pa.struct(fields), False)),
    )


def _fallback_frame(spark, all_t) -> DataFrame:
    """One row holding the full target list (``_cands_all``): the exact
    nearest for points outside the mapped region."""
    return _local_frame(
        spark, {"_cands_all": _cand_lists([0, len(all_t[0])], *all_t)}
    )


def _inside(segs: Column, lon: Column, lat: Column) -> Column:
    """Ray-cast parity over a segment array (same strict comparisons as
    kernel.points_in_ring)."""

    def step(acc, s):
        cond = (s["y0"] > lat) != (s["y1"] > lat)
        xint = s["x0"] + (lat - s["y0"]) / (s["y1"] - s["y0"]) * (
            s["x1"] - s["x0"]
        )
        return acc + F.when(cond & (lon < xint), 1).otherwise(0)

    return F.aggregate(segs, F.lit(0), step) % 2 == 1


def _nearest(cands: Column, lon: Column, lat: Column) -> Column:
    """(dist, id)-minimal candidate as struct<d double, id long>.

    array_min over struct<d, id> compares lexicographically — exactly
    the normative (distance, target_id) tie-break — and evaluates ONE
    haversine per candidate (an aggregate() accumulator would evaluate
    it twice: once in the comparison, once in the kept struct)."""
    return F.array_min(
        F.transform(
            cands,
            lambda t: F.struct(
                haversine_col(lon, lat, t["lon"], t["lat"]).alias("d"),
                t["id"].cast("long").alias("id"),
            ),
        )
    )


def _pad_for(res: int) -> int:
    """Dilation around each target, in cells — constant across
    resolutions: the mapped region tracks where the targets (and hence
    the points that match them) actually are, while points farther out
    take the exact full-list fallback. A pad that grew with resolution
    (constant absolute size) made fine-resolution maps explode
    quadratically and capped how far the auto-probe could refine."""
    return 8


def _auto_target_res(
    trows: list[tuple],
    min_res: int = 8,
    max_res: int = 18,
    k_target: int = 16,
    cell_budget: int = 200_000,
) -> tuple[int, int]:
    """Pick the target-grid resolution FROM THE DATA: refine until the
    measured max candidate-list length K is small — K drives both the
    generated-code size (JIT-compilable methods) and the haversines
    evaluated per point — or until the dilated map would blow the
    broadcast budget. The probe builds the (vectorized) map per
    resolution; coarse-resolution builds are tiny. A fixed
    resolution is wrong at scale: target density varies orders of
    magnitude between a rural region and a metro core (same auto-sizing
    requirement as the ANN operator's hyperplane count)."""
    choice, _ = _auto_target_build(
        trows, min_res, max_res, k_target, cell_budget
    )
    return choice, _pad_for(choice)


_AUTO_BUILD_CACHE: dict = {}
_DIM_FRAME_CACHE: dict = {}


def _dim_cache_put(key, value) -> None:
    """Insert with eviction: drop other sessions' entries (stale JVM
    refs) and cap the per-session count (the parity sweep builds many
    distinct dimension sets)."""
    for k in [k for k in _DIM_FRAME_CACHE if k[0] != key[0]]:
        del _DIM_FRAME_CACHE[k]
    while len(_DIM_FRAME_CACHE) >= 8:
        del _DIM_FRAME_CACHE[next(iter(_DIM_FRAME_CACHE))]
    _DIM_FRAME_CACHE[key] = value


def _auto_target_build(
    trows: list[tuple],
    min_res: int = 8,
    max_res: int = 18,
    k_target: int = 16,
    cell_budget: int = 200_000,
) -> tuple[int, tuple]:
    """_auto_target_res that also RETURNS the accepted build, so the
    caller doesn't rebuild the map it just probed. Memoized per target
    set (one small entry; benches/sessions call the operator repeatedly
    on the same dimension table)."""
    key = (hash(tuple(trows)), min_res, max_res, k_target, cell_budget)
    hit = _AUTO_BUILD_CACHE.get(key)
    if hit is not None:
        return hit
    choice, built = min_res, None
    for res in range(min_res, max_res + 1):
        b = _target_cell_arrays(trows, res, _pad_for(res), abort_k=k_target)
        if res > min_res and len(b[0]) > cell_budget:
            break
        # b[1] is None when the probe build aborted on K > k_target —
        # the res stays eligible for the budget-accept fallback, whose
        # full build happens once below
        choice, built = res, (b if b[1] is not None else None)
        if b[1] is not None and b[1].shape[1] <= k_target:
            break
    if built is None:
        built = _target_cell_arrays(trows, choice, _pad_for(choice))
    _AUTO_BUILD_CACHE.clear()  # keep exactly one entry (maps can be MBs)
    _AUTO_BUILD_CACHE[key] = (choice, built)
    return choice, built


def pip_knn_assign_jvm(
    points_df: DataFrame,
    polys_df: DataFrame,
    targets_df: DataFrame,
    *,
    point_keep: list[str],
    lon: str = "lon",
    lat: str = "lat",
    poly_id: str = "relation_id",
    poly_wkb: str = "geom",
    target_id: str = "quay_id",
    target_lon: str = "lon",
    target_lat: str = "lat",
    poly_res: int = 12,
    target_res: int | None = None,
    target_pad_cells: int | None = None,
) -> DataFrame:
    """Fused assignment, JVM-only plan. Output columns:
    point_keep..., <poly_id> (NULL if in no polygon; min id on overlap
    ties), <target_id>, dist_m."""
    spark = points_df.sparkSession
    from ._guard import collect_dim_cols

    prows = collect_dim_cols(polys_df, [poly_id, poly_wkb], "polygons")
    trows = collect_dim_cols(
        targets_df, [target_id, target_lon, target_lat], "targets"
    )
    if target_res is None:
        target_res, auto_pad = _auto_target_res(trows)
        if target_pad_cells is None:
            target_pad_cells = auto_pad
    elif target_pad_cells is None:
        target_pad_cells = _pad_for(target_res)
    pcell = _poly_cell_rows(prows, poly_res)
    seg_t = pa.list_(pa.struct([(c, pa.float64()) for c in _SEG_COLS]))
    pm = _local_frame(spark, {
        "_pc": np.array([c for c, _ in pcell], np.int64),
        "_polys": pa.array(
            [v for _, v in pcell],
            pa.list_(pa.struct([("pid", pa.int64()), ("segs", seg_t)])),
        ),
    })
    cell_ids, ids_mat, lon_mat, lat_mat, all_t = _target_cell_arrays(
        trows, target_res, target_pad_cells
    )
    valid = ids_mat >= 0  # a cell's slots are filled from slot 0 on
    tm = _local_frame(spark, {
        "_tc": cell_ids,
        "_cands": _cand_lists(
            np.concatenate(([0], np.cumsum(valid.sum(axis=1)))),
            ids_mat[valid], lon_mat[valid], lat_mat[valid],
        ),
    })
    fallback = _fallback_frame(spark, all_t)

    LON, LAT = F.col(lon), F.col(lat)
    pts = points_df.select(*point_keep, lon, lat).withColumns(
        {
            "_pc": cell_expr(LON, LAT, poly_res),
            "_tc": cell_expr(LON, LAT, target_res),
        }
    )
    matched = pts.join(F.broadcast(tm), "_tc", "inner").join(
        F.broadcast(pm), "_pc", "left"
    )
    # exact fallback for points whose cell is outside the mapped target
    # region, paid ONLY by those rows: an anti hash join on the mapped
    # cells, then a broadcast cross join attaching the one-row full
    # list (a codegen'd BroadcastNestedLoopJoin, the same plan Spark
    # makes of a constant-key equi join)
    strays = (
        pts.join(F.broadcast(tm.select("_tc")), "_tc", "left_anti")
        .join(F.broadcast(pm), "_pc", "left")
        .crossJoin(F.broadcast(fallback))
        .withColumnRenamed("_cands_all", "_cands")
        .select(*matched.columns)
    )
    hits = F.filter(F.col("_polys"), lambda p: _inside(p["segs"], LON, LAT))
    pid_col = F.array_min(F.transform(hits, lambda p: p["pid"]))
    best = _nearest(F.col("_cands"), LON, LAT)
    pid_type = polys_df.select(poly_id).schema[0].dataType.simpleString()
    tid_type = targets_df.select(target_id).schema[0].dataType.simpleString()
    # two-step select: '_best' is extracted in a SEPARATE projection so
    # CollapseProject keeps one evaluation (HOFs get no codegen subexpr
    # elimination — inlining would run the whole transform per field)
    return (
        matched.unionByName(strays)
        .select(
            *point_keep,
            pid_col.cast(pid_type).alias(poly_id),
            best.alias("_best"),
        )
        .select(
            *point_keep,
            poly_id,
            F.col("_best.id").cast(tid_type).alias(target_id),
            F.col("_best.d").alias("dist_m"),
        )
    )


# ------------------------------------------------- unrolled codegen variant


def _cell_polys(cells: np.ndarray, pcell: list[tuple]) -> list[tuple]:
    """(row, polys) for the rows of the sorted ``cells`` that
    ``pcell`` (from _poly_cell_rows at the same res) lists polygons for."""
    if not pcell or not len(cells):
        return []
    pc = np.array([c for c, _ in pcell], np.int64)
    row = np.minimum(np.searchsorted(cells, pc), len(cells) - 1)
    return [(int(i), v) for i, ok, (_, v) in zip(row, cells[row] == pc, pcell)
            if ok]


def _poly_slot_cols(n: int, hits: list[tuple], P: int, S: int) -> dict:
    """P polygon slots of S segments per row (``_p{p}_id``,
    ``_p{p}s{s}_{x0,y0,x1,y1}``). Empty slots and padding segments are
    (0, 0, 0, 0): y0 == y1, so they never cross a ray and a slot
    without a polygon has even parity — no null slots to guard."""
    pid = np.zeros((n, P), np.int64)
    seg = np.zeros((n, P, S, 4))
    for i, v in hits:
        for p, (q, segs) in enumerate(v):
            pid[i, p] = q
            seg[i, p, : len(segs)] = segs
    cols: dict = {}
    for p in range(P):
        cols[f"_p{p}_id"] = pid[:, p]
        for s in range(S):
            for j, c in enumerate(_SEG_COLS):
                cols[f"_p{p}s{s}_{c}"] = seg[:, p, s, j]
    return cols


def _target_slot_cols(ids_mat, lon_mat, lat_mat, K: int) -> dict:
    """K (id, lon, lat) target slots per row. Every mapped cell lists at
    least one target, so empty slots (and the slots past the built width,
    up to the K floor) repeat slot 0: a repeated candidate cannot change
    the (dist, id) minimum, and no slot is null."""
    w = ids_mat.shape[1]
    if w == 0:  # no targets, hence no mapped cells
        return {f"_t{k}_{c}": np.zeros(0, t) for k in range(K)
                for c, t in (("id", np.int64), ("lon", float), ("lat", float))}
    slot = np.where(np.arange(K) < w, np.arange(K), 0)
    src = np.where(ids_mat[:, slot] >= 0, slot, 0)
    ids, lo, la = (np.take_along_axis(m, src, axis=1)
                   for m in (ids_mat, lon_mat, lat_mat))
    cols: dict = {}
    for k in range(K):
        cols.update({f"_t{k}_id": ids[:, k], f"_t{k}_lon": lo[:, k],
                     f"_t{k}_lat": la[:, k]})
    return cols


def _pid_sql(P: int, S: int, lonq: str, latq: str) -> str:
    """Unrolled ray-cast parity per polygon slot; LEAST over the matching
    slots' ids == array_min of the filtered pids (NULL if none)."""
    hits = []
    for p in range(P):
        terms = []
        for s in range(S):
            x0, y0, x1, y1 = (f"_p{p}s{s}_{c}" for c in _SEG_COLS)
            terms.append(
                f"CASE WHEN (({y0} > {latq}) != ({y1} > {latq})) AND "
                f"({lonq} < {x0} + ({latq} - {y0}) / ({y1} - {y0})"
                f" * ({x1} - {x0})) THEN 1 ELSE 0 END"
            )
        hits.append(
            f"CASE WHEN (({' + '.join(terms)}) % 2 = 1) THEN _p{p}_id END"
        )
    return hits[0] if P == 1 else "LEAST(" + ", ".join(hits) + ")"


def pip_knn_assign_codegen(
    points_df: DataFrame,
    polys_df: DataFrame,
    targets_df: DataFrame,
    *,
    point_keep: list[str],
    lon: str = "lon",
    lat: str = "lat",
    poly_id: str = "relation_id",
    poly_wkb: str = "geom",
    target_id: str = "quay_id",
    target_lon: str = "lon",
    target_lat: str = "lat",
    poly_res: int = 12,
    target_res: int | None = None,
    target_pad_cells: int | None = None,
    max_slots: int = 24,
    max_segs: int = 16,
    assume_covered: bool = False,
    report: dict | None = None,
) -> DataFrame:
    """Fused PIP + kNN with the candidate lists UNROLLED into fixed
    scalar columns so the whole per-point evaluation stays inside
    WholeStageCodegen.

    ``report``, when passed, is filled with the resolved plan-shaping
    config ({target_res, target_pad_cells, K, P, S}) — the knobs that
    set generated-method size and therefore which side of the JIT
    cliff the plan lands on (r3 verdict: the warm bench number is not
    attributable without them). P counts polygon slots of the fused
    map, i.e. at ``target_res``.

    Higher-order functions (the pip_knn_assign_jvm variant) run on the
    interpreted expression path — measured here: ~65k rows/s/core and
    ~0.3 thread-scaling efficiency (allocation-bound megamorphic eval).
    A plain-JVM compute loop on the same box scales 8->32 threads at
    0.88; unrolling the bounded per-cell candidates into scalar columns
    puts the flagship on that path.

    Plan: every point inside the mapped target region takes ONE inner
    broadcast hash join on its ``target_res`` cell against a single
    driver-local map whose row carries both the cell's K target slots
    and its P polygon slots (S segments each), every column
    non-nullable. The nearest target is taken on scalars: the K
    haversines ``_d{k}`` in one projection, ``dist_m = LEAST(_d*)``,
    then ``id = LEAST(CASE WHEN _dk = dist_m THEN _tk_id END)`` — the
    exact (dist, id) tie-break without a struct per slot. Each of the
    three projections reads the previous one's columns more than once,
    so CollapseProject keeps them apart and no haversine is evaluated
    twice. The stop area is an unrolled ray-cast parity CASE sum. Points
    outside the mapped region (strays) take a polygon map keyed at
    ``poly_res`` and the exact full-list HOF minimum.

    Boundedness is a DESIGN property, not a bench hack: per-cell
    candidate counts are bounded by local target density at the chosen
    resolution, and polygon segment counts are bounded by ST_Subdivide
    (geo/kernel.py:278) upstream — the same bound the reference's width
    pipeline relies on (stop_places.sql:984-996). Datasets exceeding
    (max_slots, max_segs) should use pip_knn_assign_jvm / the Python
    kernels instead; this function raises so the caller chooses."""
    spark = points_df.sparkSession
    from ._guard import collect_dim_cols

    prows = collect_dim_cols(polys_df, [poly_id, poly_wkb], "polygons")
    trows = collect_dim_cols(
        targets_df, [target_id, target_lon, target_lat], "targets"
    )
    if target_res is None:
        target_res, built = _auto_target_build(trows)
        if target_pad_cells is None:
            target_pad_cells = _pad_for(target_res)
        else:
            built = _target_cell_arrays(trows, target_res, target_pad_cells)
    else:
        if target_pad_cells is None:
            target_pad_cells = _pad_for(target_res)
        built = _target_cell_arrays(trows, target_res, target_pad_cells)

    tc_ids, tc_id_mat, tc_lon_mat, tc_lat_mat, all_t = built
    K = max(2, tc_id_mat.shape[1])
    t_hits = _cell_polys(tc_ids, _poly_cell_rows(prows, target_res))
    P = max((len(v) for _, v in t_hits), default=1)
    pcell = [] if assume_covered else _poly_cell_rows(prows, poly_res)
    P_s = max((len(v) for _, v in pcell), default=1)
    S = max((len(segs) for _, v in t_hits + pcell for _, segs in v), default=1)
    if max(P, P_s) > max_slots or S > max_segs or K > 4 * max_slots:
        raise ValueError(
            f"candidate bounds exceeded (P={max(P, P_s)}, S={S}, K={K}) — "
            "subdivide polygons / refine target_res, or use "
            "pip_knn_assign_jvm"
        )
    if report is not None:
        report.update(
            target_res=target_res,
            target_pad_cells=target_pad_cells,
            K=K,
            P=P,
            S=S,
        )

    # the fused map: one row per mapped target cell, K target slots and
    # P polygon slots, built once per call as one Arrow table. The frame
    # is memoized per (app, collected dim content, shape) — the dims are
    # still collected and fingerprinted on EVERY call (no cross-run
    # result reuse), only the driver-side construction is skipped when
    # the collected content is unchanged (same pattern as
    # _AUTO_BUILD_CACHE above).
    app = spark.sparkContext.applicationId
    p_hash = hash(tuple((r[0], bytes(r[1])) for r in prows))
    t_hash = hash(tuple(trows))
    fm_key = (app, "map", p_hash, t_hash, target_res, target_pad_cells,
              K, P, S)
    fm = _DIM_FRAME_CACHE.get(fm_key)
    if fm is None:
        fm = _local_frame(spark, {
            "_tc": tc_ids.astype(np.int64),
            **_target_slot_cols(tc_id_mat, tc_lon_mat, tc_lat_mat, K),
            **_poly_slot_cols(len(tc_ids), t_hits, P, S),
        })
        _dim_cache_put(fm_key, fm)

    LON, LAT = F.col(lon), F.col(lat)
    LONQ, LATQ = f"`{lon}`", f"`{lat}`"
    pts = points_df.select(*point_keep, lon, lat).withColumn(
        "_tc", cell_expr(LON, LAT, target_res)
    )
    matched = pts.join(F.broadcast(fm), "_tc", "inner")

    pid_type = polys_df.select(poly_id).schema[0].dataType.simpleString()
    tid_type = targets_df.select(target_id).schema[0].dataType.simpleString()

    # Expressions are built as ONE SQL string each and handed to
    # selectExpr / F.expr: the Column-API construction of these wide
    # unrolled trees cost a py4j round trip per node (~1.3 s per call at
    # K=16/S=8 — more than the query's own execution). The parsed trees
    # are node-identical to the Column forms (same functions, same
    # literal types), so plans, codegen and results are unchanged.
    from ..geo.columns import haversine_sql

    keep_q = [f"`{c}`" for c in point_keep]
    ids = [f"_t{k}_id" for k in range(K)]
    ds = [f"_d{k}" for k in range(K)]
    nearest_id = ", ".join(
        f"CASE WHEN _d{k} = dist_m THEN _t{k}_id END" for k in range(K)
    )
    pid_sql = _pid_sql(P, S, LONQ, LATQ)
    out_m = (
        matched.selectExpr(
            *keep_q,
            f"CAST(({pid_sql}) AS {pid_type}) AS `{poly_id}`",
            *ids,
            *(f"{haversine_sql(LONQ, LATQ, f'_t{k}_lon', f'_t{k}_lat')}"
              f" AS _d{k}" for k in range(K)),
        )
        .selectExpr(
            *keep_q, f"`{poly_id}`", *ids, *ds,
            f"LEAST({', '.join(ds)}) AS dist_m",
        )
        .selectExpr(
            *keep_q, f"`{poly_id}`",
            f"CAST(LEAST({nearest_id}) AS {tid_type}) AS `{target_id}`",
            "dist_m",
        )
    )
    if assume_covered:
        # caller guarantees every point's cell is within the mapped
        # region (e.g. generated inside the target bbox): skip the strays
        # branch, whose anti-join otherwise re-scans the full input —
        # points outside the region would be DROPPED under this contract
        return out_m

    # strays: the rare points outside the mapped region take a polygon
    # map keyed at poly_res and the ARRAY full list + HOF minimum (exact;
    # interpreted is fine on a ~0-row branch — unrolling it would force
    # K = n_targets columns on every row). An anti hash join on the
    # mapped cells, a left hash join on the polygon cells, then a
    # broadcast cross join with the one-row list (a codegen'd
    # BroadcastNestedLoopJoin).
    sm_key = (app, "strays", p_hash, t_hash, poly_res, P_s, S)
    hit = _DIM_FRAME_CACHE.get(sm_key)
    if hit is None:
        cells = np.array([c for c, _ in pcell], np.int64)
        hit = (
            _local_frame(spark, {
                "_pc": cells,
                **_poly_slot_cols(
                    len(cells), list(enumerate(v for _, v in pcell)), P_s, S
                ),
            }),
            _fallback_frame(spark, all_t),
        )
        _dim_cache_put(sm_key, hit)
    spm, fallback = hit
    strays = (
        pts.join(F.broadcast(fm.select("_tc")), "_tc", "left_anti")
        .withColumn("_pc", cell_expr(LON, LAT, poly_res))
        .join(F.broadcast(spm), "_pc", "left")
        .crossJoin(F.broadcast(fallback))
    )
    best_s = _nearest(F.col("_cands_all"), LON, LAT)
    out_s = strays.select(
        *point_keep,
        F.expr(_pid_sql(P_s, S, LONQ, LATQ)).cast(pid_type).alias(poly_id),
        best_s["id"].cast(tid_type).alias(target_id),
        best_s["d"].alias("dist_m"),
    )
    return out_m.unionByName(out_s)
