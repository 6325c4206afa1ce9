"""Resampling / compositing onto target grids — the physical operators.

Reference semantics transcribed (copy the code, not the docstring —
SURVEY §1.3(5)):

- ``Raster.merge`` (raster.py:773-822): float inputs composite as the
  MEAN of overlapping valid pixels (sum+count accumulators,
  :804-814). Relational form: nearest-sample every input at each
  target cell center, then ``sum(v)/count(v)``.
- ``mosaic()`` (mosaic.py:13-75): FIRST-non-NaN wins in input order
  (``where(isnan(mosaic), img, mosaic)`` fills only still-empty cells,
  mosaic.py:64) — despite its own docstring claiming later-takes-
  precedence. Relational form: ``min_by(value, seq)`` over valid rows.
- ``Raster.to_grid`` (raster.py:1325-1428): grid→grid warp; kernels
  nearest / bilinear (pinned by pytest goldens) / average
  (area-mean of source pixels per target cell).

Spark shape (SURVEY §3 EP2): every (tile, target cell) candidate and
its nearest source pixel come from ONE numpy kernel,
``_tile_candidates``, run per decode group on ``tiles.map_groups``
(each tile decodes once; no KD-tree, no pixel explode): nearest
(to_grid_nearest), the merge/mosaic/max composites and the conv taps
all take their candidates from it, and only skinny candidate rows leave
the map — composites are plain hash aggregations with map-side
combine. The candidate mapping (image_id, trow, tcol, prow, pcol) IS
the reference's reusable KDTree index (kdtree.py:182-202) —
``build_resample_index`` writes it once with TableIO and
``resample_with_index`` joins it back for repeated resampling, with
JVM point reads (``sample.sample_nearest``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_spark import grid
from rasters_spark.operators.sample import sample_nearest
from rasters_spark.tiles import map_groups


#: the georeferencing columns the whole-tile numpy kernels read
_ORIGIN = ("x_origin", "y_origin", "cell_width", "cell_height")


def _tile_candidates(h: int, w: int, x0, y0, cw, ch, target: dict):
    """Every (tile, target cell) pair and its nearest source pixel for
    one decode group of ``h``×``w`` tiles with origins ``x0``/``y0`` and
    cells ``cw``/``ch`` — the reference's KDTree index
    (kdtree.py:182-202) in numpy. The expression order is that of the
    DuckDB oracle ``__spark_entry__._resample_cte`` — bbox ``x0 + cw·w``
    / ``y0 + ch·h``; window ``rint((v − t0)/tc − 0.5)`` (+1 at the end),
    the ``oob`` test, then the clamps; centres ``t0 + tc·(i + 0.5)``;
    source position ``f = (t − x0)/cw − 0.5`` with ``rint(f)`` in
    bounds — so the candidate set is bit-identical to it.

    Returns ``(k, trow, tcol, prow, pcol, fr, fc)``: candidate ``n`` is
    the group's tile ``k[n]`` × target cell ``(trow[n], tcol[n])`` at
    fractional source position ``(fr[n], fc[n])``, nearest pixel
    ``(prow[n], pcol[n])``. A group's windows differ in size (±1, or
    clamped at the grid edge), so they are padded to the largest one
    and masked."""
    x0, y0, cw, ch = (np.asarray(v, np.float64) for v in (x0, y0, cw, ch))
    tx0, ty0 = float(target["x_origin"]), float(target["y_origin"])
    tcw, tch = float(target["cell_width"]), float(target["cell_height"])
    rows, cols = int(target["rows"]), int(target["cols"])

    def index(v, t0, tc):
        return np.rint((v - t0) / tc - 0.5).astype(np.int64)

    rs, cs = index(y0, ty0, tch), index(x0, tx0, tcw)
    rend = index(y0 + ch * float(h), ty0, tch) + 1
    cend = index(x0 + cw * float(w), tx0, tcw) + 1
    oob = (rend < 0) | (cend < 0) | (rs > rows) | (cs > cols)
    rs, cs = np.maximum(rs, 0), np.maximum(cs, 0)
    nr = np.where(oob, 0, np.minimum(rend, rows) - rs)
    nc = np.where(oob, 0, np.minimum(cend, cols) - cs)
    k, a, b = np.nonzero((np.arange(nr.max()) < nr[:, None])[:, :, None]
                         & (np.arange(nc.max()) < nc[:, None])[:, None, :])
    trow, tcol = rs[k] + a, cs[k] + b
    fr = (ty0 + tch * (trow + 0.5) - y0[k]) / ch[k] - 0.5
    fc = (tx0 + tcw * (tcol + 0.5) - x0[k]) / cw[k] - 0.5
    prow, pcol = np.rint(fr).astype(np.int64), np.rint(fc).astype(np.int64)
    ok = (prow >= 0) & (prow < h) & (pcol >= 0) & (pcol < w)
    return k[ok], trow[ok], tcol[ok], prow[ok], pcol[ok], fr[ok], fc[ok]


def _map_candidates(tiles: DataFrame, target: dict, value_fn) -> DataFrame:
    """(image_id, trow, tcol, value) per ``_tile_candidates`` candidate,
    a group kernel on ``tiles.map_groups``: ``value_fn(pixels, k, prow,
    pcol, fr, fc)`` gives every candidate's value, NaN coming out NULL.
    Blobs enter Python once per tile; only skinny candidate rows come
    out, so nothing fans a blob out and the map is a codegen boundary
    for any aggregate above it."""
    def kernel(pos, pix, h, w, *origin):
        k, trow, tcol, *at = _tile_candidates(h, w, *origin, target)
        return pos[k], trow, tcol, value_fn(pix, k, *at)

    return map_groups(tiles, kernel, "image_id string, trow long, tcol long, value double",
                      meta=_ORIGIN)


def _valid_nearest(tiles: DataFrame, target: dict,
                   keep: tuple[str, ...] = ("image_id",)) -> DataFrame:
    """(``keep``…, trow, tcol, value): the nearest pixel of every
    candidate that is not nodata — the composites' observations. The
    nodata candidates are dropped in the kernel, never shipped."""
    def kernel(pos, pix, h, w, *origin):
        k, trow, tcol, prow, pcol, _, _ = _tile_candidates(h, w, *origin, target)
        v = pix[k, prow, pcol].astype(np.float64)
        ok = ~np.isnan(v)
        return pos[k[ok]], trow[ok], tcol[ok], v[ok]

    keep = tuple(dict.fromkeys(keep))
    schema = ", ".join([f"{c} {tiles.schema[c].dataType.simpleString()}" for c in keep]
                       + ["trow long", "tcol long", "value double"])
    return map_groups(tiles, kernel, schema, keep, _ORIGIN)


def merge_mean(tiles: DataFrame, target: dict) -> DataFrame:
    """Raster.merge float path: mean of valid overlaps per target cell
    → (trow, tcol, value, n)."""
    return _valid_nearest(tiles, target).groupBy("trow", "tcol").agg(
        (F.sum("value") / F.count("value")).alias("value"),
        F.count("value").alias("n"),
    )


def mosaic_first(tiles: DataFrame, target: dict, order_col: str = "image_id") -> DataFrame:
    """mosaic(): first-non-NaN in input order per target cell
    → (trow, tcol, value)."""
    v = _valid_nearest(tiles, target, keep=("image_id", order_col))
    return v.groupBy("trow", "tcol").agg(F.min_by("value", order_col).alias("value"))


def composite_max(tiles: DataFrame, target: dict, epoch_expr=None,
                  fmts: tuple[str, ...] | None = None) -> DataFrame:
    """Greatest-value temporal compositing (max-NDVI-composite shape —
    EXTENSION beyond the reference; the reference stops at merge=mean
    raster.py:2014 and mosaic=first raster.py:2064): per target cell,
    the MAX valid observation across a time-stacked layer set, the
    epoch that attained it (ties → EARLIEST epoch), and the
    valid-observation count → (trow, tcol, value, epoch, n_obs).

    ``epoch_expr``: a Column over the candidate rows (which carry
    ``image_id``) giving each observation's epoch; defaults to the
    fixture convention ``tile_index % 3``. ``fmts`` is accepted for
    call compatibility and ignored: the whole-tile decode handles
    every format.

    Scale shape: skinny candidate rows (never blobs) from the
    per-tile numpy kernel into ONE hash aggregate with map-side
    partials. The arg-max is fused into the same aggregate via a struct
    max ordered (value, −epoch): lexicographic max picks the largest
    value, then the largest −epoch = the smallest epoch — no second
    pass, no window, no join-back. Max of quarter-integer fixture
    pixels is exact, so the DuckDB twin (two-level max + join-back
    min(epoch)) agrees bit-for-bit."""
    if epoch_expr is None:
        epoch_expr = F.expr("cast(substring(image_id, 4, 12) as bigint) % 3")
    v = _valid_nearest(tiles, target).withColumn("epoch", epoch_expr)
    out = v.groupBy("trow", "tcol").agg(
        F.max(F.struct(F.col("value").alias("v"),
                       (-F.col("epoch")).alias("ne"))).alias("b"),
        F.count("value").alias("n_obs"))
    return out.select(
        "trow", "tcol", F.col("b.v").alias("value"),
        (-F.col("b.ne")).alias("epoch"), "n_obs")


def to_grid_nearest(tiles: DataFrame, target: dict) -> DataFrame:
    """Per-tile grid→grid nearest warp in sparse long form
    (image_id, trow, tcol, value) — the reference's per-raster
    to_grid(resampling='nearest'), one output row per target cell
    (nodata → NULL)."""
    return _map_candidates(tiles, target, lambda pix, k, prow, pcol, fr, fc: pix[k, prow, pcol])


# --- separable convolution kernels (to_grid linear/cubic/cubic_spline) --------
#
# The reference's to_grid delegates these to rasterio.warp.reproject with
# GDAL Resampling enums (raster.py:1325-1428, constants.py:13-28). Here
# each kernel is a SEPARABLE tap stencil around the fractional source
# position of the target-cell center: taps are read from the tile's
# one numpy decode (``_tile_candidates``) and blended by evaluating the
# SAME expression text the DuckDB oracle runs — it is valid Python
# arithmetic, so both engines run an identical IEEE op sequence. Edge
# taps are clamped to the tile (our documented edge convention); any
# NaN contributing tap → NULL output (NaN propagation, as rasterio does
# with NaN nodata).

def _lbl(i: int) -> str:
    return f"m{-i}" if i < 0 else str(i)


def bilinear_weights_sql(d: str) -> dict[int, str]:
    """2-tap linear weights: w0 = 1-d at tap 0, w1 = d at tap 1."""
    return {0: f"(1.0 - {d})", 1: f"({d})"}


def cubic_weights_sql(d: str) -> dict[int, str]:
    """Keys bicubic convolution, a = -0.5 (GDAL/rasterio 'cubic';
    R. Keys 1981, public formula), taps -1..2, Horner form —
    the SAME text is evaluated by Spark SQL and DuckDB."""
    return {
        -1: f"(((-0.5 * (1.0 + {d}) + 2.5) * (1.0 + {d}) - 4.0) * (1.0 + {d}) + 2.0)",
        0: f"((1.5 * {d} - 2.5) * ({d} * {d}) + 1.0)",
        1: f"((1.5 * (1.0 - {d}) - 2.5) * ((1.0 - {d}) * (1.0 - {d})) + 1.0)",
        2: f"(((-0.5 * (2.0 - {d}) + 2.5) * (2.0 - {d}) - 4.0) * (2.0 - {d}) + 2.0)",
    }


def bspline_weights_sql(d: str) -> dict[int, str]:
    """Cubic B-spline (GDAL 'cubicspline' — smoothing, not
    interpolating), taps -1..2. Decimal literals parse to the same
    double in both engines."""
    return {
        -1: f"(((1.0 - {d}) * (1.0 - {d}) * (1.0 - {d})) * 0.16666666666666666)",
        0: f"((0.5 * {d} - 1.0) * ({d} * {d}) + 0.6666666666666666)",
        1: f"((0.5 * (1.0 - {d}) - 1.0) * ((1.0 - {d}) * (1.0 - {d})) + 0.6666666666666666)",
        2: f"(({d} * {d} * {d}) * 0.16666666666666666)",
    }


CONV_KERNELS = {
    "linear": (bilinear_weights_sql, (0, 1)),
    "cubic": (cubic_weights_sql, (-1, 0, 1, 2)),
    "cubic_spline": (bspline_weights_sql, (-1, 0, 1, 2)),
}


def conv_blend_sql(weights_fn, taps) -> str:
    """Σ_i wr_i(dr) · (Σ_j wc_j(dc) · v_<i>_<j>) — one expression string
    shared verbatim by the Spark plan and the DuckDB oracle (left-assoc
    sums in both engines → identical IEEE evaluation order)."""
    wr, wc = weights_fn("dr"), weights_fn("dc")
    rows = []
    for i in taps:
        cols = " + ".join(f"{wc[j]} * v_{_lbl(i)}_{_lbl(j)}" for j in taps)
        rows.append(f"{wr[i]} * ({cols})")
    return " + ".join(rows)


def to_grid_conv(tiles: DataFrame, target: dict, resampling: str = "linear") -> DataFrame:
    """to_grid with a separable convolution kernel ('linear', 'cubic',
    'cubic_spline') in sparse long form (image_id, trow, tcol, value).

    One mapInArrow pass: each tile decodes once, its candidates come
    from ``_tile_candidates``, taps are the clamped indices
    ``floor(f) + i`` and the blend is ``conv_blend_sql``'s text compiled
    once and evaluated over numpy arrays. NaN taps → NULL output."""
    weights_fn, taps = CONV_KERNELS[resampling]
    blend = compile(conv_blend_sql(weights_fn, taps), "conv_blend_sql", "eval")

    def conv(pix, k, prow, pcol, fr, fc):
        _, h, w = pix.shape
        r0, c0 = np.floor(fr), np.floor(fc)
        env = {"dr": fr - r0, "dc": fc - c0}
        rr = {i: np.clip(r0.astype(np.int64) + i, 0, h - 1) for i in taps}
        cc = {j: np.clip(c0.astype(np.int64) + j, 0, w - 1) for j in taps}
        for i in taps:
            for j in taps:
                env[f"v_{_lbl(i)}_{_lbl(j)}"] = pix[k, rr[i], cc[j]].astype(np.float64)
        return eval(blend, {"__builtins__": {}}, env)

    return _map_candidates(tiles, target, conv)


def to_grid_bilinear(tiles: DataFrame, target: dict) -> DataFrame:
    """to_grid(resampling='linear') — bilinear warp per target cell
    (the 2×2-tap ``to_grid_conv``)."""
    return to_grid_conv(tiles, target, "linear")


# --- aggregation kernels (to_grid max/min/med/mode/q1/q3) ----------------------

def _key_segments(key: np.ndarray):
    """Stable grouping by segment key → ``(order, starts, counts)``:
    ``key[order]`` ascends, every segment keeps its elements in input
    (C scan) order, and segment ``i`` is ``order[starts[i]:][:counts[i]]``.
    A stable int64 argsort is a timsort, which rides the key runs of
    the scan order; the one grouping of both cell-binning reducers."""
    order = np.argsort(key, kind="stable")
    k = key[order]
    starts = np.flatnonzero(np.r_[len(k) > 0, k[1:] != k[:-1]])
    return order, starts, np.diff(np.r_[starts, len(k)])


def _length_classes(counts: np.ndarray):
    """Segments by power-of-two length: yields ``(sel, width)`` — the
    indices of the segments with ``width/2 < count <= width`` — for
    every width ≥ 2 (single-pixel segments need no sort). A class
    padded to its width holds < 2× its pixels."""
    exps = np.frexp(counts - 1)[1]  # bit length of count-1: width = 2**exps
    for e in np.unique(exps[exps > 0]):
        yield np.flatnonzero(exps == e), 1 << int(e)


def _sorted_segments(key: np.ndarray, val: np.ndarray):
    """``(k, v, starts, counts)`` with ``k, v`` exactly
    ``key[o], val[o]`` for ``o = np.lexsort((val, key))``, at segment
    cost instead of one global sort: group by key (``_key_segments``),
    then sort each length class's segments as the rows of one
    ``[segments, width]`` block padded with NaN (numpy sorts NaN after
    every value, +inf included). Both sorts are stable, so ties — and
    −0.0/+0.0, which compare equal — keep scan order, as lexsort does."""
    order, starts, counts = _key_segments(key)
    k, v = key[order], val[order]
    for sel, width in _length_classes(counts):
        cols = np.arange(width)
        idx = starts[sel, None] + cols
        real = cols < counts[sel, None]
        block = np.where(real, v[np.minimum(idx, len(v) - 1)], np.nan)
        block.sort(axis=1, kind="stable")
        v[idx[real]] = block[real]
    return k, v, starts, counts


def _segment_stat(key: np.ndarray, val: np.ndarray, stat: str):
    """Vectorized per-segment statistic over (key, value) pairs.
    Returns (segment_keys, stat_value, counts). The pairs are taken in
    ``np.lexsort((val, key))`` order from ``_sorted_segments``, which
    sorts each segment's values on their own: a decode group holds
    millions of pixels but a target cell tens to hundreds, and a sort
    across cells would be thrown away. Quantiles use linear
    interpolation lo + frac·(hi−lo) (≡ DuckDB quantile_cont / numpy
    'linear' — exact on the quarter-integer fixture values); mode
    tie-breaks to the SMALLEST value (documented engine convention;
    GDAL's tie order is unspecified)."""
    k, v, starts, counts = _sorted_segments(key, val)
    keys = k[starts]
    if stat == "min":
        out = v[starts]
    elif stat == "sum":
        # exact for the quarter-integer fixture pixels in any order
        out = np.add.reduceat(v, starts)
    elif stat == "max":
        out = v[starts + counts - 1]
    elif stat in ("med", "q1", "q3"):
        q = {"med": 0.5, "q1": 0.25, "q3": 0.75}[stat]
        pos = starts + (counts - 1) * q
        lo = np.floor(pos).astype(np.int64)
        hi = np.ceil(pos).astype(np.int64)
        frac = pos - lo
        # DuckDB quantile_cont's exact interpolation expression
        # (lo·(1−f) + hi·f); for the exact quarter-fraction positions of
        # the med/q1/q3 kernels every formula agrees, but stay uniform
        out = v[lo] * (1.0 - frac) + v[hi] * frac
    elif stat == "mode":
        rstarts = np.flatnonzero(np.r_[True, (k[1:] != k[:-1]) | (v[1:] != v[:-1])])
        rcounts = np.diff(np.r_[rstarts, len(k)])
        seg_first = np.searchsorted(rstarts, starts)  # every segment start IS a run start
        maxc = np.maximum.reduceat(rcounts, seg_first)
        rseg = np.searchsorted(starts, rstarts, side="right") - 1
        ridx = np.where(rcounts == maxc[rseg], np.arange(len(rcounts)), len(rcounts))
        first_run = np.minimum.reduceat(ridx, seg_first)
        out = v[rstarts[first_run]]
    else:
        raise ValueError(f"unknown segment stat: {stat}")
    return keys, out, counts


def _cell_values(pos, pix, x0, y0, cw, ch, target: dict):
    """Vectorized source-pixel → target-cell routing for one decode
    group (round-6: the former per-tile Python loop — meshgrid +
    index_point + masks per 16-64px tile — was ~60% of to_grid_med's
    wall at 20k tiles; fixture shapes cycle through 9 (w,h) combos, so
    batching by shape vectorizes ~all of it away).

    Returns ``(gkey, vals)``: ``gkey`` is the GLOBAL int64 segment key
    ``row·(rows·cols) + trow·cols + tcol`` (``row`` the batch row from
    ``pos``) and ``vals`` the finite, in-bounds pixel values (float64)
    in C scan order per tile — the same per-segment element ORDER as
    the per-tile loop, so every downstream reduction stays
    bit-identical."""
    _, h, w = pix.shape
    t_x0, t_y0 = float(target["x_origin"]), float(target["y_origin"])
    t_cw, t_ch = float(target["cell_width"]), float(target["cell_height"])
    t_rows, t_cols = int(target["rows"]), int(target["cols"])
    x0s, y0s, cws, chs = (np.asarray(v, np.float64)[:, None] for v in (x0, y0, cw, ch))
    # per-tile pixel-center coords -> target indices (banker's round,
    # the exact npref.index_point expression order)
    px = x0s + cws * (np.arange(w) + 0.5)                                # (m, w)
    py = y0s + chs * (np.arange(h) + 0.5)                                # (m, h)
    tcol = np.round((px - t_x0) / t_cw - 0.5).astype(np.int64)
    trow = np.round((py - t_y0) / t_ch - 0.5).astype(np.int64)
    rok = (trow >= 0) & (trow < t_rows)                                   # (m, h)
    cok = (tcol >= 0) & (tcol < t_cols)                                   # (m, w)
    Vm = pix.astype(np.float64, copy=False)
    flat = (np.isfinite(Vm) & rok[:, :, None] & cok[:, None, :]).ravel()
    gkey = (pos.astype(np.int64)[:, None, None] * (t_rows * t_cols)
            + trow[:, :, None] * t_cols + tcol[:, None, :])
    return gkey.ravel()[flat], Vm.ravel()[flat]


def _map_cell_values(tiles: DataFrame, target: dict, reduce_fn, schema: str) -> DataFrame:
    """The source-pixel binning kernels, a group kernel on
    ``tiles.map_groups``: every ``_cell_values`` group goes through
    ``reduce_fn(gkey, vals) -> (keys, *columns)`` (one output row per
    distinct key) and comes out as ``(image_id, trow, tcol, *columns)``
    against ``schema``. The whole group lives inside one tile's decode —
    NO shuffle at all."""
    span, tcols = int(target["rows"]) * int(target["cols"]), int(target["cols"])

    def kernel(pos, pix, h, w, *origin):
        gkey, vals = _cell_values(pos, pix, *origin, target)
        if not len(vals):
            return (gkey,)
        # ONE sort/reduction per decode group: global keys embed the
        # tile row, so per-segment ordering — and therefore every
        # reduction — is identical to per-tile calls
        keys, *cols = reduce_fn(gkey, vals)
        cell = keys % span
        return keys // span, cell // tcols, cell % tcols, *cols

    return map_groups(tiles, kernel, schema, ("image_id",), _ORIGIN)


def to_grid_stat(tiles: DataFrame, target: dict, stat: str) -> DataFrame:
    """to_grid(resampling ∈ max/min/med/mode/q1/q3) — GDAL's
    aggregation-family kernels (constants.py:13-28): every SOURCE pixel
    is assigned to the target cell containing its center, then the
    named statistic is taken per (tile, target cell). Same one-Arrow-
    pass-per-tile shape as ``to_grid_average`` (the whole group lives
    inside one tile's decode — NO shuffle at all), different reducer.
    → (image_id, trow, tcol, value, n)."""
    if stat not in ("max", "min", "med", "mode", "q1", "q3", "sum"):
        raise ValueError(f"unknown to_grid stat: {stat}")
    return _map_cell_values(
        tiles, target, lambda gkey, vals: _segment_stat(gkey, vals, stat),
        "image_id string, trow long, tcol long, value double, n long")


# --- windowed-sinc / gaussian kernels (to_grid lanczos/gauss) -------------------

def _conv_weights_np(d: np.ndarray, kind: str):
    """Tap offsets + per-candidate weight matrix (n_taps, N) for the
    non-polynomial kernels. lanczos: a=3 windowed sinc over 6 taps
    (np.sinc = sin(πx)/(πx), L(0)=1); gauss: σ=1 source-pixel units
    over 4 taps. Both are weight-sum normalized by the caller."""
    if kind == "lanczos":
        taps = np.arange(-2, 4)
        x = d[None, :] - taps[:, None]
        return taps, np.sinc(x) * np.sinc(x / 3.0)
    if kind == "gauss":
        taps = np.arange(-1, 3)
        x = d[None, :] - taps[:, None]
        return taps, np.exp(-0.5 * x * x)
    raise ValueError(f"unknown conv kind: {kind}")


def to_grid_conv_py(tiles: DataFrame, target: dict, resampling: str = "lanczos") -> DataFrame:
    """to_grid 'lanczos' (a=3, 6×6 taps) and 'gauss' (σ=1 source-pixel
    units, 4×4 taps), weight-sum-normalized. sin()/exp() differ in the
    last ulp across engines, so the oracle hashes a %.9e rendering and
    the raw doubles are pinned by the npref golden transcription in
    pytest (tests/test_resample_kernels.py). Same one-decode-per-tile
    candidate kernel as ``to_grid_conv``, vectorized over taps; a NaN
    result → NULL. → (image_id, trow, tcol, value)."""
    if resampling not in ("lanczos", "gauss"):
        raise ValueError(f"unknown python conv kernel: {resampling}")

    def conv(pix, k, prow, pcol, fr, fc):
        _, hh, ww = pix.shape
        r0 = np.floor(fr).astype(np.int64)
        c0 = np.floor(fc).astype(np.int64)
        taps, wr = _conv_weights_np(fr - r0, resampling)
        _, wc = _conv_weights_np(fc - c0, resampling)
        num = np.zeros(len(k), dtype=np.float64)
        for a, ti in enumerate(taps):
            ri = np.clip(r0 + ti, 0, hh - 1)
            row_acc = np.zeros(len(k), dtype=np.float64)
            for b, tj in enumerate(taps):
                ci = np.clip(c0 + tj, 0, ww - 1)
                row_acc += wc[b] * pix[k, ri, ci].astype(np.float64)
            num += wr[a] * row_acc
        return num / (wr.sum(axis=0) * wc.sum(axis=0))

    return _map_candidates(tiles, target, conv)


def to_geometry(tiles: DataFrame, target, resampling: str = "nearest") -> DataFrame:
    """Raster.to_geometry dispatch (raster.py:1441-1479): route on the
    target's kind — a grid dict → ``to_grid`` (all 13 kernels), a swath
    DataFrame (long-form geolocation table with swath_id/row/col/x/y)
    → ``grid_to_geolocation_nn``, a point DataFrame (point_id/x/y) →
    the flagship point-sampling join."""
    from pyspark.sql import DataFrame as SparkDF

    if isinstance(target, dict):
        return to_grid(tiles, target, resampling)
    if isinstance(target, SparkDF):
        cols = set(target.columns)
        if {"swath_id", "row", "col", "x", "y"} <= cols:
            from rasters_spark.operators.swath import grid_to_geolocation_nn

            return grid_to_geolocation_nn(tiles, target)
        if {"point_id", "x", "y"} <= cols:
            from rasters_spark.operators.point_join import point_in_tile_join

            return sample_nearest(point_in_tile_join(target, tiles))
    raise ValueError(f"unsupported target geometry: {type(target)} / "
                     f"{sorted(target.columns) if hasattr(target, 'columns') else target}")


def to_grid(tiles: DataFrame, target: dict, resampling: str = "nearest") -> DataFrame:
    """Raster.to_grid dispatch — full parity with the reference's 13
    RASTERIO_RESAMPLING_METHODS (constants.py:13-28, raster.py:1325-1428):
    nearest | linear | cubic | cubic_spline | lanczos | average | mode |
    gauss | max | min | med | q1 | q3."""
    if resampling == "nearest":
        return to_grid_nearest(tiles, target)
    if resampling in CONV_KERNELS:
        return to_grid_conv(tiles, target, resampling)
    if resampling == "average":
        return to_grid_average(tiles, target)
    if resampling in ("max", "min", "med", "mode", "q1", "q3", "sum"):
        return to_grid_stat(tiles, target, resampling)
    if resampling in ("lanczos", "gauss"):
        return to_grid_conv_py(tiles, target, resampling)
    raise ValueError(f"unrecognized resampling method: {resampling}")


def _cell_sums(gkey: np.ndarray, vals: np.ndarray):
    """``to_grid_average``'s reducer → ``(keys, sums, counts)`` on the
    shared grouping ``_key_segments``. ``bincount`` adds element by
    element, and the stable grouping keeps each segment in C scan
    order, so every float sum is identical to per-tile calls."""
    order, starts, counts = _key_segments(gkey)
    seg = np.repeat(np.arange(len(starts)), counts)
    sums = np.bincount(seg, weights=vals[order], minlength=len(starts))
    return gkey[order[starts]], sums, counts


def to_grid_average(tiles: DataFrame, target: dict) -> DataFrame:
    """to_grid(resampling='average'): area mean — every SOURCE pixel is
    assigned to the target cell containing its center; per (tile,
    target cell) mean. Runs as one Arrow pass per tile (vectorized
    binning, no pixel explosion through the shuffle); ``_cell_sums``
    adds each cell's pixels in scan order, on the grouping the
    order-statistic kernels share."""
    partials = _map_cell_values(
        tiles, target, _cell_sums,
        "image_id string, trow long, tcol long, vsum double, n long")
    return partials.select("image_id", "trow", "tcol", (F.col("vsum") / F.col("n")).alias("value"), "n")


def reproject_utm(tiles: DataFrame, epsg: int, cell_size_m: float = 2000.0) -> DataFrame:
    """Raster.UTM (raster.py:1908-1915) — reproject to a UTM zone."""
    return reproject(tiles, f"EPSG:{epsg}", cell_size_m)


def reproject(tiles: DataFrame, dst_crs: str, cell_size_m: float = 2000.0) -> DataFrame:
    """Raster.reproject (raster.py:1878-1915): derive a metric target
    grid in ``dst_crs`` (any CRS functions.crs supports: UTM, AEQD,
    sinusoidal/MODIS) from the tiles' union extent (nanmin/max ±
    half-cell padding per grid_to_crs, raster_geometry.py:895-941) and
    warp every pixel center into it (nearest assignment).

    Pipeline: pixel_centroids → transform_xy kernel (numpy Snyder) →
    target cell assignment → first-per-cell composite. Output long form
    (trow, tcol, value, n_sources) on the target grid; the grid
    descriptor is emitted alongside as crossJoin-able metadata.
    """
    from rasters_spark.functions.crs import transform_xy
    from rasters_spark.functions.vector import pixel_centroids

    pc = pixel_centroids(tiles).withColumn("crs", F.lit("EPSG:4326"))
    utm = transform_xy(pc, dst=dst_crs)
    ext = utm.agg(
        F.min("x_t").alias("xmin"), F.min("y_t").alias("ymin"),
        F.max("x_t").alias("xmax"), F.max("y_t").alias("ymax"),
    ).collect()[0]
    if ext.xmin is None:
        raise ValueError("reproject_utm: input has no valid pixels (empty tile selection?)")
    # half-cell padding, matching grid_to_crs extent derivation
    x0 = ext.xmin - cell_size_m / 2
    y0 = ext.ymax + cell_size_m / 2
    cols = int(np.ceil((ext.xmax + cell_size_m / 2 - x0) / cell_size_m))
    rows = int(np.ceil((y0 - (ext.ymin - cell_size_m / 2)) / cell_size_m))
    tg = dict(x_origin=x0, y_origin=y0, cell_width=cell_size_m, cell_height=-cell_size_m,
              rows=rows, cols=cols, crs=dst_crs)
    g = grid.grid_struct(**tg)
    assigned = (
        utm.withColumn("trow", grid.point_row(g, F.col("y_t")))
        .withColumn("tcol", grid.point_col(g, F.col("x_t")))
        .filter(grid.in_bounds(g, F.col("trow"), F.col("tcol")))
    )
    out = assigned.groupBy("trow", "tcol").agg(
        F.min_by("value", F.struct("image_id", "prow", "pcol")).alias("value"),
        F.count("*").alias("n_sources"),
    )
    return out.withColumn("grid", g)


def build_resample_index(tiles: DataFrame, target: dict, table) -> dict:
    """KDTree.save analogue (kdtree.py:227-255): persist the
    (image_id, trow, tcol, prow, pcol) nearest-neighbour mapping as a
    TableIO snapshot. Build once, reuse for every raster on the same
    geometry pair — the reference's ``kd_tree=`` reuse
    (raster.py:1220-1226) becomes read + broadcast join."""
    def kernel(pos, pix, h, w, *origin):
        k, trow, tcol, prow, pcol, _, _ = _tile_candidates(h, w, *origin, target)
        return pos[k], trow, tcol, prow, pcol

    cand = map_groups(tiles, kernel, "image_id string, trow long, tcol long, prow long, pcol long",
                      meta=_ORIGIN)
    return table.write(cand, operation="resample-index",
                       job_id="kdtree", inputs=[str(target)])


def resample_with_index(spark, tiles: DataFrame, table) -> DataFrame:
    """KDTree.resample analogue (kdtree.py:257-325): apply a persisted
    NN index to (possibly different) pixel payloads on the same source
    geometry — an equi-join + O(1) pixel fetch per mapping row."""
    idx = table.read(spark)
    payload = tiles.select("image_id", "bytes", "w", "h", "fmt")
    j = idx.join(payload, "image_id")
    return sample_nearest(j).select("image_id", "trow", "tcol", "value")


def _coarse_key(fine_grid: dict, coarse_grid: dict):
    """Fine cell center → containing coarse cell indices: pure SQL
    (banker's-rounded inverse center affine, like every cell lookup)."""
    cg = grid.grid_struct(**coarse_grid)
    fx = fine_grid["x_origin"] + fine_grid["cell_width"] * (F.col("col").cast("double") + 0.5)
    fy = fine_grid["y_origin"] + fine_grid["cell_height"] * (F.col("row").cast("double") + 0.5)
    return grid.point_row(cg, fy).alias("crow"), grid.point_col(cg, fx).alias("ccol")


def bias_correct(coarse: DataFrame, fine: DataFrame,
                 coarse_grid: dict, fine_grid: dict) -> DataFrame:
    """bias_correct.py:7-23 on long-form rasters (row, col, value):

    upsampled  = avg(fine) per coarse cell            (upsampling='average')
    bias       = upsampled − coarse                    (per coarse cell)
    corrected  = fine − bias[coarse cell of fine cell] (downsampling='nearest')

    Everything is SQL: one aggregation + two joins, no Python."""
    crow, ccol = _coarse_key(fine_grid, coarse_grid)
    f = fine.select("row", "col", "value", crow, ccol)
    up = f.groupBy("crow", "ccol").agg(
        (F.sum("value") / F.count("value")).alias("up"))
    bias = up.join(
        coarse.select(F.col("row").alias("crow"), F.col("col").alias("ccol"),
                      F.col("value").alias("vc")),
        ["crow", "ccol"],
    ).select("crow", "ccol", (F.col("up") - F.col("vc")).alias("bias"))
    return (
        f.join(F.broadcast(bias), ["crow", "ccol"])
        .select("row", "col", (F.col("value") - F.col("bias")).alias("value"))
    )


def linear_downscale(coarse: DataFrame, fine: DataFrame,
                     coarse_grid: dict, fine_grid: dict,
                     apply_scale: bool = True, apply_bias: bool = True,
                     use_gap_filling: bool = False,
                     return_scale_and_bias: bool = False) -> DataFrame:
    """linear_downscale.py:8-53 on long-form rasters: multiplicative
    scale (zero-guarded: coarse==0→0, upsampled==0→0,
    linear_downscale.py:27-29), the additive-bias pass, optional
    gap-filling (:45-47 — fine cells with no data inside coarse
    coverage take the nearest-downsampled coarse value) and optional
    scale/bias output layers (:49-51; 1.0 / 0.0 when a pass is off,
    matching ``fine*0+1`` / ``fine*0``). All passes are SQL:
    average-upsample aggregations + broadcast joins; the gap-fill
    lattice is a per-coarse-cell window explode with a center-mapping
    residual (= nearest downsample)."""
    crow, ccol = _coarse_key(fine_grid, coarse_grid)
    f = fine.select("row", "col", "value", crow, ccol)
    c = coarse.select(F.col("row").alias("crow"), F.col("col").alias("ccol"),
                      F.col("value").alias("vc"))
    if apply_scale:
        up = f.groupBy("crow", "ccol").agg((F.sum("value") / F.count("value")).alias("up"))
        scale = up.join(c, ["crow", "ccol"]).select(
            "crow", "ccol",
            F.when(F.col("vc") == 0, 0.0)
            .when(F.col("up") == 0, 0.0)
            .otherwise(F.col("vc") / F.col("up")).alias("scale"),
        )
        f = (
            f.join(F.broadcast(scale), ["crow", "ccol"])
            .select("row", "col", (F.col("value") * F.col("scale")).alias("value"),
                    "crow", "ccol", "scale")
        )
    else:
        f = f.withColumn("scale", F.lit(1.0))
    if apply_bias:
        up2 = f.groupBy("crow", "ccol").agg((F.sum("value") / F.count("value")).alias("up"))
        bias = up2.join(c, ["crow", "ccol"]).select(
            "crow", "ccol", (F.col("up") - F.col("vc")).alias("bias"))
        f = (
            f.join(F.broadcast(bias), ["crow", "ccol"])
            .select("row", "col", (F.col("value") - F.col("bias")).alias("value"),
                    "crow", "ccol", "scale", "bias")
        )
    else:
        f = f.withColumn("bias", F.lit(0.0))
    out_cols = ["row", "col", "value"] + (["scale", "bias"] if return_scale_and_bias else [])
    if not use_gap_filling:
        return f.select(*out_cols)
    # gap-fill lattice: every fine cell whose center maps into a coarse
    # cell with data; left-join the corrected fine and coalesce
    fg = grid.grid_struct(**fine_grid)
    cg_d = coarse_grid
    cbox = grid.bbox_struct(
        F.lit(cg_d["x_origin"]) + F.lit(cg_d["cell_width"]) * F.col("ccol").cast("double"),
        F.lit(cg_d["y_origin"]) + F.lit(cg_d["cell_height"]) * (F.col("crow").cast("double") + 1.0),
        F.lit(cg_d["x_origin"]) + F.lit(cg_d["cell_width"]) * (F.col("ccol").cast("double") + 1.0),
        F.lit(cg_d["y_origin"]) + F.lit(cg_d["cell_height"]) * F.col("crow").cast("double"),
    )
    w = grid.window_for_bbox(fg, cbox)
    lat = (
        c.withColumn("win", w)
        .filter(~F.col("win")["oob"]
                & (F.col("win")["row_end"] > F.col("win")["row_start"])
                & (F.col("win")["col_end"] > F.col("win")["col_start"]))
        .withColumn("row", F.explode(F.sequence(F.col("win")["row_start"], F.col("win")["row_end"] - 1)))
        .withColumn("col", F.explode(F.sequence(F.col("win")["col_start"], F.col("win")["col_end"] - 1)))
    )
    fx = F.lit(fine_grid["x_origin"]) + F.lit(fine_grid["cell_width"]) * (F.col("col").cast("double") + 0.5)
    fy = F.lit(fine_grid["y_origin"]) + F.lit(fine_grid["cell_height"]) * (F.col("row").cast("double") + 0.5)
    cgs = grid.grid_struct(**coarse_grid)
    lat = lat.filter(
        (grid.point_row(cgs, fy) == F.col("crow")) & (grid.point_col(cgs, fx) == F.col("ccol"))
    ).select("row", "col", "vc")
    filled = (
        lat.join(f.select("row", "col", "value", "scale", "bias"), ["row", "col"], "left")
        .select("row", "col",
                F.coalesce(F.col("value"), F.col("vc")).alias("value"),
                F.coalesce(F.col("scale"), F.lit(1.0)).alias("scale"),
                F.coalesce(F.col("bias"), F.lit(0.0)).alias("bias"))
    )
    return filled.select(*out_cols)
