"""Focal (neighborhood) raster statistics with cross-tile halo exchange.

EXTENSION beyond the reference (no focal/convolution family exists in
/root/reference — verified by grep): this is the map-algebra operator a
large-scale image training pipeline needs (blur/density/texture
features over tiled imagery), expressed for Spark's execution model.

Semantics: for every cell of every tile, the statistic of the valid
(finite) pixels in the Chebyshev-radius-``r`` window around it — the
GIS "focal statistics" convention, center cell INCLUDED, NaN/nodata
excluded from the window population, computed at nodata centers too
(their window may still contain valid neighbors). Windows cross tile
boundaries: a tile's edge cells see the adjacent tile's edge pixels.

Scale design (the halo-exchange pattern):
- Each tile emits up to 8 *edge strips* (r-wide slabs facing each of
  the 8 neighbor directions), addressed to the neighbor's origin. A
  strip is O(perimeter·r) — for r=1 on a 256×256 tile ~3% of a raw
  payload (strips are float64 so every decoded value, i32 included,
  crosses exactly) — so the strip exchange is skinny.
- Neighbor resolution is a broadcast-able equi-join of strips against
  the skinny tile INDEX (no payload) on printf-quantized origin keys:
  ``format_string('%.9f', origin)`` absorbs the sub-nanodegree float
  drift of ``origin + k·span`` vs a stored origin while never
  colliding distinct lattice positions (CLAUDE.md printf rule). Tiles
  only exchange strips within a compatible layout (same crs / cell
  size / tile shape) — mixed-resolution mosaics don't alias.
- Strips for one tile are folded into a single bounded row
  (``collect_list`` of ≤8 structs — bounded by construction, not by
  data, so the hot-key sharding rule doesn't apply) and joined 1:1
  onto the payload. The tile payload crosses exactly ONE exchange for
  that join (the same blessed shape as the IDW cogroup); missing
  neighbors (lattice edge, isolated tile) become NaN halo.
- Every halo operator (here, ``terrain``, ``contour``, ``chips``) runs
  through ONE runner, :func:`map_halo` (the whole-tile runner
  ``tiles.map_tiles`` over the halo payload); each tile is padded to
  (h+2r, w+2r) with its strips placed, and the operator's kernel takes
  (2r+1)² shifted adds / fmin / fmax over it — no per-pixel Python.
  With the fixtures' exactly-representable quarter-integer pixels every
  summation order is exact, so the focal sums are bit-identical to a
  relational oracle summing the same window population in any order.
  The strip format stays private to this module.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_spark.tiles import (TILE_KEEP, TILE_SCHEMA, cell_rows, map_groups,
                                 map_tiles, raw_tile)

#: layout-compatibility columns: strips only flow between tiles that
#: agree on all of these (one lattice per distinct layout).
LAYOUT_COLS = ("crs", "cell_width", "cell_height", "w", "h")

#: the 8 neighbor directions (dx → +x / east, dy → +row / "down" in
#: the y_origin + dy·h·cell_height sense; cell_height < 0 means down
#: is south, which is the normal north-up raster layout).
_DIRS = [(-1, -1), (0, -1), (1, -1), (-1, 0), (1, 0), (-1, 1), (0, 1), (1, 1)]

_STRIP_SCHEMA = ("crs string, cell_width double, cell_height double, w int, h int, "
                 "nbr_ox double, nbr_oy double, dx int, dy int, sw int, sh int, "
                 "strip binary")

_STATS = ("sum", "count", "mean", "min", "max")


def _origin_key(col):
    """Printf-quantized origin join key — %.9f keeps 9 decimals (sub-
    nanodegree / nanometer), absorbing ≤ ~1e-12 accumulation drift of
    origin+k·span arithmetic while separating real lattice steps.
    ``+ 0.0`` collapses IEEE −0.0 (ty·negative-span at ty=0) onto +0.0
    so both render \"0.000000000\"."""
    return F.format_string("%.9f", col.cast("double") + F.lit(0.0))


def _edge_strips(tiles: DataFrame, radius: int) -> DataFrame:
    """Skinny strip table: one row per (tile, direction), addressed by
    the neighbor's printf-quantized origin. O(perimeter·r) bytes per
    tile — the only payload-derived data that crosses the strip join.
    A group kernel on ``map_groups`` cuts the 8 r-wide edge slabs of a
    whole decode group at once. Strips ship as ``<f8`` so every decoded
    value crosses the seam exactly (an i32 pixel above 2**24 does not
    survive float32)."""
    r = radius
    d = np.array(_DIRS)

    def kernel(pos, pix, hh, ww, x0, y0, cw, ch):
        if r > min(ww, hh):
            # a window wider than a tile needs strips from tiles ≥2
            # steps away (multi-ring exchange) — out of scope, loudly
            raise ValueError(
                f"focal radius {r} exceeds tile extent {ww}x{hh}; "
                f"halo exchange covers radius <= min(w, h)")
        x0, y0, cw, ch = (v.to_numpy(zero_copy_only=False) for v in (x0, y0, cw, ch))
        strips, size = [], []
        for dx, dy in _DIRS:
            cols = slice(0, r) if dx < 0 else slice(ww - r, ww) if dx > 0 else slice(0, ww)
            rows = slice(0, r) if dy < 0 else slice(hh - r, hh) if dy > 0 else slice(0, hh)
            sl = np.ascontiguousarray(pix[:, rows, cols], dtype="<f8")
            strips += [s.tobytes() for s in sl]
            size.append(sl.shape[1:])
        m = len(pos)
        sh, sw = np.repeat(size, m, axis=0).T
        return (np.tile(pos, len(_DIRS)),
                (x0 + d[:, :1] * (ww * cw)).ravel(), (y0 + d[:, 1:] * (hh * ch)).ravel(),
                np.repeat(d[:, 0], m), np.repeat(d[:, 1], m), sw, sh, strips)

    return map_groups(tiles, kernel, _STRIP_SCHEMA, LAYOUT_COLS,
                      ("x_origin", "y_origin", "cell_width", "cell_height"))


def _halos(tiles: DataFrame, radius: int) -> DataFrame:
    """(image_id, halos) — ≤8 direction-tagged strips per tile, found
    by joining the strip table to the skinny tile index on layout +
    quantized origin. The index join carries no tile payload."""
    idx = tiles.select(
        "image_id", *LAYOUT_COLS,
        _origin_key(F.col("x_origin")).alias("ox_key"),
        _origin_key(F.col("y_origin")).alias("oy_key"))
    strips = _edge_strips(tiles, radius).withColumn(
        "ox_key", _origin_key(F.col("nbr_ox"))).withColumn(
        "oy_key", _origin_key(F.col("nbr_oy")))
    cond = [*LAYOUT_COLS, "ox_key", "oy_key"]
    matched = strips.join(idx, on=cond, how="inner")
    return matched.groupBy("image_id").agg(
        F.collect_list(F.struct("dx", "dy", "sw", "sh", "strip")).alias("halos"))


def _place_halos(arr: np.ndarray, halos, radius: int) -> np.ndarray:
    """Pad ``arr`` by ``radius`` with NaN and place the received
    strips. A strip tagged (dx,dy) was emitted TOWARD that direction,
    so from the receiver's frame the sender sits at (-dx,-dy): a strip
    tagged dx=-1 arrived from my EAST neighbor (it addressed its west
    edge to me), and fills my EAST halo. Layout equality (join keys)
    guarantees the slab dimensions match the halo exactly."""
    hh, ww = arr.shape
    r = radius
    pad = np.full((hh + 2 * r, ww + 2 * r), np.nan, dtype=np.float64)
    pad[r:r + hh, r:r + ww] = arr
    if halos is None:
        return pad
    for hrec in halos:
        sdx, sdy = -int(hrec["dx"]), -int(hrec["dy"])  # sender's side of me
        sw, sh = int(hrec["sw"]), int(hrec["sh"])
        sl = np.frombuffer(hrec["strip"], dtype="<f8").reshape(sh, sw)
        cs = (slice(0, r) if sdx < 0 else
              slice(r + ww, r + ww + r) if sdx > 0 else slice(r, r + ww))
        rs = (slice(0, r) if sdy < 0 else
              slice(r + hh, r + hh + r) if sdy > 0 else slice(r, r + hh))
        pad[rs, cs] = sl
    return pad


def _with_halo_payload(tiles: DataFrame, radius: int) -> DataFrame:
    """Tile payload ⋈ its folded halo row (1:1 left join — the payload
    crosses exactly one exchange; AQE broadcasts the halo side while
    it fits, and at cluster scale both sides hash on image_id with no
    fanout)."""
    return tiles.join(_halos(tiles, radius), on="image_id", how="left")


def map_halo(tiles: DataFrame, radius: int, kernel, schema: str,
             keep: tuple[str, ...] = ("image_id",),
             meta: tuple[str, ...] = ()) -> DataFrame:
    """The one halo runner: ``_with_halo_payload`` then
    ``tiles.map_tiles``. Every tile is padded by ``_place_halos`` to
    ``pad`` (h+2r, w+2r) and handed to ``kernel(pad, h, w, *meta
    values)``, which returns the non-``keep`` columns of ``schema`` as
    ``map_tiles`` kernels do."""
    def padded(arr, hh, ww, halos, *m):
        return kernel(_place_halos(arr, halos, radius), hh, ww, *m)

    return map_tiles(_with_halo_payload(tiles, radius), padded, schema, keep,
                     ("halos", *meta))


def _focal_grids(pad: np.ndarray, hh: int, ww: int, radius: int, stat: str):
    """(2r+1)²-shifted reduction over the padded array → per-cell
    focal value grid (float64). Sum/count/mean use shifted adds (exact
    for exactly-representable pixel values in any order); min/max use
    fmin/fmax (NaN-ignoring)."""
    r = radius
    k = 2 * r + 1
    valid = np.isfinite(pad)
    vz = np.where(valid, pad, 0.0)
    if stat in ("sum", "count", "mean"):
        s = np.zeros((hh, ww), dtype=np.float64)
        n = np.zeros((hh, ww), dtype=np.int64)
        for dy in range(k):
            for dx in range(k):
                s += vz[dy:dy + hh, dx:dx + ww]
                n += valid[dy:dy + hh, dx:dx + ww]
        if stat == "count":
            return n.astype(np.float64), n
        if stat == "sum":
            out = np.where(n > 0, s, np.nan)
        else:
            with np.errstate(invalid="ignore", divide="ignore"):
                out = np.where(n > 0, s / np.maximum(n, 1), np.nan)
        return out, n
    red = np.fmin if stat == "min" else np.fmax
    acc = np.full((hh, ww), np.nan, dtype=np.float64)
    n = np.zeros((hh, ww), dtype=np.int64)
    for dy in range(k):
        for dx in range(k):
            acc = red(acc, pad[dy:dy + hh, dx:dx + ww])
            n += valid[dy:dy + hh, dx:dx + ww]
    return acc, n


def focal_tiles(tiles: DataFrame, radius: int = 1, stat: str = "mean") -> DataFrame:
    """Raster→raster focal statistic over a tiled layer with halo
    exchange: returns the input tile set (same georeferencing) with
    ``bytes`` replaced by the per-cell focal ``stat`` grid (fmt raw).
    Cells whose whole window is invalid come back NaN."""
    if stat not in _STATS:
        raise ValueError(f"unknown focal stat: {stat!r} (one of {_STATS})")

    def kernel(pad, hh, ww):
        return raw_tile(_focal_grids(pad, hh, ww, radius, stat)[0])

    return map_halo(tiles, radius, kernel, TILE_SCHEMA, TILE_KEEP)


def focal_stats(tiles: DataFrame, radius: int = 1) -> DataFrame:
    """Per-tile focal aggregate — the oracle-friendly reduction:
    (image_id, focal_cells = # cells with ≥1 valid pixel in their
    window, focal_sum = Σ over cells of their window sums). With
    exactly-representable pixel values the double sum is order-
    independent, so a relational twin summing the same (center,
    neighbor) pairs matches bit-for-bit."""
    def kernel(pad, hh, ww):
        s, n = _focal_grids(pad, hh, ww, radius, "sum")
        return [int((n > 0).sum())], [float(np.where(n > 0, s, 0.0).sum())]

    return map_halo(tiles, radius, kernel,
                    "image_id string, focal_cells long, focal_sum double")


def focal_rank_stats(tiles: DataFrame, radius: int = 1) -> DataFrame:
    """Focal MEDIAN and MAJORITY over the halo-exchanged lattice —
    the rank-statistic filters (focal median = despeckle, majority =
    categorical smoothing; EXTENSION beyond the reference, which has
    no focal family). Per-pixel skinny rows
    ``(image_id, prow, pcol, med, maj, n)`` for every cell with ≥1
    valid value in its (2r+1)² window.

    Cross-engine parity: the median of an even window is the mean of
    the two middle values — numpy's (a+b)/2 and DuckDB
    ``quantile_cont(0.5)``'s lo·0.5 + hi·0.5 are BOTH exact for
    quarter-integer pixels (dyadic, bounded exponent), so the doubles
    hash bit-identically. Majority tie-break is total-ordered
    (CLAUDE.md rule): highest count, then SMALLEST value — the twin
    ranks (count desc, value asc).

    Scale shape: identical to focal_stats — skinny strips cross one
    exchange, payload crosses one, then ONE map-only Arrow pass; the
    (K,K,h,w) equality tensor is per-tile bounded (K=9 → ~250 KB)."""
    import warnings

    k = 2 * radius + 1

    def kernel(pad, hh, ww):
        stack = np.stack([pad[dy:dy + hh, dx:dx + ww]
                          for dy in range(k) for dx in range(k)])
        n = np.isfinite(stack).sum(axis=0)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            med = np.nanmedian(stack, axis=0)
            # counts[j] = #{i : v_i == v_j} (NaN never equal);
            # majority = smallest value attaining the max count
            counts = (stack[:, None] == stack[None, :]).sum(axis=0)
            maxc = counts.max(axis=0)
            maj = np.nanmin(np.where(counts == maxc, stack, np.nan), axis=0)
        return cell_rows(n > 0, med, maj, n)

    return map_halo(tiles, radius, kernel,
                    "image_id string, prow int, pcol int, med double, maj double, n long")


def _kernel_array(kernel) -> np.ndarray:
    """Validate an odd-square 2-D weight kernel → float64 array."""
    k = np.asarray(kernel, dtype=np.float64)
    if k.ndim != 2 or k.shape[0] != k.shape[1] or k.shape[0] % 2 == 0:
        raise ValueError(f"kernel must be odd-square 2-D, got shape {k.shape}")
    return k


#: 3×3 binomial (Gaussian-approximating) blur — the separable
#: [1,2,1]/4 ⊗ [1,2,1]/4 kernel. All weights are dyadic rationals
#: (sixteenths), so weight·quarter-integer products and their sums stay
#: EXACT in float64 — the kernel family the exact-sum oracle rule allows.
BINOMIAL3 = np.array([[1, 2, 1], [2, 4, 2], [1, 2, 1]], dtype=np.float64) / 16.0

#: 3×3 Laplacian (4-neighbor second difference) — integer weights,
#: classic sharpen/edge-detect companion to the blur.
LAPLACIAN3 = np.array([[0, 1, 0], [1, -4, 1], [0, 1, 0]], dtype=np.float64)

#: 5×5 binomial (radius-2 Gaussian approximation): the outer product
#: of [1,4,6,4,1]/16 with itself — weights are 256ths (dyadic), so the
#: exactness argument of BINOMIAL3 carries over; exercises the 2-wide
#: halo strips.
_B5 = np.array([1.0, 4.0, 6.0, 4.0, 1.0]) / 16.0
BINOMIAL5 = np.outer(_B5, _B5)


def _convolve_grids(pad: np.ndarray, hh: int, ww: int, k: np.ndarray):
    """Weighted (2r+1)²-shifted reduction: per-cell
    ``num = Σ w_j·v_j`` and ``den = Σ w_j`` over the VALID window
    pixels, plus the valid count. Shifted adds keep one Arrow pass per
    tile; with dyadic weights and exactly-representable pixels every
    product and partial sum is exact, so ``num`` is order-independent
    and bit-reproducible relationally."""
    r = k.shape[0] // 2
    valid = np.isfinite(pad)
    vz = np.where(valid, pad, 0.0)
    num = np.zeros((hh, ww), dtype=np.float64)
    den = np.zeros((hh, ww), dtype=np.float64)
    n = np.zeros((hh, ww), dtype=np.int64)
    for dy in range(2 * r + 1):
        for dx in range(2 * r + 1):
            w = k[dy, dx]
            sl_v = vz[dy:dy + hh, dx:dx + ww]
            sl_m = valid[dy:dy + hh, dx:dx + ww]
            if w != 0.0:
                num += w * sl_v
                den += w * sl_m
            n += sl_m
    return num, den, n


def convolve_tiles(tiles: DataFrame, kernel=BINOMIAL3,
                   normalize: bool = True) -> DataFrame:
    """Raster→raster focal convolution with cross-tile halo exchange —
    the blur/sharpen/edge map-algebra operator (EXTENSION beyond the
    reference, which has no convolution family; companion to
    ``focal_tiles``). Returns the tile set with ``bytes`` replaced by
    the convolved grid (fmt raw).

    ``normalize=True`` renormalizes by the weight mass of the VALID
    window pixels (partial-kernel renormalization, the GIS blur
    convention, NaN where the valid weight mass is 0); ``False``
    returns the raw weighted sum (NaN where no valid pixel), the right
    form for difference kernels like ``LAPLACIAN3`` whose full-window
    weight mass is 0. Scale shape: identical to ``focal_tiles`` — the
    skinny strip exchange + ONE payload join, then a map-only kernel."""
    k = _kernel_array(kernel)

    def conv(pad, hh, ww):
        num, den, n = _convolve_grids(pad, hh, ww, k)
        if normalize:
            with np.errstate(invalid="ignore", divide="ignore"):
                return raw_tile(np.where(den != 0.0, num / den, np.nan))
        return raw_tile(np.where(n > 0, num, np.nan))

    return map_halo(tiles, k.shape[0] // 2, conv, TILE_SCHEMA, TILE_KEEP)


def convolve_stats(tiles: DataFrame, kernel=BINOMIAL3) -> DataFrame:
    """Per-tile reduction of the UNNORMALIZED convolution — the
    oracle-friendly contract shape (mirror of ``focal_stats``):
    ``(image_id, conv_cells, conv_sum)`` with ``conv_sum`` the sum over
    cells of ``Σ w_j·v_j`` (valid window pixels only) and
    ``conv_cells`` the cells with ≥1 valid window pixel. With dyadic
    kernel weights and quarter-integer pixels every term is exact, so a
    relational twin joining the same (center, neighbor, weight) triples
    matches bit-for-bit in any accumulation order."""
    k = _kernel_array(kernel)

    def conv(pad, hh, ww):
        num, _den, n = _convolve_grids(pad, hh, ww, k)
        return [int((n > 0).sum())], [float(np.where(n > 0, num, 0.0).sum())]

    return map_halo(tiles, k.shape[0] // 2, conv,
                    "image_id string, conv_cells long, conv_sum double")


def lattice_remap(tiles: DataFrame, per_row: int = 40) -> DataFrame:
    """Deterministically re-origin tiles onto a dense row-major lattice
    (per layout group, ordered by image_id) — a metadata-only transform
    used to exercise halo exchange on fixtures whose native tiles don't
    abut. Reproducible in ANSI SQL via the same row_number() window, so
    oracle queries can replicate the lattice exactly."""
    from pyspark.sql import Window
    wspec = Window.partitionBy(*LAYOUT_COLS).orderBy("image_id")
    rn = F.row_number().over(wspec) - F.lit(1)
    tx = (rn % per_row).cast("double")
    ty = F.floor(rn / per_row).cast("double")
    return (tiles
            .withColumn("x_origin", tx * F.col("w") * F.col("cell_width"))
            .withColumn("y_origin", ty * F.col("h") * F.col("cell_height")))


def proximity_stats(tiles: DataFrame, threshold: float, radius: int = 2) -> DataFrame:
    """Bounded-radius proximity (gdal_proximity with maxdist —
    EXTENSION beyond the reference): per valid cell, the Euclidean
    pixel distance to the NEAREST target cell (``value >= threshold``)
    within the (2r+1)² window, NULL when no target is that close, plus
    the in-window target count ``n_t`` (certifies the whole target
    field, not just the min). A target cell reports 0.

    The unbounded distance transform needs global sweeps; the bounded
    form is exactly a focal op — at 100 TB it stays the same strip
    exchange + map-only pass as every other halo kernel. Distances are
    sqrt(dx²+dy²) of small ints — correctly-rounded IEEE on both
    engines (shared expression), and the min over a set of distinct
    constants has no tie ambiguity."""
    thr = float(threshold)
    r = radius
    offs = [(dy, dx, math.sqrt(float(dx * dx + dy * dy)))
            for dy in range(-r, r + 1) for dx in range(-r, r + 1)]

    def kernel(pad, hh, ww):
        prox = np.full((hh, ww), np.inf)
        n_t = np.zeros((hh, ww), dtype=np.int64)
        for dy, dx, dist in offs:
            sl = pad[r + dy:r + dy + hh, r + dx:r + dx + ww]
            tgt = sl >= thr  # NaN compares False
            n_t += tgt
            prox = np.where(tgt & (dist < prox), dist, prox)
        center = pad[r:r + hh, r:r + ww]
        return cell_rows(np.isfinite(center),
                         np.where(np.isinf(prox), np.nan, prox), n_t)

    return map_halo(tiles, r, kernel,
                    "image_id string, prow int, pcol int, prox double, n_t long")
