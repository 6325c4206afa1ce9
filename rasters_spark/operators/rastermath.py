"""Element-wise raster algebra — fused Arrow kernels.

Reference: the dunder-op family (raster.py:177-624), where()/clip()/
mask()/fill()/valid_mask (where.py:12-99, clip.py:13-62,
raster.py:980-1004,1917-1924), stretches (raster.py:2137-2156) — all
eager there, each allocating a full array (SURVEY §3 EP3: N ops = N
materializations).

Here a CHAIN of element-wise steps is composed into one numpy closure
and executed as one per-tile kernel in a single ``tiles.map_tiles``
(mapInArrow) pass over the tile batch — the
engine-level kernel fusion Catalyst can't do across Python UDFs
(SURVEY §4.2(3)). NaN discipline matches the reference: arithmetic
runs under errstate(invalid='ignore') and NaN propagates
(raster.py:192-194); comparisons yield 0/1 masks with NaN→0 like
numpy's False.

Output tiles are re-encoded ``fmt='raw'`` (float32 lossless), grid
columns pass through untouched — raster algebra never moves data
across tiles, so the stage is shuffle-free and embarrassingly parallel
at any scale.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_spark import codec
from rasters_spark.tiles import cell_rows, map_tiles

Kernel = Callable[[np.ndarray], np.ndarray]

PASSTHROUGH = ("image_id", "w", "h", "caption", "x_origin", "y_origin", "cell_width", "cell_height", "crs")

#: the tile schema trim and augment_tiles emit
_TILE_DDL = ("image_id string, bytes binary, w int, h int, fmt string, "
             "x_origin double, y_origin double, cell_width double, "
             "cell_height double, crs string")


def compose(*fns: Kernel) -> Kernel:
    def fused(a: np.ndarray) -> np.ndarray:
        for f in fns:
            a = f(a)
        return a

    return fused


# --- kernel constructors (raster.py:177-624 semantics) -------------------------

def add(v):    return lambda a: a + v
def sub(v):    return lambda a: a - v
def rsub(v):   return lambda a: v - a
def mul(v):    return lambda a: a * v
def div(v):    return lambda a: _nan_div(a, v)
def rdiv(v):   return lambda a: _nan_div(np.float64(v), a)
def pow_(v):   return lambda a: a ** v
def neg():     return lambda a: -a
def absval(): return lambda a: np.abs(a)


def _nan_div(a, b):
    with np.errstate(divide="ignore", invalid="ignore"):
        out = a / b
    return np.where(np.isinf(out), np.nan, out)  # x/0 → NaN like nodata


def gt(v):  return lambda a: (a > v).astype(np.float32)
def ge(v):  return lambda a: (a >= v).astype(np.float32)
def lt(v):  return lambda a: (a < v).astype(np.float32)
def le(v):  return lambda a: (a <= v).astype(np.float32)
def eq(v):  return lambda a: (a == v).astype(np.float32)


def clip(lo=None, hi=None) -> Kernel:
    """clip.py:13-62 — clamp, NaN passes through."""
    return lambda a: np.clip(a, lo, hi)


def where(cond: Kernel, x, y) -> Kernel:
    """where.py:12-99 — numpy.where with raster/scalar operands."""
    def k(a):
        c = cond(a)
        xa = x(a) if callable(x) else x
        ya = y(a) if callable(y) else y
        return np.where(c != 0, xa, ya)

    return k


def mask(cond: Kernel) -> Kernel:
    """raster.py:1917-1918 — keep where mask, else NaN."""
    return lambda a: np.where(cond(a) != 0, a, np.nan)


def fill(v: float) -> Kernel:
    """raster.py:1920-1924 — fill NaNs with a scalar (raster-valued fill
    is tile_binary with np.where(isnan(a), b, a))."""
    return lambda a: np.where(np.isnan(a), v, a)


def valid_mask() -> Kernel:
    """raster.py:980-985 — 1 where finite, 0 where nodata."""
    return lambda a: np.isfinite(a).astype(np.float32)


def minmaxstretch() -> Kernel:
    """raster.py:2137-2143 — normalize to [0,1] by per-tile nanmin/max."""
    def k(a):
        lo, hi = np.nanmin(a), np.nanmax(a)
        span = (hi - lo) or 1.0
        return (a - lo) / span

    return k


def percentilecut(lo_pct=2.0, hi_pct=98.0) -> Kernel:
    """raster.py:2145-2156 — clip to percentile interval then stretch."""
    def k(a):
        lo = np.nanpercentile(a, lo_pct)
        hi = np.nanpercentile(a, hi_pct)
        span = (hi - lo) or 1.0
        return np.clip((a - lo) / span, 0.0, 1.0)

    return k


# --- executors ------------------------------------------------------------------

def _out_schema(df: DataFrame) -> str:
    names = [c for c in PASSTHROUGH if c in df.columns]
    typed = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    cols = ", ".join(f"{n} {typed[n]}" for n in names)
    return cols + ", bytes binary, fmt string"


def elementwise(tiles: DataFrame, kernel: Kernel) -> DataFrame:
    """Apply a fused element-wise kernel to every tile: ONE Arrow pass."""
    def run(arr, h, w):
        with np.errstate(invalid="ignore", divide="ignore"):
            out = kernel(arr).astype(np.float32)
        return [codec.encode_tile(out, "raw")], ["raw"]

    return map_tiles(tiles, run, _out_schema(tiles),
                     keep=tuple(c for c in PASSTHROUGH if c in tiles.columns))


def astype_tiles(tiles: DataFrame, fmt: str, kernel: Kernel | None = None,
                 nodata_fill: float | None = None) -> DataFrame:
    """Dtype cast at the tile level — the engine's ``astype`` into the
    integer/bool family (``i32``/``b1``) or back to float formats.

    Integer-family rules transcribed from the reference: NaN nodata is
    forbidden for int rasters (raster.py:1217-1218), so NaN pixels are
    filled with ``nodata_fill`` BEFORE the cast (default: the engine's
    I32_NODATA sentinel for i32, 0 for b1 — numpy's NaN→False rule);
    values are rounded rint like numpy's astype-after-rint narrowing
    (raster.py:1559-1567 narrows write-time dtypes the same way).
    ``kernel``: optional fused element-wise step applied pre-cast (e.g.
    a threshold for a bool mask) — one Arrow pass total."""
    if nodata_fill is None:
        nodata_fill = float(codec.I32_NODATA) if fmt == "i32" else 0.0

    def run(arr, h, w):
        with np.errstate(invalid="ignore", divide="ignore"):
            out = kernel(arr) if kernel is not None else arr
        if fmt in codec.INT_FMTS:
            out = np.where(np.isnan(out), nodata_fill, out)
        return [codec.encode_tile(out, fmt)], [fmt]

    return map_tiles(tiles, run, _out_schema(tiles),
                     keep=tuple(c for c in PASSTHROUGH if c in tiles.columns))


def _decode_b(blob, h: int, w: int, fmt: str, image_id) -> np.ndarray:
    """Side b of a tile pair, decoded through ``codec.decode_grouped``
    so a bad blob fails naming the pair's image_id too."""
    return next(codec.decode_grouped([blob], [w], [h], [fmt], [image_id]))[4][0]


def tile_binary(a: DataFrame, b: DataFrame, fn: Callable[[np.ndarray, np.ndarray], np.ndarray]) -> DataFrame:
    """Raster⊗raster element-wise op between two same-grid tile tables,
    joined on image_id (reference shape check raster.py:1921-1923)."""
    keep = ("image_id", "w", "h", "x_origin", "y_origin", "cell_width", "cell_height", "crs")
    right = b.select("image_id", b["bytes"].alias("bytes_b"), b["fmt"].alias("fmt_b"))
    src = a.select(*keep, "bytes", "fmt").join(right, "image_id")

    def run(arr, h, w, bytes_b, fmt_b, image_id):
        bb = _decode_b(bytes_b, h, w, fmt_b, image_id)
        with np.errstate(invalid="ignore", divide="ignore"):
            return [codec.encode_tile(fn(arr, bb).astype(np.float32), "raw")], ["raw"]

    return map_tiles(src, run, "image_id string, w int, h int, x_origin double, "
                     "y_origin double, cell_width double, cell_height double, "
                     "crs string, bytes binary, fmt string",
                     keep=keep, meta=("bytes_b", "fmt_b", "image_id"))


def trim(tiles: DataFrame) -> DataFrame:
    """raster.py:987-1004 — crop each tile to the bbox of valid data;
    origin shifts by the §1.3(2) rule. Tiles with no valid pixels drop
    (reference raises on empty; relationally they vanish)."""
    def run(arr, h, w, x0, y0, cw, ch):
        valid = np.isfinite(arr)
        if not valid.any():
            return ([],) * 6
        rr = np.flatnonzero(valid.any(axis=1))
        cc = np.flatnonzero(valid.any(axis=0))
        r0, r1, c0, c1 = rr[0], rr[-1] + 1, cc[0], cc[-1] + 1
        return ([codec.encode_tile(arr[r0:r1, c0:c1], "raw")], [int(c1 - c0)],
                [int(r1 - r0)], ["raw"], [x0 + float(c0) * cw], [y0 + float(r0) * ch])

    return map_tiles(tiles, run, _TILE_DDL,
                     keep=("image_id", "cell_width", "cell_height", "crs"),
                     meta=("x_origin", "y_origin", "cell_width", "cell_height"))


# ---------------------------------------------------------------------------
# cross-LAYER algebra: two aligned rasters → one (NDVI-style band math)
# ---------------------------------------------------------------------------

_LAYER_OPS = ("ndiff", "diff", "ratio")


def align_layers(a: DataFrame, b: DataFrame) -> DataFrame:
    """Join two tile layers on layout + printf-quantized origins (the
    focal strip-exchange key rule): one row per co-registered tile
    pair, carrying ``bytes_a``/``bytes_b``. Both sides hash-shuffle on
    the skinny grid key — the payloads cross exactly one exchange
    each and meet 1:1 (no fanout)."""
    from rasters_spark.operators.focal import _origin_key
    keyed = lambda df: df.withColumn(  # noqa: E731
        "ox_key", _origin_key(F.col("x_origin"))).withColumn(
        "oy_key", _origin_key(F.col("y_origin")))
    left = keyed(a).select(
        "image_id", "x_origin", "y_origin", "cell_width", "cell_height",
        "crs", "w", "h", "ox_key", "oy_key",
        F.col("fmt").alias("fmt_a"), F.col("bytes").alias("bytes_a"))
    right = keyed(b).select(
        "crs", "cell_width", "cell_height", "w", "h", "ox_key", "oy_key",
        F.col("fmt").alias("fmt_b"), F.col("bytes").alias("bytes_b"))
    on = ["crs", "cell_width", "cell_height", "w", "h", "ox_key", "oy_key"]
    return left.join(right, on=on, how="inner").drop("ox_key", "oy_key")


def layer_algebra(pairs: DataFrame, op: str = "ndiff") -> DataFrame:
    """Per-pixel band math across two co-registered layers — the NDVI
    shape. ``pairs`` carries (image_id, w, h, fmt_a, bytes_a, fmt_b,
    bytes_b) — from ``align_layers`` or any caller-built pairing.
    Returns skinny per-pixel rows ``(image_id, prow, pcol, value)``
    for pixels finite in BOTH layers:

    - ``ndiff``: (a − b) / (a + b), NULL where a + b = 0 — the exact
      zero test and the single correctly-rounded division make the
      result BIT-IDENTICAL to a relational twin computing the same
      expression (numerator/denominator are exact dyadic differences
      of quarter-integer fixture pixels);
    - ``diff``: a − b (exact); ``ratio``: a / b, NULL where b = 0.

    One Arrow pass; nothing but skinny doubles leaves the task."""
    if op not in _LAYER_OPS:
        raise ValueError(f"unknown layer op: {op!r} (one of {_LAYER_OPS})")
    src = pairs.select("image_id", "w", "h", F.col("fmt_a").alias("fmt"),
                       F.col("bytes_a").alias("bytes"), "fmt_b", "bytes_b")

    def run(arr, h, w, bytes_b, fmt_b, image_id):
        a = arr.astype(np.float64)
        b = _decode_b(bytes_b, h, w, fmt_b, image_id).astype(np.float64)
        with np.errstate(invalid="ignore", divide="ignore"):
            if op == "ndiff":
                val = np.where((a + b) == 0.0, np.nan, (a - b) / (a + b))
            elif op == "diff":
                val = a - b
            else:
                val = np.where(b == 0.0, np.nan, a / b)
        return cell_rows(np.isfinite(a) & np.isfinite(b), val)

    return map_tiles(src, run, "image_id string, prow int, pcol int, value double",
                     meta=("bytes_b", "fmt_b", "image_id"))


# ---------------------------------------------------------------------------
# geometric augmentation (training-data) + pixel export
# ---------------------------------------------------------------------------

_AUG_OPS = ("hflip", "vflip", "rot180")


def augment_tiles(tiles: DataFrame, ops=_AUG_OPS) -> DataFrame:
    """Geometric training-data augmentation (the standard vision
    flips; EXTENSION beyond the reference): each input tile emits one
    tile per op with ``image_id || ':' || op`` and the pixel grid
    mirrored — hflip: (r,c) ← (r, w−1−c); vflip: (r,c) ← (h−1−r, c);
    rot180: both. Georeferencing passes through UNCHANGED (augmented
    chips are training tensors, not measurements — documented
    convention). Map-only, one Arrow pass, byte-exact value
    permutations (no arithmetic at all)."""
    for op in ops:
        if op not in _AUG_OPS:
            raise ValueError(f"unknown augment op: {op!r} (one of {_AUG_OPS})")
    def flip(a, op):
        if op in ("hflip", "rot180"):
            a = a[:, ::-1]
        if op in ("vflip", "rot180"):
            a = a[::-1, :]
        return codec.encode_tile(np.ascontiguousarray(a, dtype=np.float32), "raw")

    def run(arr, h, w, image_id):
        return ([f"{image_id}:{op}" for op in ops], [flip(arr, op) for op in ops],
                ["raw"] * len(ops))

    return map_tiles(tiles, run, _TILE_DDL,
                     keep=("w", "h", "x_origin", "y_origin", "cell_width", "cell_height", "crs"),
                     meta=("image_id",))


def pixels_of(tiles: DataFrame) -> DataFrame:
    """Decode tiles to skinny per-pixel rows (image_id, prow, pcol,
    value) — NaN → NULL at the boundary. The export/debug face of the
    codec; map-only."""
    def run(arr, h, w):
        v = arr.astype(np.float64)
        return cell_rows(np.ones((h, w), bool), np.where(np.isfinite(v), v, np.nan))

    return map_tiles(tiles, run, "image_id string, prow int, pcol int, value double")


def reclassify(breaks, classes) -> Kernel:
    """Range reclassification (the GDAL/ESRI Reclassify operator;
    EXTENSION beyond the reference's comparison dunders): value v maps
    to ``classes[i]`` for v in the half-open band
    [breaks[i−1], breaks[i]) — ``len(classes) == len(breaks) + 1``,
    first band open below, last open above. NaN passes through
    (nodata stays nodata). Composable with every other kernel in ONE
    Arrow pass via ``compose``."""
    br = np.asarray(breaks, dtype=np.float64)
    cl = np.asarray(classes, dtype=np.float64)
    if len(cl) != len(br) + 1:
        raise ValueError("need len(classes) == len(breaks) + 1")
    if not np.all(np.diff(br) > 0):
        raise ValueError("breaks must be strictly increasing")

    def k(a: np.ndarray) -> np.ndarray:
        idx = np.searchsorted(br, a, side="right")
        out = cl[idx]
        return np.where(np.isfinite(a), out, np.nan).astype(np.float32)

    return k
