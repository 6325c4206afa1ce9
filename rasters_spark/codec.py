"""Pixel codecs + the batched pixel decoder.

The tile table stores pixels as an opaque ``bytes: binary`` column with
``(w, h, fmt)`` metadata (BASELINE.json ``input_hint``). The sandbox has
no rasterio/PIL, so formats are self-decodable pure-numpy codecs:

- ``raw``  — little-endian float32, C-order ``(h, w)``. Lossless.
- ``q8``   — 8-byte header ``(vmin: f4, vmax: f4)`` + ``h·w`` uint8;
  255 reserved for NaN, values quantized over 0..254. Lossy; worst-case
  PSNR ≈ 20·log10(254·√12) ≈ 59 dB ≥ the 40 dB gate.
- ``i32``  — little-endian int32, C-order. Lossless integer family:
  NaN nodata is FORBIDDEN (reference raster.py:1217-1218 — integer
  rasters must use an explicit sentinel); INT32_MIN is the engine's
  sentinel and decodes back to NaN so every downstream float kernel
  keeps its NaN-nodata contract.
- ``b1``   — one byte per pixel, 0/1. Boolean family: no nodata at
  all; decodes to uint16 0/1 (the reference resamples bool via a
  uint16 shim, kdtree.py:293-310) — the float view is exact.

Pixel decode has two layers. Point reads decode inside the JVM
(``operators.sample.pixel_value_sql``, bit-exact against
:func:`pixel_at`): one hex/conv turns the pixel's bytes into a
big-endian bigint, and integer shifts and masks of it give the
little-endian float32/int32 fields — SQL has no byte swap, since
Spark's ``reverse(binary)`` reverses a UTF-8 string cast, not bytes. Whole tiles decode through ONE shape-batched
numpy decoder, :func:`decode_grouped`, which groups an Arrow batch by
``(w, h, fmt)`` and decodes each group with one ``frombuffer``; it is
the only whole-tile decoder, and every whole-tile operator reaches it
through the one runner ``tiles.map_groups`` — with a kernel per decode
group (resample, tile_stats, the focal strip cutter) or per tile
through ``tiles.map_tiles`` (halo operators through
``operators.focal.map_halo``) — or, for band stacks, through
``tiles.map_stacks``; only ``sample.sample_idw`` (point-struct rows)
and ``rastermath._decode_b`` (the second tile of a pair) call it
directly. :func:`decode_tile`, :func:`decode_tile_typed`
and :func:`pixel_at` are the per-tile references the tests compare
against; outside this module only the fixture writer, the media path
(``datapipe.multimodal._decode_media``, PNG/JPEG beside raw/q8) and
the NetCDF sink call :func:`decode_tile`.
phash is the reference-style integrity fingerprint (FIXTURES.md §1):
sign bits of an 8×8 block-mean downsample vs. its mean.
"""

from __future__ import annotations

import numpy as np

HEADER_Q8 = 8  # vmin f4 + vmax f4

#: nodata sentinel for the integer tile family (NaN forbidden for int
#: rasters, raster.py:1217-1218) — INT32_MIN, outside any fixture range.
I32_NODATA = -(2**31)

#: formats whose pixels are integral — sampling dispatch routes these to
#: nearest (raster.py:1295-1322: "integer rasters → nearest").
INT_FMTS = ("i32", "b1")


def is_int_fmt(fmt: str) -> bool:
    return fmt in INT_FMTS


def narrow_dtype(arr: np.ndarray) -> np.ndarray:
    """Write-time narrowing (raster.py:1559-1567): float64 → float32,
    int64 → int32, bool → uint16. Other dtypes pass through."""
    a = np.asarray(arr)
    if a.dtype == np.float64:
        return a.astype(np.float32)
    if a.dtype == np.int64:
        return a.astype(np.int32)
    if a.dtype == np.bool_:
        return a.astype(np.uint16)
    return a


def encode_tile(arr: np.ndarray, fmt: str = "raw") -> bytes:
    if fmt in INT_FMTS:
        a = np.asarray(arr)
        if np.issubdtype(a.dtype, np.floating):
            if np.isnan(a).any():
                raise ValueError(
                    "NaN nodata forbidden for integer rasters (raster.py:1217-1218); "
                    f"fill with I32_NODATA ({I32_NODATA}) first")
            a = np.rint(a)
        if fmt == "i32":
            return a.astype("<i4").tobytes(order="C")
        return (a != 0).astype(np.uint8).tobytes(order="C")
    a = np.asarray(arr, dtype=np.float32)
    if fmt == "raw":
        return a.astype("<f4", copy=False).tobytes(order="C")
    if fmt == "q8":
        valid = np.isfinite(a)
        if valid.any():
            vmin = float(np.nanmin(a))
            vmax = float(np.nanmax(a))
        else:
            vmin, vmax = 0.0, 0.0
        span = (vmax - vmin) or 1.0
        q = np.full(a.shape, 255, dtype=np.uint8)
        q[valid] = np.clip(np.rint((a[valid] - vmin) / span * 254.0), 0, 254).astype(np.uint8)
        header = np.array([vmin, vmax], dtype="<f4").tobytes()
        return header + q.tobytes(order="C")
    raise ValueError(f"unknown fmt: {fmt}")


def decode_tile(data: bytes, w: int, h: int, fmt: str = "raw") -> np.ndarray:
    """bytes → float (h, w) array, NaN = nodata (i32's INT32_MIN
    sentinel surfaces as NaN so every float kernel keeps its contract;
    use :func:`decode_tile_typed` for the native integer view)."""
    if fmt == "raw":
        return np.frombuffer(data, dtype="<f4", count=h * w).reshape(h, w).copy()
    if fmt == "i32":
        iv = np.frombuffer(data, dtype="<i4", count=h * w).reshape(h, w)
        out = iv.astype(np.float64)
        out[iv == I32_NODATA] = np.nan
        return out
    if fmt == "b1":
        return np.frombuffer(data, dtype=np.uint8, count=h * w).reshape(h, w).astype(np.float64)
    if fmt == "q8":
        vmin, vmax = np.frombuffer(data, dtype="<f4", count=2)
        q = np.frombuffer(data, dtype=np.uint8, offset=HEADER_Q8, count=h * w).reshape(h, w)
        span = (vmax - vmin) or np.float32(1.0)
        out = vmin + q.astype(np.float32) / np.float32(254.0) * span
        out[q == 255] = np.nan
        return out
    raise ValueError(f"unknown fmt: {fmt}")


def decode_tile_typed(data: bytes, w: int, h: int, fmt: str = "raw") -> np.ndarray:
    """Native-dtype decode: i32 → int32 (sentinel kept — ints carry no
    NaN), b1 → uint16 0/1 (the reference's bool-resampling shim dtype,
    kdtree.py:293-310), float formats → :func:`decode_tile`."""
    if fmt == "i32":
        return np.frombuffer(data, dtype="<i4", count=h * w).reshape(h, w).copy()
    if fmt == "b1":
        return np.frombuffer(data, dtype=np.uint8, count=h * w).reshape(h, w).astype(np.uint16)
    return decode_tile(data, w, h, fmt)


def phash64(arr: np.ndarray) -> int:
    """Stable 64-bit perceptual hash: 8×8 block-mean downsample, sign bits.

    NaNs contribute 0 to block means (nan_to_num) so the hash is total.
    Returned as a SIGNED int64 (parquet/Spark LongType friendly).
    """
    a = np.nan_to_num(np.asarray(arr, dtype=np.float64), nan=0.0)
    h, w = a.shape
    ry = np.linspace(0, h, 9).astype(int)
    rx = np.linspace(0, w, 9).astype(int)
    blocks = np.empty((8, 8), dtype=np.float64)
    for i in range(8):
        for j in range(8):
            blk = a[ry[i]:max(ry[i + 1], ry[i] + 1), rx[j]:max(rx[j + 1], rx[j] + 1)]
            blocks[i, j] = blk.mean() if blk.size else 0.0
    bits = (blocks > blocks.mean()).flatten()
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


def psnr(ref: np.ndarray, test: np.ndarray) -> float:
    """PSNR in dB over jointly-finite pixels; inf when identical."""
    m = np.isfinite(ref) & np.isfinite(test)
    if not m.any():
        return float("inf")
    err = ref[m] - test[m]
    mse = float(np.mean(err * err))
    if mse == 0.0:
        return float("inf")
    rng = float(ref[m].max() - ref[m].min()) or 1.0
    return 20.0 * np.log10(rng) - 10.0 * np.log10(mse)


def pixel_at(data: bytes, w: int, h: int, fmt: str, row: int, col: int) -> float:
    """Single-pixel fetch WITHOUT decoding the tile — O(1) per lookup.

    The nearest-sampling hot path: a point matched against a large tile
    stack (skewed cells) reads 4 bytes per pair instead of h·w·4.
    Semantically identical to decode_tile(...)[row, col].
    """
    off = row * w + col
    if fmt == "raw":
        return float(np.frombuffer(data, dtype="<f4", count=1, offset=4 * off)[0])
    if fmt == "i32":
        v = int(np.frombuffer(data, dtype="<i4", count=1, offset=4 * off)[0])
        return float("nan") if v == I32_NODATA else float(v)
    if fmt == "b1":
        return float(data[off])
    if fmt == "q8":
        vmin, vmax = np.frombuffer(data, dtype="<f4", count=2)
        q = data[HEADER_Q8 + off]
        if q == 255:
            return float("nan")
        span = float(vmax - vmin) or 1.0
        return float(np.float32(vmin) + np.float32(q) / np.float32(254.0) * np.float32(span))
    raise ValueError(f"unknown fmt: {fmt}")


#: the known pixel formats, in ``decode_grouped``'s per-shape group order
FMTS = ("raw", "i32", "b1", "q8")


def _decode_group(sub: np.ndarray, w: int, h: int, fmt: str, where) -> np.ndarray:
    """``m`` same-shape, same-fmt blobs → ``(m, h, w)`` in
    :func:`decode_tile`'s dtype. Count-bounded: trailing bytes are
    ignored, a short blob raises naming ``where(i)``."""
    m, n = len(sub), h * w
    size = HEADER_Q8 + n if fmt == "q8" else n * (1 if fmt == "b1" else 4)
    lens = np.fromiter(map(len, sub), np.int64, m)
    short = np.flatnonzero(lens < size)
    if len(short):
        i = short[0]
        raise ValueError(f"{where(i)}: a {w}x{h} {fmt} tile needs {size} bytes, "
                         f"got {lens[i]}")
    cat = b"".join(sub if (lens == size).all() else [b[:size] for b in sub])
    if fmt == "raw":
        return np.frombuffer(cat, "<f4").reshape(m, h, w)
    if fmt == "i32":
        iv = np.frombuffer(cat, "<i4").reshape(m, h, w)
        out = iv.astype(np.float64)
        out[iv == I32_NODATA] = np.nan
        return out
    if fmt == "b1":
        return np.frombuffer(cat, np.uint8).reshape(m, h, w).astype(np.float64)
    rec = np.frombuffer(cat, np.dtype([("vmin", "<f4"), ("vmax", "<f4"),
                                       ("q", np.uint8, (h, w))]))
    vmin, q = rec["vmin"][:, None, None], rec["q"]
    d = rec["vmax"] - rec["vmin"]
    span = np.where(d == 0, np.float32(1.0), d)[:, None, None]
    # decode_tile's float32 expression, broadcast over the group
    out = vmin + q.astype(np.float32) / np.float32(254.0) * span
    out[q == 255] = np.nan
    return out


def decode_grouped(blobs, ws, hs, fmts, ids=None):
    """Shape-batched decode of a batch of tiles: yields
    ``(positions, w, h, fmt, pixels)`` per distinct ``(w, h, fmt)``,
    where ``positions`` are ascending batch row indices and ``pixels``
    is ``(len(positions), h, w)`` in :func:`decode_tile`'s dtype for
    that fmt (raw/q8 float32, i32/b1 float64; NaN = nodata; raw may be
    a read-only view). Each group is one ``frombuffer`` — no Python
    loop per row. Errors name ``ids[i]`` (the ``image_id``) or, when
    ``ids`` is None, the batch row."""
    blobs = np.asarray(blobs, dtype=object)
    ws = np.asarray(ws, dtype=np.int64)
    hs = np.asarray(hs, dtype=np.int64)
    fmts = np.asarray(fmts, dtype=object)
    if len(blobs) == 0:
        return
    fi = np.full(len(fmts), -1, dtype=np.int64)
    for k, f in enumerate(FMTS):
        fi[fmts == f] = k

    def where(i):
        return f"image_id {ids[i]!r}" if ids is not None else f"row {i}"

    if (fi < 0).any():
        i = int(np.flatnonzero(fi < 0)[0])
        raise ValueError(f"{where(i)}: unknown fmt {fmts[i]!r}")
    order = np.lexsort((fi, hs, ws))
    keys = np.stack([ws[order], hs[order], fi[order]])
    starts = np.flatnonzero(np.r_[True, (keys[:, 1:] != keys[:, :-1]).any(axis=0)])
    for s, e in zip(starts, np.r_[starts[1:], len(order)]):
        pos = order[s:e]
        w, h, fmt = int(ws[pos[0]]), int(hs[pos[0]]), FMTS[fi[pos[0]]]
        yield pos, w, h, fmt, _decode_group(
            blobs[pos], w, h, fmt, lambda i: where(pos[i]))
