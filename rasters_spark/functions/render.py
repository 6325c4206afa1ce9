"""Colormap rendering → PNG bytes, with a pure-stdlib PNG codec.

The reference's display path (raster.py:2158-2219 ``to_pillow``:
stretch → colormap LUT → uint8 image) needs PIL; this environment has
none, so the encoder is a minimal correct PNG writer (zlib + chunk CRCs,
8-bit grayscale or RGB, filter 0) — ~30 lines of stdlib. Output is a
``binary`` column suitable for the multimodal pipeline's ``fmt='png'``
slot; a matching decoder exists for round-trip tests.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
from pyspark.sql import DataFrame

from rasters_spark.tiles import map_tiles

# 4-stop grayscale→viridis-ish LUT (deterministic, no matplotlib)
_LUT_STOPS = np.array([
    [68, 1, 84], [59, 82, 139], [33, 145, 140], [253, 231, 37]
], dtype=np.float64)


def _chunk(tag: bytes, data: bytes) -> bytes:
    return struct.pack(">I", len(data)) + tag + data + struct.pack(">I", zlib.crc32(tag + data))


def encode_png(img: np.ndarray) -> bytes:
    """uint8 (h,w) grayscale or (h,w,3) RGB → PNG (filter 0)."""
    if img.ndim == 2:
        color_type, px = 0, img[:, :, None]
    else:
        color_type, px = 2, img
    h, w = px.shape[:2]
    raw = b"".join(b"\x00" + px[r].tobytes() for r in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw)) + _chunk(b"IEND", b""))


def decode_png(data: bytes) -> np.ndarray:
    """Decoder for PNGs this module wrote (filter 0 only)."""
    assert data[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
    pos, idat, w = 8, b"", None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + length]
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
            nch = {0: 1, 2: 3}[ctype]
        elif tag == b"IDAT":
            idat += body
        pos += 12 + length
    rows = zlib.decompress(idat)
    stride = w * nch + 1
    out = np.frombuffer(rows, dtype=np.uint8).reshape(h, stride)
    assert (out[:, 0] == 0).all(), "only filter 0 supported"
    img = out[:, 1:].reshape(h, w, nch)
    return img[:, :, 0] if nch == 1 else img


def _apply_lut(norm: np.ndarray) -> np.ndarray:
    """[0,1] → RGB via piecewise-linear LUT; NaN → black."""
    t = np.nan_to_num(np.clip(norm, 0.0, 1.0), nan=0.0) * (len(_LUT_STOPS) - 1)
    i0 = np.clip(t.astype(int), 0, len(_LUT_STOPS) - 2)
    frac = (t - i0)[..., None]
    rgb = _LUT_STOPS[i0] * (1 - frac) + _LUT_STOPS[i0 + 1] * frac
    rgb[np.isnan(norm)] = 0.0
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def _stretch_image(arr: np.ndarray, lo_pct: float, hi_pct: float, gray: bool) -> np.ndarray:
    """The to_pillow image (raster.py:2158-2219): percentile stretch,
    then a linear uint8 gray ramp (``gray``) or the LUT's RGB."""
    lo = np.nanpercentile(arr, lo_pct)
    hi = np.nanpercentile(arr, hi_pct)
    span = (hi - lo) or 1.0
    norm = (arr - lo) / span
    if gray:
        return np.clip(np.rint(np.nan_to_num(norm, nan=0.0) * 255), 0, 255).astype(np.uint8)
    return _apply_lut(norm)


def render_png(tiles: DataFrame, mode: str = "rgb", lo_pct: float = 2.0, hi_pct: float = 98.0) -> DataFrame:
    """raster.py:2158-2219 pipeline: percentile stretch → LUT (rgb) or
    linear gray → PNG bytes. → (image_id, png binary, w, h)."""
    def kernel(arr, h, w):
        return [encode_png(_stretch_image(arr, lo_pct, hi_pct, mode == "gray"))], [w], [h]

    return map_tiles(tiles, kernel, "image_id string, png binary, w int, h int")


def render_jpeg(tiles: DataFrame, mode: str = "rgb", quality: int = 95,
                lo_pct: float = 2.0, hi_pct: float = 98.0) -> DataFrame:
    """Raster.to_geojpeg's render half (raster.py:1832-1865 family):
    percentile stretch → LUT (rgb) or linear gray → baseline JPEG
    (functions/jpeg.py, pure numpy). → (image_id, jpeg binary, w, h)."""
    from rasters_spark.functions.jpeg import encode_jpeg

    def kernel(arr, h, w):
        img = _stretch_image(arr, lo_pct, hi_pct, mode == "gray")
        return [encode_jpeg(img, quality=quality)], [w], [h]

    return map_tiles(tiles, kernel, "image_id string, jpeg binary, w int, h int")


def world_file(x_origin: float, y_origin: float,
               cell_width: float, cell_height: float) -> str:
    """The 6-line ESRI world file (.jgw/.pgw — public format) that
    georeferences a rendered JPEG/PNG: pixel sizes, rotation terms,
    CENTER-of-top-left-pixel coordinates."""
    return "\n".join(f"{v:.10f}" for v in (
        cell_width, 0.0, 0.0, cell_height,
        x_origin + cell_width / 2.0, y_origin + cell_height / 2.0)) + "\n"


def save_geojpegs(tiles: DataFrame, out_dir: str, mode: str = "rgb",
                  quality: int = 95) -> None:
    """Raster.to_geojpeg (raster.py:1832-1865): executor-side sink —
    each rendered tile lands as ``<image_id>.jpg`` + ``<image_id>.jgw``
    world file (the lib-free georeferencing sidecar). Same distributed
    shape as save_geotiffs: no driver funnel."""
    import os

    from rasters_spark.functions.jpeg import encode_jpeg

    os.makedirs(out_dir, exist_ok=True)

    def kernel(arr, h, w, iid, x0, y0, cw, ch):
        with open(os.path.join(out_dir, f"{iid}.jpg"), "wb") as fh:
            fh.write(encode_jpeg(_stretch_image(arr, 2.0, 98.0, mode != "rgb"),
                                 quality=quality))
        with open(os.path.join(out_dir, f"{iid}.jgw"), "w") as fh:
            fh.write(world_file(x0, y0, cw, ch))
        return ([1],)

    map_tiles(tiles, kernel, "n long", keep=(),
              meta=("image_id", "x_origin", "y_origin", "cell_width", "cell_height")
              ).agg({"n": "sum"}).collect()
