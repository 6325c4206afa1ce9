"""Multimodal column plumbing — image/audio/video as opaque binary.

The Spark-side contract (schema, partitioning, Arrow batch shape, UDF
signatures) is real and tested; the codec layer is pluggable:
``raw``/``q8`` decode is the engine's own pure-numpy codec, ``png`` is
REAL (stdlib zlib codec, functions/render.py), ``jpeg`` is REAL
(pure-numpy baseline ITU T.81 codec, functions/jpeg.py), and ``wav``
audio is REAL (stdlib RIFF/PCM codec below, `decode_wav`/`encode_wav` +
`audio_features`); compressed audio/video containers that need external
libs absent from this environment (mp3/mp4/webm/webp) are STUBS that
raise NotImplementedError — swap in ffmpeg/libvips decoders behind the
same interface on a real cluster.

Design for 100 TB: binary payloads never enter a shuffle — media
feature, audio and video-frame kernels are scan-side mapInPandas
stages, the tile resizes run on the engine's whole-tile runner
(``tiles.map_tiles``: raw/q8/i32/b1 through ``codec.decode_grouped``,
a short blob fails naming its image_id), and anything relational
(joins, dedup by phash) happens on the extracted skinny columns.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from rasters_spark import codec
from rasters_spark.tiles import map_tiles, raw_tile

#: the resize operators' raw output tiles
RESIZED_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string"
FEATURE_SCHEMA = "image_id string, fmt string, n_bytes long, width int, height int, mean double, std double, phash long"


def _decode_media(data: bytes, w: int, h: int, fmt: str) -> np.ndarray:
    if fmt in ("raw", "q8"):
        return codec.decode_tile(data, w, h, fmt)
    if fmt == "png":
        # real pure-python decoder for the engine's own PNG output
        # (functions/render.py — filter-0 gray/RGB); grayscale passes
        # through as float, RGB collapses to luma so downstream feature
        # kernels stay single-channel
        from rasters_spark.functions.render import decode_png

        img = decode_png(data)
        if img.ndim == 3:
            img = (0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2])
        return img.astype(np.float32)
    if fmt == "jpeg":
        # real pure-numpy baseline decoder (functions/jpeg.py, ITU T.81);
        # RGB collapses to luma so downstream feature kernels stay
        # single-channel
        from rasters_spark.functions.jpeg import decode_jpeg

        img = decode_jpeg(data).astype(np.float64)
        if img.ndim == 3:
            img = 0.299 * img[:, :, 0] + 0.587 * img[:, :, 1] + 0.114 * img[:, :, 2]
        return img.astype(np.float32)
    if fmt == "webp":
        raise NotImplementedError(
            "container format 'webp': plug a PIL/libvips decoder into "
            "rasters_spark.datapipe.multimodal._decode_media on a cluster with image libs"
        )
    if fmt == "wav":
        raise ValueError("wav is 1-D audio — use decode_wav/audio_features, not the image path")
    if fmt in ("mp3", "flac", "mp4", "webm"):
        raise NotImplementedError(f"audio/video format {fmt!r}: plug ffmpeg/torchaudio here")
    raise ValueError(f"unknown fmt: {fmt}")


# --- audio: real stdlib WAV (RIFF/PCM) codec ----------------------------------

def encode_wav(samples: np.ndarray, sample_rate: int = 16000) -> bytes:
    """int16 mono PCM → RIFF/WAVE bytes (spec: 'fmt ' chunk with
    audio_format 1, little-endian — pure struct, no external libs)."""
    import struct

    pcm = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt \
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE bytes → (mono int16 samples, sample_rate). Handles
    PCM16 mono/stereo (stereo collapses by exact integer mean) and
    skips unknown chunks per the RIFF spec."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, nch, pcm = 12, None, 1, None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body = data[pos + 8:pos + 8 + ln]
        if tag == b"fmt ":
            audio_fmt, nch, rate = struct.unpack("<HHI", body[:8])
            if audio_fmt != 1:
                raise NotImplementedError(f"WAV audio_format {audio_fmt}: only PCM here")
        elif tag == b"data":
            pcm = body
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if rate is None or pcm is None:
        raise ValueError("missing fmt /data chunk")
    s = np.frombuffer(pcm, dtype="<i2")
    if nch > 1:
        s = (s.reshape(-1, nch).astype(np.int32).sum(axis=1) // nch).astype(np.int16)
    return s, rate


def audio_features(audio: DataFrame, id_col: str = "image_id",
                   bytes_col: str = "bytes") -> DataFrame:
    """WAV column → (id, sample_rate, n_samples, duration_s, mean_amp,
    sum_sq, zero_crossings) in one scan-side Arrow pass. All features
    are exact-integer arithmetic (int64 sums of int16 samples/squares)
    so they are bit-reproducible in a SQL oracle — only duration_s is a
    (exact) division."""
    schema = (f"{id_col} string, sample_rate int, n_samples long, duration_s double, "
              "mean_amp double, sum_sq long, zero_crossings long")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                s, rate = decode_wav(getattr(r, bytes_col))
                s64 = s.astype(np.int64)
                rows.append({
                    id_col: getattr(r, id_col),
                    "sample_rate": rate,
                    "n_samples": int(s.size),
                    "duration_s": float(s.size / rate),
                    "mean_amp": float(s64.sum()) / s.size if s.size else None,
                    "sum_sq": int((s64 * s64).sum()),
                    "zero_crossings": int(((s[:-1] < 0) != (s[1:] < 0)).sum()) if s.size > 1 else 0,
                })
            yield pd.DataFrame(rows)

    return audio.select(id_col, bytes_col).mapInPandas(run, schema=schema)


def extract_features(tiles: DataFrame, on_error: str = "null") -> DataFrame:
    """Decode → per-item features (dims, mean/std, phash) in one Arrow
    pass. ``on_error='null'`` yields NULL features for undecodable
    formats instead of failing the stage (quarantine-and-continue, the
    sane 10^12-row behavior); 'raise' propagates."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                base = {"image_id": r.image_id, "fmt": r.fmt, "n_bytes": len(r.bytes)}
                try:
                    arr = _decode_media(r.bytes, int(r.w), int(r.h), r.fmt)
                    # float64 BEFORE reducing: exact sums for quantized pixel
                    # values → cross-engine-reproducible means
                    valid = arr[np.isfinite(arr)].astype(np.float64)
                    rows.append({**base, "width": int(arr.shape[1]), "height": int(arr.shape[0]),
                                 "mean": float(valid.mean()) if valid.size else None,
                                 "std": float(valid.std()) if valid.size else None,
                                 "phash": codec.phash64(arr)})
                except (NotImplementedError, ValueError):
                    if on_error == "raise":
                        raise
                    rows.append({**base, "width": None, "height": None,
                                 "mean": None, "std": None, "phash": None})
            yield pd.DataFrame(rows)

    return tiles.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(run, schema=FEATURE_SCHEMA)


def resize_nearest(tiles: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Per-item nearest-neighbor resize (raster.py:1262-1281 order-0
    path) — index-grid sampling in numpy, re-encoded raw."""
    def kernel(arr, h, w):
        ri = np.minimum((np.arange(out_h) * h / out_h).astype(int), h - 1)
        ci = np.minimum((np.arange(out_w) * w / out_w).astype(int), w - 1)
        fmt, blob = raw_tile(arr[np.ix_(ri, ci)])
        return blob, [out_w], [out_h], fmt

    return map_tiles(tiles, kernel, RESIZED_SCHEMA)


def resize_spline(tiles: DataFrame, out_w: int, out_h: int, order: int = 1) -> DataFrame:
    """Per-item spline resize, all six reference orders 0–5
    (raster.py:1262-1281 / constants.py:30-37 nearest/linear/quadratic/
    cubic/quartic/quintic — name dispatch via spline.order_for_method).
    True interpolating splines via the Unser prefilter
    (rasters_spark.spline; scipy/skimage absent from this environment).
    Center-aligned mapping, NaN propagates. → re-encoded raw tiles
    (image_id, bytes, w, h, fmt).
    """
    from rasters_spark import spline

    def kernel(arr, h, w):
        fmt, blob = raw_tile(spline.resize(arr, out_h, out_w, order))
        return blob, [out_w], [out_h], fmt

    return map_tiles(tiles, kernel, RESIZED_SCHEMA)


def raster_rescale(tiles: DataFrame, target_cell_size: float, order: int = 1) -> DataFrame:
    """Raster.rescale: derive the rescaled grid (same extent, new cell
    size, ceil shape — RasterGrid.resolution semantics,
    raster_grid.py:576-615) and spline-resize the pixels to ITS shape;
    method↔order per SKIMAGE_RESAMPLING_METHODS (constants.py:30-37,
    all six orders 0–5 via spline.order_for_method).

    DOCUMENTED DEVIATION from raster.py:1265-1281: the reference calls
    ``skimage.transform.resize(self.array, (self.rows, self.cols))`` —
    its OWN current shape, a no-op resize — and then attaches the
    rescaled geometry, leaving the array/geometry shapes inconsistent.
    That is a reference bug (copying it would produce rasters whose
    data doesn't match their grid); the engine resizes the data to the
    derived grid's shape instead. → re-encoded tiles with updated
    georeferencing columns."""
    import math

    from rasters_spark import spline

    def kernel(arr, h, w, cell_width, cell_height):
        out_cols = int(math.ceil(cell_width * w / target_cell_size))
        out_rows = int(math.ceil(-cell_height * h / target_cell_size))
        fmt, blob = raw_tile(spline.resize(arr, out_rows, out_cols, order))
        return (blob, [out_cols], [out_rows], fmt,
                [float(target_cell_size)], [float(-target_cell_size)])

    return map_tiles(tiles, kernel, RESIZED_SCHEMA + ", x_origin double, y_origin double, "
                     "cell_width double, cell_height double",
                     keep=("image_id", "x_origin", "y_origin"), meta=("cell_width", "cell_height"))


def resize_bilinear_long(tiles: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Order-1 resize in RELATIONAL long form (image_id, orow, ocol,
    value) — the oracle-checkable face of resize_spline(order=1): the
    output pixel grid is exploded in SQL, the 4 taps are read by the
    JVM pixel decode (``sample.pixel_value_sql``, bit-exact against
    ``codec.pixel_at``; the q8 header decodes once per tile, before the
    explodes, which keeps the stage under janino's method limit), and
    the blend is the SAME shared SQL text as to_grid_conv's bilinear.
    NaN taps → NULL."""
    from pyspark.sql import functions as F

    from rasters_spark.operators.resample import bilinear_weights_sql, conv_blend_sql
    from rasters_spark.operators.sample import pixel_value_sql, with_q8_header

    d = (with_q8_header(tiles.select("image_id", "bytes", "w", "h", "fmt"))
         .selectExpr("*", f"explode(sequence(0, {out_h - 1})) AS orow")
         .selectExpr("*", f"explode(sequence(0, {out_w - 1})) AS ocol")
         .selectExpr("*", f"(orow + 0.5) * h / {out_h}.0 - 0.5 AS fr", f"(ocol + 0.5) * w / {out_w}.0 - 0.5 AS fc"))
    d = d.selectExpr("*", "fc - floor(fc) AS dc", "fr - floor(fr) AS dr", *(
        f"least(greatest(cast(floor(f{a}) as bigint) + ({i}), 0), {n} - 1) AS {a}{a}_{i}"
        for a, n in (("r", "h"), ("c", "w")) for i in (0, 1)))
    for i in (0, 1):
        for j in (0, 1):
            d = pixel_value_sql(d, f"rr_{i}", f"cc_{j}", f"v_{i}_{j}")
    d = d.withColumn("value", F.expr(conv_blend_sql(bilinear_weights_sql, (0, 1))))
    return d.select("image_id", "orow", "ocol", "value")


def frame_sample(videos: DataFrame, every_n: int = 10,
                 decoder: Callable[[bytes], np.ndarray] | None = None) -> DataFrame:
    """Video → sampled frames plumbing: (video_id, frame_no, frame_bytes).
    The real decoder is a stub (no ffmpeg here); a deterministic fake
    treats the payload as a stack of raw float32 frames so the
    partitioning/explode shape is tested end-to-end."""
    schema = "video_id string, frame_no int, frame_bytes binary"

    def fake_decoder(data: bytes, w: int, h: int) -> np.ndarray:
        frame = w * h * 4
        n = len(data) // frame
        return np.frombuffer(data[: n * frame], dtype="<f4").reshape(n, h, w)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                if r.fmt in ("mp4", "webm") and decoder is None:
                    raise NotImplementedError("plug an ffmpeg frame decoder for real containers")
                stack = (decoder or (lambda b: fake_decoder(b, int(r.w), int(r.h))))(r.bytes)
                for i in range(0, stack.shape[0], every_n):
                    rows.append({"video_id": r.image_id, "frame_no": i,
                                 "frame_bytes": codec.encode_tile(stack[i], "raw")})
            yield pd.DataFrame(rows) if rows else pd.DataFrame({"video_id": [], "frame_no": [], "frame_bytes": []})

    return videos.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(run, schema=schema)
