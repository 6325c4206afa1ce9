"""Round-6 pin: the pure-JVM pixel decode (sample.pixel_value_sql) is
bit-identical to codec.pixel_at for every format, including the q8
float32 chain (cast-to-float double rounding == direct float32 ops at
24-vs-53 bits) and the IEEE specials (NaN -> NULL, +/-Inf kept, i32
sentinel -> NULL). This is the invariant every slice-decode oracle
rests on since the ArrowEvalPython kernel was replaced."""

from __future__ import annotations

import math

import numpy as np

from rasters_spark import codec
from rasters_spark.operators.sample import pixel_value_sql

SCHEMA = "image_id string, bytes binary, w int, h int, fmt string, prow int, pcol int"


def _rows():
    rng = np.random.default_rng(7)
    rows = []
    bits = np.concatenate([
        rng.integers(0, 2**32, size=400, dtype=np.uint64).astype(np.uint32),
        np.array([0, 0x80000000, 0x7F800000, 0xFF800000, 0x7FC00000, 1,
                  0x007FFFFF, 0x00800000, 0x7F7FFFFF, 0x3F800000], dtype=np.uint32),
    ])
    for i, b in enumerate(bits):
        rows.append((f"raw{i}", bytearray(int(b).to_bytes(4, "little")), 1, 1, "raw", 0, 0))
    iv = np.concatenate([
        rng.integers(-2**31, 2**31, size=200, dtype=np.int64).astype(np.int32),
        np.array([codec.I32_NODATA, -1, 0, 2**31 - 1, -2**31 + 1], dtype=np.int32),
    ])
    for i, v in enumerate(iv):
        rows.append((f"i32{i}", bytearray(int(np.uint32(v)).to_bytes(4, "little")), 1, 1, "i32", 0, 0))
    for v in (0, 1):
        rows.append((f"b1{v}", bytearray([v]), 1, 1, "b1", 0, 0))
    pairs = [(0.0, 1000.0), (0.0, 0.0), (-5.25, 7.75), (1e-30, 2e-30),
             (-1000.0, -999.75), (3.25, 3.25)]
    f32r = rng.random(4).astype(np.float32) * 2000 - 1000
    pairs += [(float(min(a, b)), float(max(a, b))) for a, b in zip(f32r[::2], f32r[1::2])]
    k = 0
    for vmin, vmax in pairs:
        hdr = np.array([vmin, vmax], dtype="<f4").tobytes()
        for q in range(256):
            rows.append((f"q8_{k}", bytearray(hdr + bytes([q])), 1, 1, "q8", 0, 0))
            k += 1
    return rows


def test_pixel_value_sql_matches_pixel_at(spark):
    rows = _rows()
    df = spark.createDataFrame(rows, SCHEMA)
    out = (pixel_value_sql(df, "prow", "pcol")
           .select("image_id", "value").toPandas().set_index("image_id")["value"])
    bad = []
    for r in rows:
        ref = codec.pixel_at(bytes(r[1]), r[2], r[3], r[4], r[5], r[6])
        got = out[r[0]]
        if math.isnan(ref):
            ok = got is None or (isinstance(got, float) and math.isnan(got))
        elif math.isinf(ref):
            ok = got is not None and math.isinf(got) and (got > 0) == (ref > 0)
        else:
            ok = got is not None and float(got) == float(ref)
        if not ok:
            bad.append((r[0], r[4], got, ref))
    assert not bad, bad[:5]


def test_pixel_value_sql_offsets(spark):
    """Non-zero (prow, pcol) offsets slice the right pixel per format."""
    rng = np.random.default_rng(11)
    w, h = 7, 5
    rows = []
    for fmt in ("raw", "i32", "b1", "q8"):
        if fmt == "i32":
            arr = rng.integers(-5000, 5000, size=(h, w))
        elif fmt == "b1":
            arr = rng.integers(0, 2, size=(h, w))
        else:
            arr = (rng.integers(0, 4000, size=(h, w)).astype(np.float32)) * np.float32(0.25)
        blob = codec.encode_tile(arr, fmt)
        for pr, pc in ((0, 0), (2, 3), (h - 1, w - 1), (4, 0)):
            rows.append((f"{fmt}_{pr}_{pc}", bytearray(blob), w, h, fmt, pr, pc))
    df = spark.createDataFrame(rows, SCHEMA)
    out = (pixel_value_sql(df, "prow", "pcol")
           .select("image_id", "value").toPandas().set_index("image_id")["value"])
    for r in rows:
        ref = codec.pixel_at(bytes(r[1]), r[2], r[3], r[4], r[5], r[6])
        assert float(out[r[0]]) == float(ref), (r[0], out[r[0]], ref)
