"""Codec round-trips, PSNR gate, phash stability, batched decode."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rasters_spark import codec


def _tile(h=32, w=16, seed=3):
    rng = np.random.default_rng(seed)
    a = (rng.integers(0, 4000, size=(h, w)).astype(np.float32)) * np.float32(0.25)
    a[rng.random((h, w)) < 0.05] = np.nan
    return a


def test_raw_roundtrip_lossless():
    a = _tile()
    b = codec.decode_tile(codec.encode_tile(a, "raw"), 16, 32, "raw")
    np.testing.assert_array_equal(np.isnan(a), np.isnan(b))
    np.testing.assert_array_equal(a[~np.isnan(a)], b[~np.isnan(b)])


def test_q8_roundtrip_psnr_gate():
    a = _tile(48, 64, seed=5)
    b = codec.decode_tile(codec.encode_tile(a, "q8"), 64, 48, "q8")
    np.testing.assert_array_equal(np.isnan(a), np.isnan(b))
    assert codec.psnr(a, b) >= 40.0  # BASELINE.json lossy invariant
    assert np.allclose(a[~np.isnan(a)], b[~np.isnan(b)], atol=(np.nanmax(a) - np.nanmin(a)) / 254 + 1e-6)


def test_q8_constant_and_all_nan():
    const = np.full((4, 4), 7.0, dtype=np.float32)
    assert codec.psnr(const, codec.decode_tile(codec.encode_tile(const, "q8"), 4, 4, "q8")) == float("inf")
    allnan = np.full((4, 4), np.nan, dtype=np.float32)
    out = codec.decode_tile(codec.encode_tile(allnan, "q8"), 4, 4, "q8")
    assert np.isnan(out).all()


def test_phash_stable_and_sensitive():
    a = _tile(32, 32, seed=9)
    h1 = codec.phash64(a)
    assert h1 == codec.phash64(a.copy())
    b = a.copy()
    b[:16] = np.nanmax(a) * 2
    assert codec.phash64(b) != h1
    assert -(1 << 63) <= h1 < (1 << 63)


def test_i32_roundtrip_and_sentinel_nodata():
    """Integer tile family: lossless int32 round trip; the INT32_MIN
    sentinel decodes to NaN (float view) but stays intact in the typed
    view — ints never carry NaN (raster.py:1217-1218)."""
    iv = np.arange(12, dtype=np.int32).reshape(3, 4) - 5
    iv[1, 2] = codec.I32_NODATA
    blob = codec.encode_tile(iv, "i32")
    assert len(blob) == 48
    typed = codec.decode_tile_typed(blob, 4, 3, "i32")
    assert typed.dtype == np.int32
    np.testing.assert_array_equal(typed, iv)
    flt = codec.decode_tile(blob, 4, 3, "i32")
    assert np.isnan(flt[1, 2])
    np.testing.assert_array_equal(flt[~np.isnan(flt)], iv[iv != codec.I32_NODATA])
    assert np.isnan(codec.pixel_at(blob, 4, 3, "i32", 1, 2))
    assert codec.pixel_at(blob, 4, 3, "i32", 0, 3) == -2.0


def test_i32_rejects_nan():
    a = np.array([[1.0, np.nan]], dtype=np.float32)
    with np.testing.assert_raises(ValueError):
        codec.encode_tile(a, "i32")
    # filled input is fine, and float integral values cast exactly
    filled = np.where(np.isnan(a), float(codec.I32_NODATA), a)
    out = codec.decode_tile_typed(codec.encode_tile(filled, "i32"), 2, 1, "i32")
    np.testing.assert_array_equal(out, [[1, codec.I32_NODATA]])


def test_b1_roundtrip_uint16_shim():
    """Bool tiles decode to uint16 0/1 (the reference's bool resampling
    shim, kdtree.py:293-310); no nodata in the bool family."""
    m = np.array([[True, False], [False, True]])
    blob = codec.encode_tile(m, "b1")
    assert len(blob) == 4
    typed = codec.decode_tile_typed(blob, 2, 2, "b1")
    assert typed.dtype == np.uint16
    np.testing.assert_array_equal(typed, m.astype(np.uint16))
    flt = codec.decode_tile(blob, 2, 2, "b1")
    assert not np.isnan(flt).any()
    np.testing.assert_array_equal(flt, m.astype(np.float64))
    assert codec.pixel_at(blob, 2, 2, "b1", 0, 0) == 1.0
    assert codec.pixel_at(blob, 2, 2, "b1", 0, 1) == 0.0


def test_narrow_dtype_write_rules():
    """raster.py:1559-1567: float64→float32, int64→int32, bool→uint16."""
    assert codec.narrow_dtype(np.zeros(2, np.float64)).dtype == np.float32
    assert codec.narrow_dtype(np.zeros(2, np.int64)).dtype == np.int32
    assert codec.narrow_dtype(np.zeros(2, np.bool_)).dtype == np.uint16
    assert codec.narrow_dtype(np.zeros(2, np.float32)).dtype == np.float32
    assert codec.narrow_dtype(np.zeros(2, np.int32)).dtype == np.int32


def _mixed_batch(rng, n=60):
    """Tiles of several shapes (1×1 included) in all four
    fmts: i32 INT32_MIN sentinels, q8 NaN bytes (255), all-NaN and
    constant q8 tiles, and random trailing padding."""
    shapes = [(1, 1), (3, 5), (16, 8), (53, 37)]
    blobs, ws, hs, fmts = [], [], [], []
    for i in range(n):
        w, h = shapes[rng.integers(len(shapes))]
        fmt = codec.FMTS[i % 4]
        if fmt == "i32":
            a = rng.integers(-(2**31) + 1, 2**31, (h, w))
            a[rng.random((h, w)) < 0.2] = codec.I32_NODATA
        elif fmt == "b1":
            a = rng.random((h, w)) < 0.5
        else:
            a = (rng.standard_normal((h, w)) * 1e3).astype(np.float32)
            a[rng.random((h, w)) < 0.2] = np.nan
            u = rng.random()
            if u < 0.2:
                a[:] = np.nan
            elif u < 0.3:
                a[:] = 7.25
        blobs.append(codec.encode_tile(a, fmt) + bytes(int(rng.integers(0, 4))))
        ws.append(w)
        hs.append(h)
        fmts.append(fmt)
    return blobs, ws, hs, fmts


@settings(max_examples=25, deadline=None)
@given(seed=st.integers(0, 2**32 - 1))
def test_decode_grouped_bit_identical_to_decode_tile(seed):
    """Every tile of a mixed batch decodes bit-for-bit (and in the same
    dtype) as the per-tile reference, each exactly once, grouped by
    (w, h, fmt) with ascending positions."""
    blobs, ws, hs, fmts = _mixed_batch(np.random.default_rng(seed))
    bits_of = {np.dtype(np.float32): np.uint32, np.dtype(np.float64): np.uint64}
    seen = np.zeros(len(blobs), dtype=int)
    for pos, w, h, fmt, px in codec.decode_grouped(blobs, ws, hs, fmts):
        assert px.shape == (len(pos), h, w)
        assert (np.diff(pos) > 0).all()
        for k, i in enumerate(pos):
            assert (ws[i], hs[i], fmts[i]) == (w, h, fmt)
            ref = codec.decode_tile(blobs[i], w, h, fmt)
            assert px.dtype == ref.dtype
            bits = bits_of[ref.dtype]
            np.testing.assert_array_equal(px[k].view(bits), ref.view(bits))
            seen[i] += 1
    assert (seen == 1).all()


def test_decode_grouped_errors_name_the_tile():
    blob = codec.encode_tile(np.zeros((3, 4), np.float32), "raw")
    with pytest.raises(ValueError, match=r"image_id 'img7'.*4x3 raw.*48 bytes, got 47"):
        list(codec.decode_grouped([blob, blob[:-1]], [4, 4], [3, 3], ["raw"] * 2,
                                  ids=["img6", "img7"]))
    with pytest.raises(ValueError, match=r"row 1: a 1x1 q8 tile needs 9 bytes, got 8"):
        list(codec.decode_grouped([b"\0" * 9, b"\0" * 8], [1, 1], [1, 1], ["q8"] * 2))
    with pytest.raises(ValueError, match="row 0: unknown fmt 'f16'"):
        list(codec.decode_grouped([b"\0" * 2], [1], [1], ["f16"]))


def test_padded_and_truncated_blobs_in_spark(spark, sf_dir):
    """Reads are count-bounded: trailing bytes change no tile_stats or
    to_grid_stat('med') row; a truncated blob fails naming its
    image_id instead of a bare reshape error."""
    from rasters_spark.operators import resample, stats
    from rasters_spark.tiles import load_tiles

    target = dict(x_origin=-180.0, y_origin=90.0, cell_width=0.25, cell_height=-0.25,
                  rows=720, cols=1440, crs="EPSG:4326")
    tiles = load_tiles(spark, sf_dir)
    # 0-9 trailing bytes, varying per tile
    padded = tiles.withColumn("bytes", F.concat(
        "bytes", F.expr("unhex(repeat('AB', cast(substring(image_id, -1, 1) as int)))")))

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(stats.tile_stats(padded)) == rows(stats.tile_stats(tiles))
    assert (rows(resample.to_grid_stat(padded, target, "med"))
            == rows(resample.to_grid_stat(tiles, target, "med")))
    victim = tiles.filter("fmt = 'raw'").orderBy("image_id").first().image_id
    truncated = tiles.withColumn("bytes", F.when(
        F.col("image_id") == victim,
        F.expr("substring(bytes, 1, length(bytes) - 1)")).otherwise(F.col("bytes")))
    with pytest.raises(Exception, match=victim):
        stats.tile_stats(truncated).collect()
    with pytest.raises(Exception, match=victim):
        resample.to_grid_stat(truncated, target, "med").collect()
