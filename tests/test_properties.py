"""Property-based pins (hypothesis) for the closed-form grid/cell math.

The reference's own suite is example-based (SURVEY §5); these properties
cover the adversarial corners examples miss: banker's-rounding
boundaries, degenerate bboxes, seam-adjacent footprints. Pure
numpy/python — no Spark session (the SQL expressions are transcriptions
of npref, which round-1/2 oracle runs pin against Spark bit-for-bit).
"""

import numpy as np
from hypothesis import assume, example, given, settings
from hypothesis import strategies as st

from rasters_spark import npref

finite = st.floats(allow_nan=False, allow_infinity=False, width=64)
coord = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False)
cellsize = st.floats(min_value=1e-3, max_value=100.0, allow_nan=False)


@settings(max_examples=300, deadline=None)
@given(x=coord, y=coord, x0=coord, y0=coord, cw=cellsize, ch=cellsize)
def test_index_point_cell_contains_point(x, y, x0, y0, cw, ch):
    """A point's assigned cell center is within half a cell of the point
    (banker's rounding picks the NEAREST center, ties to even index)."""
    row, col = npref.index_point(x, y, x0, y0, cw, -ch)
    cx, cy = npref.cell_center(row, col, x0, y0, cw, -ch)
    assert abs(cx - x) <= cw / 2 * (1 + 1e-9) + 1e-9 * max(abs(x), abs(x0))
    assert abs(cy - y) <= ch / 2 * (1 + 1e-9) + 1e-9 * max(abs(y), abs(y0))


@settings(max_examples=300, deadline=None)
@given(k=st.integers(min_value=-1000, max_value=1000),
       x0=st.floats(min_value=-100, max_value=100, allow_nan=False),
       cw=st.sampled_from([0.25, 0.5, 1.0, 1 / 16, 1 / 32]))
def test_index_point_half_cell_ties_round_even(k, x0, cw):
    """Exact cell-EDGE points (half-integer inverse affine) tie-break to
    the even index — the reference's np.round behavior."""
    # x exactly on the edge between cells k-1 and k: fractional index k-0.5
    x = x0 + cw * k
    _, col = npref.index_point(x, 0.0, x0, 0.0, cw, -1.0)
    frac = (x - x0) / cw - 0.5  # = k - 0.5 up to fp error
    lo = int(np.floor(frac))
    hi = int(np.ceil(frac))
    assert col in (lo, hi)
    if frac == k - 0.5:  # an EXACT tie in float (inexact x0 can knock
        # the fraction off the tie by an ulp — then nearest wins, not even)
        assert col % 2 == 0, f"tie at {frac} must round to even, got {col}"


@settings(max_examples=200, deadline=None)
@given(xmin=coord, ymin=coord, dx=st.floats(min_value=0, max_value=1e3),
       dy=st.floats(min_value=0, max_value=1e3),
       x0=coord, y0=coord, cw=cellsize, ch=cellsize,
       rows=st.integers(1, 500), cols=st.integers(1, 500))
def test_window_for_bbox_clamped_and_consistent(xmin, ymin, dx, dy, x0, y0, cw, ch, rows, cols):
    rs, cs, re, ce, oob = npref.window_for_bbox(
        xmin, ymin, xmin + dx, ymin + dy, x0, y0, cw, -ch, rows, cols)
    assert re <= rows and ce <= cols and rs >= 0 and cs >= 0
    if not oob:
        # the engine contract: consumers filter ~oob BEFORE using the
        # clamped indices (disjoint bboxes may clamp outside the grid)
        assert rs <= rows and cs <= cols
    if not oob and re > rs and ce > cs:
        # every in-window cell center's assigned index is in-window
        midr, midc = (rs + re - 1) // 2, (cs + ce - 1) // 2
        cx, cy = npref.cell_center(midr, midc, x0, y0, cw, -ch)
        r2, c2 = npref.index_point(cx, cy, x0, y0, cw, -ch)
        assert (r2, c2) == (midr, midc)  # center↔index round-trip


@settings(max_examples=200, deadline=None)
@given(lon=st.floats(min_value=-180, max_value=180, allow_nan=False),
       lat=st.floats(min_value=-90, max_value=90, allow_nan=False),
       level=st.integers(0, 12))
def test_cell_id_roundtrip_contains_point(lon, lat, level):
    cid = int(npref.np_cell_id(lon, lat, level))
    size = 180.0 / (1 << level)
    ix = cid & ((1 << 28) - 1)
    iy = (cid >> 28) & ((1 << 28) - 1)
    # the cell's lon/lat extent contains the point (modulo clamping at
    # the exact +180/-90 edges)
    lo_x, hi_x = -180 + ix * size, -180 + (ix + 1) * size
    hi_y, lo_y = 90 - iy * size, 90 - (iy + 1) * size
    assert lo_x - 1e-9 <= lon <= hi_x + size + 1e-9
    assert lo_y - size - 1e-9 <= lat <= hi_y + 1e-9


@settings(max_examples=100, deadline=None)
@given(vals=st.lists(st.integers(0, 400), min_size=1, max_size=60),
       keys=st.lists(st.integers(0, 5), min_size=1, max_size=60))
def test_segment_stat_properties(vals, keys):
    from rasters_spark.operators.resample import _segment_stat
    n = min(len(vals), len(keys))
    v = np.array(vals[:n], dtype=np.float64) * 0.25
    k = np.array(keys[:n], dtype=np.int64)
    for stat in ("min", "max", "med", "q1", "q3", "mode"):
        gk, gv, gn = _segment_stat(k, v, stat)
        ek, ev, en = npref.segment_stat_naive(k, v, stat)
        assert np.array_equal(gk, ek) and np.array_equal(gn, en)
        assert np.allclose(gv, ev)
        # order statistics stay inside the segment's range
        for kk, vv in zip(gk, gv):
            seg = v[k == kk]
            assert seg.min() - 1e-12 <= vv <= seg.max() + 1e-12


def _segment_stat_lexsort(key, val, stat):
    """Reference ``_segment_stat``: one global ``np.lexsort((val, key))``."""
    order = np.lexsort((val, key))
    k, v = key[order], val[order]
    starts = np.flatnonzero(np.r_[True, k[1:] != k[:-1]])
    counts = np.diff(np.r_[starts, len(k)])
    if stat == "min":
        out = v[starts]
    elif stat == "sum":
        out = np.add.reduceat(v, starts)
    elif stat == "max":
        out = v[starts + counts - 1]
    elif stat in ("med", "q1", "q3"):
        pos = starts + (counts - 1) * {"med": 0.5, "q1": 0.25, "q3": 0.75}[stat]
        lo, hi = np.floor(pos).astype(np.int64), np.ceil(pos).astype(np.int64)
        frac = pos - lo
        out = v[lo] * (1.0 - frac) + v[hi] * frac
    else:  # mode: longest run of equal values, the smallest on ties
        out = np.empty(len(starts))
        for i, (s, c) in enumerate(zip(starts, counts)):
            vals, runs = np.unique(v[s:s + c], return_counts=True)
            out[i] = v[s:s + c][np.searchsorted(v[s:s + c], vals[np.argmax(runs)])]
    return k[starts], out, counts


def _cell_sums_add_at(key, val):
    """Reference ``_cell_sums``: ``np.unique`` + ``np.add.at``."""
    uniq, inv = np.unique(key, return_inverse=True)
    sums = np.zeros(len(uniq))
    np.add.at(sums, inv, val)
    return uniq, sums, np.bincount(inv, minlength=len(uniq))


def _bits(a):
    return a.view(np.int64) if a.dtype.kind == "f" else a


#: a tie-heavy value pool with both signed zeros, mixed with any float
_seg_val = st.one_of(st.sampled_from([-0.0, 0.0, 0.25, -0.25, 1.0, 2.5]),
                     st.floats(allow_nan=False, width=64))


@st.composite
def _segment_pairs(draw):
    """Unsorted (key, value) pairs: up to 200 short-segment pairs over
    64 keys, optionally one ≥4,096-pair segment of ties and signed
    zeros (several length classes), keys offset to just below 2**53."""
    keys = draw(st.lists(st.integers(0, 63), max_size=200))
    vals = draw(st.lists(_seg_val, min_size=len(keys), max_size=len(keys)))
    long_n = draw(st.sampled_from([0, 0, 4096, 5000]))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    k = np.r_[np.array(keys, np.int64), np.full(long_n, 64, np.int64)]
    v = np.r_[np.array(vals, np.float64), rng.choice([-0.0, 0.0, 0.5, -7.25], long_n)]
    perm = rng.permutation(len(k))
    return k[perm] + draw(st.sampled_from([0, 2**53 - 65])), v[perm]


_EMPTY = (np.array([], np.int64), np.array([], np.float64))
_SINGLES = (np.array([9, 3, 7, 1], np.int64), np.array([-0.0, 0.0, 2.5, -0.0]))


@settings(max_examples=200, deadline=None)
@given(pairs=_segment_pairs())
@example(pairs=_EMPTY)
@example(pairs=_SINGLES)
def test_sorted_segments_is_lexsort_order(pairs):
    """``resample._sorted_segments`` returns exactly the pairs of one
    global lexsort, bit for bit (signed zeros in the same slots), and
    no padded length class holds 2× its segments' pixels or more."""
    from rasters_spark.operators.resample import _length_classes, _sorted_segments
    key, val = pairs
    k, v, starts, counts = _sorted_segments(key, val)
    order = np.lexsort((val, key))
    assert np.array_equal(k, key[order])
    assert np.array_equal(v.view(np.int64), val[order].view(np.int64))
    assert counts.sum() == len(key) and np.array_equal(np.unique(key), k[starts])
    seen = np.zeros(len(counts), dtype=int)
    for sel, width in _length_classes(counts):
        assert width * len(sel) < 2 * counts[sel].sum()
        assert (counts[sel] <= width).all()
        seen[sel] += 1
    assert np.array_equal(seen, counts > 1)


@settings(max_examples=200, deadline=None)
@given(pairs=_segment_pairs())
@example(pairs=_SINGLES)
def test_segment_reducers_match_lexsort_and_add_at(pairs):
    """All seven ``_segment_stat`` stats and ``_cell_sums`` equal the
    global-lexsort / ``np.add.at`` references bit for bit."""
    from rasters_spark.operators.resample import _cell_sums, _segment_stat
    key, val = pairs
    assume(len(key))
    with np.errstate(invalid="ignore"):  # ±inf · 0 weights, inf + −inf sums
        outs = {stat: (_segment_stat(key, val, stat), _segment_stat_lexsort(key, val, stat))
                for stat in ("min", "max", "med", "q1", "q3", "mode", "sum")}
        outs["sums"] = (_cell_sums(key, val), _cell_sums_add_at(key, val))
    for name, (got, want) in outs.items():
        for g, w in zip(got, want):
            assert np.array_equal(_bits(g), _bits(w)), name


def _spread(v: int) -> int:
    out = 0
    for i in range(28):
        out |= ((v >> i) & 1) << (2 * i)
    return out


@settings(max_examples=300, deadline=None)
@given(ix=st.integers(min_value=0, max_value=(1 << 28) - 1),
       iy=st.integers(min_value=0, max_value=(1 << 28) - 1))
def test_morton_magic_masks_equal_per_bit_interleave(ix, iy):
    """The 5-step magic-mask dilation (cells._SPREAD_MASKS) equals the
    per-bit definition for the full 28-bit domain, and the interleave
    is a bijection (deinterleave recovers both inputs)."""
    def magic(v: int) -> int:
        for shift, mask in [(16, 0x0000FFFF0000FFFF), (8, 0x00FF00FF00FF00FF),
                            (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333),
                            (1, 0x5555555555555555)]:
            v = (v << shift | v) & mask
        return v

    assert magic(ix) == _spread(ix)
    z = (magic(iy) << 1) | magic(ix)
    # deinterleave by bit extraction
    rx = sum(((z >> (2 * i)) & 1) << i for i in range(28))
    ry = sum(((z >> (2 * i + 1)) & 1) << i for i in range(28))
    assert (rx, ry) == (ix, iy)


@settings(max_examples=200, deadline=None)
@given(ix=st.integers(min_value=0, max_value=(1 << 27) - 2),
       iy=st.integers(min_value=0, max_value=(1 << 26) - 2),
       k=st.integers(min_value=1, max_value=8))
def test_morton_block_prefix_property(ix, iy, k):
    """Cells sharing the same (ix>>k, iy>>k) block share the z-id high
    bits (the 2k low interleaved bits vary) — the hierarchical-range
    property min-max pruning exploits at every granularity."""
    z = (_spread(iy) << 1) | _spread(ix)
    z_base = (_spread((iy >> k) << k) << 1) | _spread((ix >> k) << k)
    # every cell of the block shares the base cell's z-prefix above 2k bits
    assert z >> (2 * k) == z_base >> (2 * k)
    # and a cell from the NEXT x-block does not
    z_next = (_spread(iy) << 1) | _spread(((ix >> k) + 1) << k)
    assert z_next >> (2 * k) != z >> (2 * k)


@settings(max_examples=200, deadline=None)
@given(samples=st.lists(st.integers(min_value=-32768, max_value=32767), min_size=0, max_size=64),
       rate=st.sampled_from([8000, 16000, 44100, 48000]))
def test_wav_codec_roundtrip_property(samples, rate):
    """encode_wav∘decode_wav is the identity on any int16 signal at any
    rate (container framing is lossless, including the empty signal)."""
    from rasters_spark.datapipe.multimodal import decode_wav, encode_wav

    s = np.array(samples, dtype=np.int16)
    back, r2 = decode_wav(encode_wav(s, rate))
    assert r2 == rate and np.array_equal(back, s)


@settings(max_examples=200, deadline=None)
@given(vals=st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1),
                     min_size=1, max_size=64),
       w=st.integers(min_value=1, max_value=8))
def test_i32_codec_identity_property(vals, w):
    """i32 tiles round-trip EVERY int32 value bit-exactly; the
    INT32_MIN sentinel (and only it) surfaces as NaN in the float view."""
    from rasters_spark import codec

    h = (len(vals) + w - 1) // w
    a = np.zeros((h, w), np.int32)
    a.flat[:len(vals)] = np.array(vals, np.int64).astype(np.int32)
    blob = codec.encode_tile(a, "i32")
    assert len(blob) == 4 * h * w
    back = codec.decode_tile_typed(blob, w, h, "i32")
    np.testing.assert_array_equal(back, a)
    flt = codec.decode_tile(blob, w, h, "i32")
    np.testing.assert_array_equal(np.isnan(flt), a == codec.I32_NODATA)
    np.testing.assert_array_equal(flt[~np.isnan(flt)].astype(np.int64),
                                  a[a != codec.I32_NODATA].astype(np.int64))
    for r in range(h):
        for c in range(w):
            got = codec.pixel_at(blob, w, h, "i32", r, c)
            if a[r, c] == codec.I32_NODATA:
                assert np.isnan(got)
            else:
                assert got == float(a[r, c])


@settings(max_examples=200, deadline=None)
@given(bits=st.lists(st.booleans(), min_size=1, max_size=96),
       w=st.integers(min_value=1, max_value=12))
def test_b1_codec_identity_property(bits, w):
    """Bool tiles: 1 byte/pixel, uint16 typed view (the reference's
    bool-resampling shim dtype), no nodata, float view exact 0/1."""
    from rasters_spark import codec

    h = (len(bits) + w - 1) // w
    a = np.zeros((h, w), np.bool_)
    a.flat[:len(bits)] = bits
    blob = codec.encode_tile(a, "b1")
    assert len(blob) == h * w
    back = codec.decode_tile_typed(blob, w, h, "b1")
    assert back.dtype == np.uint16
    np.testing.assert_array_equal(back.astype(bool), a)
    flt = codec.decode_tile(blob, w, h, "b1")
    assert not np.isnan(flt).any()
    np.testing.assert_array_equal(flt, a.astype(np.float64))


pixval = st.one_of(
    st.floats(min_value=0.0, max_value=1024.0, allow_nan=False, width=32),
    st.just(float("nan")))


@settings(max_examples=100, deadline=None)
@given(st.lists(pixval, min_size=4, max_size=64))
def test_reclassify_kernel_total_and_closed(vals):
    """Every finite input maps into the class set; NaN passes through;
    band edges are half-open (searchsorted-right)."""
    from rasters_spark.operators import rastermath as rm

    breaks, classes = [256.0, 512.0, 768.0], [1.0, 2.0, 3.0, 4.0]
    a = np.array(vals, dtype=np.float64)
    out = rm.reclassify(breaks, classes)(a)
    fin = np.isfinite(a)
    assert set(np.unique(out[fin])) <= set(classes)
    assert np.all(np.isnan(out[~fin]))
    for v, o in zip(a[fin], out[fin]):
        k = sum(v >= b for b in breaks)
        assert o == classes[k]


@settings(max_examples=60, deadline=None)
@given(st.integers(2, 6), st.integers(2, 6), st.integers(0, 2**32 - 1))
def test_integral_image_corner_is_nansum(h, w, seed):
    """SAT bottom-right corner equals the masked total; nsat corner
    equals the valid count (prefix-sum soundness)."""
    from rasters_spark.operators.stats import np as _np  # noqa: F401

    rng = np.random.default_rng(seed)
    a = (rng.integers(0, 4096, (h, w)) * 0.25).astype(np.float64)
    a[rng.random((h, w)) < 0.2] = np.nan
    m = np.isfinite(a)
    sat = np.where(m, a, 0.0).cumsum(axis=0).cumsum(axis=1)
    assert sat[-1, -1] == np.where(m, a, 0.0).sum()
    nsat = m.astype(np.int64).cumsum(axis=0).cumsum(axis=1)
    assert nsat[-1, -1] == int(m.sum())


@settings(max_examples=60, deadline=None)
@given(st.integers(1, 5), st.integers(1, 5), st.integers(0, 2**32 - 1))
def test_augment_involutions(h, w, seed):
    """hflip and vflip are involutions; rot180 = hflip∘vflip."""
    rng = np.random.default_rng(seed)
    a = rng.random((h, w))
    assert np.array_equal(a[:, ::-1][:, ::-1], a)
    assert np.array_equal(a[::-1, :][::-1, :], a)
    assert np.array_equal(a[:, ::-1][::-1, :], a[::-1, ::-1])
