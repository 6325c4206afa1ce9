"""Exact histogram (stats.histogram) + cross-layer algebra
(rastermath.align_layers / layer_algebra)."""

import numpy as np
import pytest

from rasters_spark import codec
from rasters_spark.operators import rastermath, stats

from tests.test_focal import (  # noqa: F401
    COLS, CW, CH, FMTS, H, NX, NY, W, _global_array, _lattice_rows, _values,
    lattice,
)
from tests.test_resample import _plan_nodes


def _with_empty_tile(spark, fmt):
    """The test lattice in ``fmt`` plus one all-nodata tile (b1 has no
    nodata, so its extra tile is all zeros) → (df, {image_id: pixels})."""
    rows = _lattice_rows(fmt)
    empty = np.full((H, W), np.nan)
    if fmt == "i32":
        empty[:] = codec.I32_NODATA
    elif fmt == "b1":
        empty[:] = 0
    rows.append(("empty", codec.encode_tile(empty, fmt), W, H, fmt, "EPSG:4326",
                 -10.0, 0.0, CW, CH))
    return (spark.createDataFrame(rows, COLS),
            {r[0]: codec.decode_tile(r[1], W, H, fmt) for r in rows})


@pytest.mark.parametrize("fmt", FMTS)
def test_stretch_params_match_numpy(spark, fmt):
    """Per-tile lo/hi are the sorted finite pixels interpolated as
    ``v[lo]·(1−f) + v[hi]·f`` (np.percentile's linear method up to its
    lerp rounding); an all-nodata tile gives NULL lo/hi and n_valid 0."""
    df, tiles = _with_empty_tile(spark, fmt)
    got = {r.image_id: r for r in stats.stretch_params(df, 5.0, 90.0).collect()}
    assert set(got) == set(tiles)
    for iid, arr in tiles.items():
        v = np.sort(arr[np.isfinite(arr)].astype(np.float64))
        r = got[iid]
        assert r.n_valid == len(v), iid
        if len(v) == 0:
            assert r.lo is None and r.hi is None, iid
            continue
        for q, val in ((0.05, r.lo), (0.90, r.hi)):
            p = (len(v) - 1) * q
            f = p - np.floor(p)
            assert val == v[int(np.floor(p))] * (1.0 - f) + v[int(np.ceil(p))] * f, iid
            assert val == pytest.approx(np.percentile(v, 100 * q), rel=1e-12), iid


@pytest.mark.parametrize("fmt", FMTS)
def test_tile_unique_values_match_numpy(spark, fmt):
    df, tiles = _with_empty_tile(spark, fmt)
    for thr in (10, 3):
        got = {r.image_id: (r.n_unique, r.few_values)
               for r in stats.tile_unique_values(df, thr).collect()}
        want = {}
        for iid, arr in tiles.items():
            n = len(np.unique(arr[np.isfinite(arr)]))
            want[iid] = (n, n < thr)
        assert got == want


@pytest.mark.parametrize("op", ["elementwise", "stretch_params", "zonal_stats",
                                "layer_algebra", "pixel_centroids"])
def test_whole_tile_operators_plan_is_one_map_in_arrow(spark, lattice, op):
    """Whole-tile operators run on the one mapInArrow runner: a
    MapInArrow node, and neither a pandas map nor a Python UDF."""
    from rasters_spark.functions import vector

    zones = spark.createDataFrame(
        [(1, 0.0, -2.0, 3.0, 0.0, [{"x": 0.0, "y": -2.0}, {"x": 3.0, "y": 0.0},
                                   {"x": 0.0, "y": 0.0}, {"x": 0.0, "y": -2.0}])],
        "poly_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring array<struct<x:double,y:double>>")
    df = {"elementwise": lambda: rastermath.elementwise(lattice, rastermath.mul(2.0)),
          "stretch_params": lambda: stats.stretch_params(lattice),
          "zonal_stats": lambda: stats.zonal_stats(lattice, zones),
          "layer_algebra": lambda: rastermath.layer_algebra(
              rastermath.align_layers(lattice, lattice)),
          "pixel_centroids": lambda: vector.pixel_centroids(lattice)}[op]()
    names = [name for name, _ in _plan_nodes(df)]
    assert any("MapInArrow" in n for n in names), names
    assert not any("MapInPandas" in n or "ArrowEvalPython" in n for n in names), names


def test_histogram_matches_numpy(spark, lattice):
    got = {r.bin: r.n_pixels for r in stats.histogram(lattice, 0.0, 10.0, 20).collect()}
    g = _global_array()
    v = g[np.isfinite(g)]
    b = np.floor((v - 0.0) / 0.5).astype(int)
    b = b[(b >= 0) & (b < 20)]
    want = {int(k): int(n) for k, n in zip(*np.unique(b, return_counts=True))}
    assert got == want
    assert sum(got.values()) == int(np.isfinite(g).sum())


def test_histogram_drops_out_of_range(spark, lattice):
    got = stats.histogram(lattice, 2.0, 4.0, 4).collect()
    g = _global_array()
    v = g[np.isfinite(g)]
    inside = ((v >= 2.0) & (v < 4.0)).sum()
    assert sum(r.n_pixels for r in got) == int(inside)
    with pytest.raises(ValueError):
        stats.histogram(lattice, 4.0, 2.0, 4)


def _two_layers(spark):
    rows = []
    for name, seed in (("la", 0), ("lb", 1)):
        arr = _values(seed, 0)
        rows.append((f"{name}", codec.encode_tile(arr.astype(np.float32), "raw"),
                     W, H, "raw", "EPSG:4326", 0.0, 0.0, CW, CH))
    df = spark.createDataFrame(rows, COLS)
    return df.filter("image_id = 'la'"), df.filter("image_id = 'lb'")


def test_align_layers_and_ndiff(spark):
    a, b = _two_layers(spark)
    pairs = rastermath.align_layers(a, b)
    assert pairs.count() == 1
    out = {(r.prow, r.pcol): r.value
           for r in rastermath.layer_algebra(pairs, "ndiff").collect()}
    va = _values(0, 0)
    vb = _values(1, 0)
    both = np.isfinite(va) & np.isfinite(vb)
    assert len(out) == int(both.sum())
    for (i, j), v in out.items():
        s = va[i, j] + vb[i, j]
        if s == 0.0:
            assert np.isnan(v)
        else:
            assert v == (va[i, j] - vb[i, j]) / s


def test_layer_diff_and_ratio(spark):
    a, b = _two_layers(spark)
    pairs = rastermath.align_layers(a, b)
    va, vb = _values(0, 0), _values(1, 0)
    d = {(r.prow, r.pcol): r.value
         for r in rastermath.layer_algebra(pairs, "diff").collect()}
    for (i, j), v in d.items():
        assert v == va[i, j] - vb[i, j]
    r_ = {(r.prow, r.pcol): r.value
          for r in rastermath.layer_algebra(pairs, "ratio").collect()}
    for (i, j), v in r_.items():
        if vb[i, j] == 0.0:
            assert np.isnan(v)
        else:
            assert v == va[i, j] / vb[i, j]
    with pytest.raises(ValueError):
        rastermath.layer_algebra(pairs, "nope")


def test_retile_split_roundtrip(spark, lattice):
    """4 children per 4×4 tile at factor 2; reassembling the children
    reproduces the parent exactly, origins follow the closed form."""
    from rasters_spark.operators import retile

    kids = {r.image_id: r for r in retile.retile_split(lattice, 2).collect()}
    assert len(kids) == NX * NY * 4
    for ty in range(NY):
        for tx in range(NX):
            parent = _values(tx, ty).astype(np.float32)
            for ci in range(2):
                for cj in range(2):
                    k = kids[f"t{ty}{tx}_{ci}_{cj}"]
                    got = codec.decode_tile(k.bytes, k.w, k.h, k.fmt)
                    want = parent[ci * 2:(ci + 1) * 2, cj * 2:(cj + 1) * 2]
                    np.testing.assert_array_equal(
                        got, want.astype(np.float32))
                    assert k.x_origin == tx * W * CW + cj * (W / 2) * CW
                    assert k.y_origin == ty * H * CH + ci * (H / 2) * CH
                    assert (k.w, k.h) == (W // 2, H // 2)


def test_retile_split_i32_keeps_nodata_and_exact_values(spark):
    """i32 children are exact int32 crops of the parent: the nodata
    sentinel survives and values above 2**24 (not exact in float32)
    come back unrounded."""
    from rasters_spark.operators import retile

    parents = {}
    rows = []
    for ty in range(NY):
        for tx in range(NX):
            v = _values(tx, ty)
            a = np.where(np.isnan(v), codec.I32_NODATA, v * 4 + 2**24 + 1).astype(np.int32)
            a[0, 0] = codec.I32_NODATA
            parents[f"t{ty}{tx}"] = a
            rows.append((f"t{ty}{tx}", codec.encode_tile(a, "i32"), W, H, "i32",
                         "EPSG:4326", tx * W * CW, ty * H * CH, CW, CH))
    kids = {r.image_id: r for r in
            retile.retile_split(spark.createDataFrame(rows, COLS), 2).collect()}
    assert len(kids) == NX * NY * 4
    for iid, a in parents.items():
        for ci in range(2):
            for cj in range(2):
                k = kids[f"{iid}_{ci}_{cj}"]
                assert k.fmt == "i32"
                np.testing.assert_array_equal(
                    codec.decode_tile_typed(k.bytes, k.w, k.h, k.fmt),
                    a[ci * 2:(ci + 1) * 2, cj * 2:(cj + 1) * 2])


def test_retile_split_indivisible_raises(spark, lattice):
    from rasters_spark.operators import retile

    with pytest.raises(Exception, match="not divisible"):
        retile.retile_split(lattice, 3).collect()
