"""to_grid kernel family vs the independent npref scalar goldens.

The reference's 13 resampling methods (constants.py:13-28) split into:
- convolution kernels (linear/cubic/cubic_spline: the shared blend text
  evaluated over numpy taps; lanczos/gauss: numpy weights) — all on the
  one whole-tile candidate kernel ``resample._tile_candidates``, pinned
  here against npref.conv_sample_naive, a deliberately scalar
  transcription, in every pixel format and at the grid's edges;
- aggregation kernels (max/min/med/mode/q1/q3) — pinned against
  npref.segment_stat_naive plus the DuckDB oracle in the contract.
"""

import numpy as np
import pandas as pd
import pytest

from rasters_spark import codec, fixtures, npref
from rasters_spark.operators import rastermath as rm
from rasters_spark.operators import resample
from rasters_spark.tiles import load_tiles, with_grid

SF = "/root/testdata/sf0.001"
TARGET = dict(x_origin=-180.0, y_origin=90.0, cell_width=0.25, cell_height=-0.25,
              rows=720, cols=1440, crs="EPSG:4326")


@pytest.fixture(scope="module", autouse=True)
def _fixtures():
    fixtures.ensure_fixtures(SF)


def _naive_conv(tiles_pd, kind: str, normalize: bool, target: dict = TARGET):
    """Scalar recomputation of every candidate value (NaN → None)."""
    exp = {}
    for r in tiles_pd.itertuples(index=False):
        arr = codec.decode_tile(r.bytes, r.w, r.h, r.fmt)
        rs, cs, re_, ce, oob = npref.window_for_bbox(
            r.x_origin, r.y_origin + r.cell_height * r.h,
            r.x_origin + r.cell_width * r.w, r.y_origin,
            target["x_origin"], target["y_origin"],
            target["cell_width"], target["cell_height"], target["rows"], target["cols"])
        if oob or re_ <= rs or ce <= cs:
            continue
        for trow in range(rs, re_):
            for tcol in range(cs, ce):
                tx, ty = npref.cell_center(trow, tcol, target["x_origin"], target["y_origin"],
                                           target["cell_width"], target["cell_height"])
                fr = (ty - r.y_origin) / r.cell_height - 0.5
                fc = (tx - r.x_origin) / r.cell_width - 0.5
                prow, pcol = int(np.round(fr)), int(np.round(fc))
                if not (0 <= prow < r.h and 0 <= pcol < r.w):
                    continue
                v = npref.conv_sample_naive(arr, fr, fc, kind, normalize=normalize)
                exp[(r.image_id, trow, tcol)] = None if np.isnan(v) else v
    return exp


@pytest.mark.parametrize("kind", ["linear", "cubic", "cubic_spline"])
def test_to_grid_conv_sql_matches_naive(spark, kind):
    tiles = load_tiles(spark, SF).filter("fmt = 'raw' and image_id < 'img000000000020'")
    got = {(r.image_id, r.trow, r.tcol): r.value
           for r in resample.to_grid_conv(tiles, TARGET, kind).collect()}
    exp = _naive_conv(tiles.toPandas(), kind, normalize=False)
    assert got.keys() == exp.keys()
    n_null = 0
    for k, e in exp.items():
        if e is None:
            assert got[k] is None
            n_null += 1
        else:
            assert got[k] == pytest.approx(e, rel=1e-9, abs=1e-9)
    assert n_null > 0  # NaN-neighbour propagation exercised


@pytest.mark.parametrize("kind", ["lanczos", "gauss"])
def test_to_grid_conv_py_matches_naive(spark, kind):
    tiles = load_tiles(spark, SF).filter("fmt = 'raw' and image_id < 'img000000000020'")
    got = {(r.image_id, r.trow, r.tcol): r.value
           for r in resample.to_grid_conv_py(tiles, TARGET, kind).collect()}
    exp = _naive_conv(tiles.toPandas(), kind, normalize=True)
    assert got.keys() == exp.keys()
    for k, e in exp.items():
        if e is None:
            assert got[k] is None
        else:
            assert got[k] == pytest.approx(e, rel=1e-9, abs=1e-9)


def _fmt_tiles(spark, fmt: str):
    """Fixture tiles in ``fmt``: q8 as stored; i32/b1 re-encoded from raw
    tiles (i32 keeps NaN as its INT32_MIN sentinel → NaN on decode)."""
    t = load_tiles(spark, SF)
    if fmt == "q8":
        return t.filter("fmt = 'q8' and image_id < 'img000000000100'")
    raw = t.filter("fmt = 'raw' and image_id < 'img000000000020'")
    return with_grid(rm.astype_tiles(raw, fmt, rm.gt(500.0) if fmt == "b1" else None))


@pytest.mark.parametrize("fmt", ["q8", "i32", "b1"])
@pytest.mark.parametrize("kind", ["linear", "cubic", "cubic_spline"])
def test_to_grid_conv_fmts_match_naive(spark, kind, fmt):
    # raw is test_to_grid_conv_sql_matches_naive; the same kernel must
    # read every other pixel format exactly like codec.decode_tile
    tiles = _fmt_tiles(spark, fmt)
    assert tiles.count() > 0
    got = {(r.image_id, r.trow, r.tcol): r.value
           for r in resample.to_grid_conv(tiles, TARGET, kind).collect()}
    exp = _naive_conv(tiles.toPandas(), kind, normalize=False)
    assert got.keys() == exp.keys()
    for k, e in exp.items():
        if e is None:
            assert got[k] is None
        else:
            assert got[k] == pytest.approx(e, rel=1e-9, abs=1e-9)
    if fmt != "b1":  # b1 has no nodata
        assert any(e is None for e in exp.values())


# --- geometry edges of the whole-tile candidate kernel --------------------------

EDGE_TARGET = dict(x_origin=0.0, y_origin=10.0, cell_width=0.5, cell_height=-0.5,
                   rows=12, cols=12, crs="EPSG:4326")


def _edge_tiles_pd():
    """Six 8×8 raw tiles of 0.1° cells — ONE decode group — placed so
    their candidate windows differ: interior (2×2 and 3×3 windows),
    straddling the right edge and the top-left corner (clamped), fully
    out of bounds, and one with a NaN pixel (NULL taps)."""
    rng = np.random.default_rng(3)
    origins = [(1.25, 8.75), (1.1, 8.9), (5.6, 7.0), (-0.4, 10.4), (20.0, 8.0), (3.05, 5.05)]
    rows = []
    for i, (x0, y0) in enumerate(origins):
        arr = (rng.integers(0, 400, size=(8, 8)) * 0.25).astype(np.float32)
        if i == 5:
            arr[:, 2] = np.nan
        rows.append(("img%012d" % i, codec.encode_tile(arr, "raw"), 8, 8, "raw",
                     x0, y0, 0.1, -0.1, "EPSG:4326"))
    return pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt", "x_origin",
                                       "y_origin", "cell_width", "cell_height", "crs"])


def test_tile_candidates_geometry_edges():
    pdf = _edge_tiles_pd()
    # the six tiles are one (w, h, fmt) group → the padding mask is exercised
    k, trow, tcol, prow, pcol, fr, fc = resample._tile_candidates(
        8, 8, pdf.x_origin, pdf.y_origin, pdf.cell_width, pdf.cell_height, EDGE_TARGET)
    got = {(pdf.image_id[kk], tr, tc, pr, pc) for kk, tr, tc, pr, pc
           in zip(k, trow, tcol, prow, pcol)}
    exp = set()
    for key, _ in _naive_conv(pdf, "linear", False, EDGE_TARGET).items():
        r = pdf[pdf.image_id == key[0]].iloc[0]
        tx, ty = npref.cell_center(key[1], key[2], EDGE_TARGET["x_origin"], EDGE_TARGET["y_origin"],
                                   EDGE_TARGET["cell_width"], EDGE_TARGET["cell_height"])
        exp.add(key + tuple(int(v) for v in npref.index_point(
            tx, ty, r.x_origin, r.y_origin, r.cell_width, r.cell_height)))
    assert got == exp
    per_tile = pd.Series([pdf.image_id[kk] for kk in k]).value_counts()
    assert "img000000000004" not in per_tile  # fully out of bounds
    assert len(set(per_tile)) > 1  # windows of different sizes in one group


@pytest.mark.parametrize("kind", ["linear", "cubic"])
def test_to_grid_conv_geometry_edges_and_nan_taps(spark, kind):
    pdf = _edge_tiles_pd()
    tiles = with_grid(spark.createDataFrame(
        pdf, "image_id string, bytes binary, w int, h int, fmt string, x_origin double, "
             "y_origin double, cell_width double, cell_height double, crs string"))
    got = {(r.image_id, r.trow, r.tcol): r.value
           for r in resample.to_grid_conv(tiles, EDGE_TARGET, kind).collect()}
    exp = _naive_conv(pdf, kind, normalize=False, target=EDGE_TARGET)
    assert got.keys() == exp.keys()
    nulls = {k for k, e in exp.items() if e is None}
    # exactly the candidates with the NaN pixel among their taps are NULL
    assert nulls and {k[0] for k in nulls} == {"img000000000005"}
    assert {k for k, v in got.items() if v is None} == nulls
    for k, e in exp.items():
        if e is not None:
            assert got[k] == pytest.approx(e, rel=1e-9, abs=1e-9)


@pytest.mark.parametrize("stat", ["max", "min", "med", "q1", "q3", "mode", "sum"])
def test_segment_stat_matches_naive(stat):
    rng = np.random.default_rng(7)
    key = rng.integers(0, 40, size=500)
    val = rng.integers(0, 12, size=500).astype(np.float64) * 0.25  # many ties → mode exercised
    gk, gv, gn = resample._segment_stat(key, val, stat)
    ek, ev, en = npref.segment_stat_naive(key, val, stat)
    assert np.array_equal(gk, ek) and np.array_equal(gn, en)
    assert np.allclose(gv, ev)


@pytest.mark.parametrize("stat", ["med", "mode", "sum"])
def test_to_grid_stat_matches_naive(spark, stat):
    tiles = load_tiles(spark, SF).filter("fmt = 'raw' and image_id < 'img000000000010'")
    got = {(r.image_id, r.trow, r.tcol): (r.value, r.n)
           for r in resample.to_grid_stat(tiles, TARGET, stat).collect()}
    exp: dict = {}
    for r in tiles.toPandas().itertuples(index=False):
        arr = codec.decode_tile(r.bytes, r.w, r.h, r.fmt)
        hh, ww = arr.shape
        px = r.x_origin + r.cell_width * (np.arange(ww) + 0.5)
        py = r.y_origin + r.cell_height * (np.arange(hh) + 0.5)
        PX, PY = np.meshgrid(px, py)
        trow, tcol = npref.index_point(PX.ravel(), PY.ravel(), TARGET["x_origin"], TARGET["y_origin"],
                                       TARGET["cell_width"], TARGET["cell_height"])
        v = arr.ravel().astype(np.float64)
        ok = np.isfinite(v)
        key = trow[ok] * TARGET["cols"] + tcol[ok]
        ks, vs, ns = npref.segment_stat_naive(key, v[ok], stat)
        for k, vv, nn in zip(ks, vs, ns):
            exp[(r.image_id, k // TARGET["cols"], k % TARGET["cols"])] = (float(vv), int(nn))
    assert got.keys() == exp.keys()
    for k in exp:
        assert got[k][1] == exp[k][1]
        assert got[k][0] == pytest.approx(exp[k][0], rel=1e-12)


def test_to_grid_dispatch_all_13_methods(spark):
    tiles = load_tiles(spark, SF).filter("fmt = 'raw' and image_id < 'img000000000005'")
    for method in ("nearest", "linear", "cubic", "cubic_spline", "lanczos",
                   "average", "mode", "gauss", "max", "min", "med", "q1", "q3"):
        assert resample.to_grid(tiles, TARGET, method).count() > 0
    with pytest.raises(ValueError):
        resample.to_grid(tiles, TARGET, "bogus")


def test_to_geometry_dispatch(spark):
    from pyspark.sql import functions as F
    tiles = load_tiles(spark, SF).filter("fmt = 'raw' and image_id < 'img000000000005'")
    # grid dict → to_grid
    assert resample.to_geometry(tiles, TARGET, "nearest").count() > 0
    # swath long table → grid_to_geolocation_nn (place it inside tile 0's
    # footprint: hot origin 10.25, 45.75)
    r = spark.range(5).select(F.col("id").alias("row"))
    c = spark.range(5).select(F.col("id").alias("col"))
    sw = r.crossJoin(c).select(
        F.lit(0).cast("long").alias("swath_id"), "row", "col",
        (10.3 + F.col("col") * 0.1).alias("x"), (45.7 - F.col("row") * 0.1).alias("y"))
    out = resample.to_geometry(tiles, sw)
    assert {"swath_id", "row", "col", "value"} <= set(out.columns)
    assert out.count() > 0
    # point table → nearest sampling
    pts = spark.createDataFrame([(1, 10.5, 45.5)], "point_id long, x double, y double")
    ps = resample.to_geometry(tiles, pts)
    assert ps.count() > 0 and "value" in ps.columns
    import pytest as _pt
    with _pt.raises(ValueError):
        resample.to_geometry(tiles, 42)
