"""merge/mosaic/to_grid/bias_correct vs independent numpy recomputation."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rasters_spark import codec, fixtures, npref
from rasters_spark.operators import resample
from rasters_spark.tiles import load_tiles

SF = "/root/testdata/sf0.001"
TARGET = dict(x_origin=-180.0, y_origin=90.0, cell_width=0.25, cell_height=-0.25,
              rows=720, cols=1440, crs="EPSG:4326")


@pytest.fixture(scope="module", autouse=True)
def _fixtures():
    fixtures.ensure_fixtures(SF)


def _numpy_candidates(tiles_pd):
    """Reference recomputation: per tile × target cell → nearest value."""
    for r in tiles_pd.itertuples(index=False):
        arr = codec.decode_tile(r.bytes, r.w, r.h, r.fmt)
        xmin, ymax = r.x_origin, r.y_origin
        xmax = r.x_origin + r.cell_width * r.w
        ymin = r.y_origin + r.cell_height * r.h
        rs, cs, re_, ce, oob = npref.window_for_bbox(
            xmin, ymin, xmax, ymax, TARGET["x_origin"], TARGET["y_origin"],
            TARGET["cell_width"], TARGET["cell_height"], TARGET["rows"], TARGET["cols"])
        if oob or re_ <= rs or ce <= cs:
            continue
        for trow in range(rs, re_):
            for tcol in range(cs, ce):
                tx, ty = npref.cell_center(trow, tcol, TARGET["x_origin"], TARGET["y_origin"],
                                           TARGET["cell_width"], TARGET["cell_height"])
                prow, pcol = npref.index_point(tx, ty, r.x_origin, r.y_origin, r.cell_width, r.cell_height)
                if 0 <= prow < r.h and 0 <= pcol < r.w:
                    yield r.image_id, trow, tcol, float(arr[prow, pcol])


def test_merge_mean_matches_numpy(spark):
    tiles = load_tiles(spark, SF).filter("fmt = 'raw'").limit(40)
    got = {(r.trow, r.tcol): (r.value, r.n) for r in resample.merge_mean(tiles, TARGET).collect()}
    acc: dict = {}
    for _, trow, tcol, v in _numpy_candidates(tiles.toPandas()):
        if not np.isnan(v):
            s, n = acc.get((trow, tcol), (0.0, 0))
            acc[(trow, tcol)] = (s + v, n + 1)
    exp = {k: (s / n, n) for k, (s, n) in acc.items()}
    assert got.keys() == exp.keys()
    for k in exp:
        assert got[k][1] == exp[k][1]
        assert got[k][0] == pytest.approx(exp[k][0], rel=1e-12)


def test_mosaic_first_non_nan_wins(spark):
    tiles = load_tiles(spark, SF).limit(40)
    got = {(r.trow, r.tcol): r.value for r in resample.mosaic_first(tiles, TARGET).collect()}
    first: dict = {}
    for iid, trow, tcol, v in sorted(_numpy_candidates(tiles.toPandas()), key=lambda t: t[0]):
        if not np.isnan(v) and (trow, tcol) not in first:
            first[(trow, tcol)] = v
    assert got == pytest.approx(first)


def test_to_grid_average_matches_numpy(spark):
    tiles = load_tiles(spark, SF).filter("fmt = 'raw'").limit(10)
    got = {(r.image_id, r.trow, r.tcol): (r.value, r.n)
           for r in resample.to_grid_average(tiles, TARGET).collect()}
    exp: dict = {}
    for r in tiles.toPandas().itertuples(index=False):
        arr = codec.decode_tile(r.bytes, r.w, r.h, r.fmt)
        hh, ww = arr.shape
        px = r.x_origin + r.cell_width * (np.arange(ww) + 0.5)
        py = r.y_origin + r.cell_height * (np.arange(hh) + 0.5)
        PX, PY = np.meshgrid(px, py)
        trow, tcol = npref.index_point(PX.ravel(), PY.ravel(), TARGET["x_origin"], TARGET["y_origin"],
                                       TARGET["cell_width"], TARGET["cell_height"])
        v = arr.ravel()
        for rr, cc, vv in zip(trow, tcol, v):
            if np.isfinite(vv) and 0 <= rr < TARGET["rows"] and 0 <= cc < TARGET["cols"]:
                s, n = exp.get((r.image_id, rr, cc), (0.0, 0))
                exp[(r.image_id, rr, cc)] = (s + float(vv), n + 1)
    expm = {k: (s / n, n) for k, (s, n) in exp.items()}
    assert got.keys() == expm.keys()
    for k in expm:
        assert got[k][1] == expm[k][1] and got[k][0] == pytest.approx(expm[k][0], rel=1e-12)


def test_bias_correct_recovers_offset(spark):
    # fine raster on 0.5° grid; coarse = true mean per 1° cell MINUS 5 →
    # bias_correct must shift every fine cell down by exactly 5
    fg = dict(x_origin=0.0, y_origin=10.0, cell_width=0.5, cell_height=-0.5, rows=8, cols=8, crs="EPSG:4326")
    cg = dict(x_origin=0.0, y_origin=10.0, cell_width=1.0, cell_height=-1.0, rows=4, cols=4, crs="EPSG:4326")
    fine_rows = [(r, c, float(10 * r + c)) for r in range(8) for c in range(8)]
    fine = spark.createDataFrame(fine_rows, "row long, col long, value double")
    coarse_rows = []
    for cr in range(4):
        for cc in range(4):
            vals = [10 * r + c for r in range(2 * cr, 2 * cr + 2) for c in range(2 * cc, 2 * cc + 2)]
            coarse_rows.append((cr, cc, float(sum(vals)) / 4 - 5.0))
    coarse = spark.createDataFrame(coarse_rows, "row long, col long, value double")
    got = {(r.row, r.col): r.value for r in resample.bias_correct(coarse, fine, cg, fg).collect()}
    for (r, c, v) in fine_rows:
        assert got[(r, c)] == pytest.approx(v - 5.0)


def test_linear_downscale_scale_and_bias(spark):
    # coarse = 2 × true mean → scale path multiplies fine by 2; bias pass
    # then zeroes the residual mean offset per coarse cell
    fg = dict(x_origin=0.0, y_origin=4.0, cell_width=1.0, cell_height=-1.0, rows=4, cols=4, crs="EPSG:4326")
    cg = dict(x_origin=0.0, y_origin=4.0, cell_width=2.0, cell_height=-2.0, rows=2, cols=2, crs="EPSG:4326")
    fine_rows = [(r, c, float(1 + r + c)) for r in range(4) for c in range(4)]
    fine = spark.createDataFrame(fine_rows, "row long, col long, value double")
    coarse_rows = []
    for cr in range(2):
        for cc in range(2):
            vals = [1 + r + c for r in range(2 * cr, 2 * cr + 2) for c in range(2 * cc, 2 * cc + 2)]
            coarse_rows.append((cr, cc, 2.0 * sum(vals) / 4))
    coarse = spark.createDataFrame(coarse_rows, "row long, col long, value double")
    got = {(r.row, r.col): r.value for r in
           resample.linear_downscale(coarse, fine, cg, fg).collect()}
    # after scale (×2 exactly), upsampled == coarse → bias = 0 → result = 2×fine
    for (r, c, v) in fine_rows:
        assert got[(r, c)] == pytest.approx(2.0 * v)


def test_linear_downscale_gap_fill_and_outputs(spark):
    # fine raster has a HOLE at (0,1); coarse covers the whole 2x2 top
    # cell → the hole fills with the nearest-downsampled coarse value,
    # carried scale/bias default to 1/0 on filled cells
    fg = dict(x_origin=0.0, y_origin=2.0, cell_width=1.0, cell_height=-1.0, rows=2, cols=2, crs="EPSG:4326")
    cg = dict(x_origin=0.0, y_origin=2.0, cell_width=2.0, cell_height=-2.0, rows=1, cols=1, crs="EPSG:4326")
    fine = spark.createDataFrame(
        [(0, 0, 8.0), (1, 0, 4.0), (1, 1, 4.0)], "row long, col long, value double")
    # coarse = 2 x mean of present fine values (16/3): scale = 2 exactly
    coarse = spark.createDataFrame([(0, 0, 32.0 / 3.0)], "row long, col long, value double")
    out = {(r.row, r.col): (r.value, r.scale, r.bias) for r in resample.linear_downscale(
        coarse, fine, cg, fg, apply_scale=True, apply_bias=False,
        use_gap_filling=True, return_scale_and_bias=True).collect()}
    assert set(out) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    assert out[(0, 0)] == (16.0, 2.0, 0.0)
    assert out[(1, 0)] == (8.0, 2.0, 0.0)
    # the hole: coarse value, neutral scale/bias
    assert out[(0, 1)] == (32.0 / 3.0, 1.0, 0.0)


def test_to_grid_nearest_bool_shim(spark):
    """Bool resampling end-to-end (reference kdtree.py:293-310: bool
    rasters resample through a uint16 shim, nearest only): threshold
    raw tiles to b1, warp onto the target grid with to_grid_nearest —
    every output value is exactly 0.0 or 1.0, and equals the float-mask
    warp of the same threshold (the shim is value-transparent)."""
    from rasters_spark.operators import rastermath as rm
    from rasters_spark.tiles import with_grid

    t = load_tiles(spark, SF).filter("fmt = 'raw'").limit(30)
    bt = with_grid(rm.astype_tiles(t, "b1", rm.gt(500.0)))
    got = {(r.image_id, r.trow, r.tcol): r.value
           for r in resample.to_grid_nearest(bt, TARGET).collect()}
    assert got and all(v in (0.0, 1.0) for v in got.values())
    # float-mask equivalent: same kernel, raw encoding (NaN→0 like the
    # bool cast) — identical warped values
    ft = with_grid(rm.elementwise(t, rm.gt(500.0)))
    exp = {(r.image_id, r.trow, r.tcol): r.value
           for r in resample.to_grid_nearest(ft, TARGET).collect()}
    assert got == exp


def test_to_grid_nearest_matches_numpy(spark):
    """Row for row against the scalar recomputation, in every pixel
    format: fixture raw tiles with a nodata lattice poked in, encoded as
    raw/q8/i32 (i32 offset past 2**24, so a float32 path would round)
    and b1 (no nodata) — one DataFrame, so batches hold several decode
    groups. Same (image_id, trow, tcol) set, exact values, and NULL
    exactly where ``codec.decode_tile`` gives NaN."""
    import pandas as pd

    from rasters_spark.tiles import with_grid

    geo = ["x_origin", "y_origin", "cell_width", "cell_height", "crs"]
    src = load_tiles(spark, SF).filter("fmt = 'raw'").limit(12).toPandas()
    rows = []
    for r in src.itertuples(index=False):
        arr = codec.decode_tile(r.bytes, r.w, r.h, r.fmt)
        arr[::3, ::4] = np.nan
        nan = np.isnan(arr)
        for fmt, a in (("raw", arr), ("q8", arr),
                       ("i32", np.where(nan, codec.I32_NODATA, arr.astype(np.float64) * 4 + 2**25)),
                       ("b1", np.where(nan, 0.0, arr > 500.0))):
            rows.append((f"{r.image_id}{fmt}", codec.encode_tile(a, fmt), r.w, r.h, fmt,
                         *(getattr(r, c) for c in geo)))
    pdf = pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt", *geo])
    df = with_grid(spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, x_origin double, "
              "y_origin double, cell_width double, cell_height double, crs string"))
    got = {(r.image_id, r.trow, r.tcol): r.value
           for r in resample.to_grid_nearest(df, TARGET).collect()}
    exp = {(iid, trow, tcol): v for iid, trow, tcol, v in _numpy_candidates(pdf)}
    assert got.keys() == exp.keys()
    bad = [(k, got[k], v) for k, v in exp.items()
           if ((got[k] is not None) if np.isnan(v) else got[k] != v)]
    assert not bad, bad[:5]
    nulls = {f: sum(got[k] is None for k in got if k[0].endswith(f))
             for f in ("raw", "q8", "i32", "b1")}
    assert nulls["b1"] == 0 and min(nulls[f] for f in ("raw", "q8", "i32")) > 0, nulls


def test_composite_max_matches_numpy(spark):
    tiles = load_tiles(spark, SF).filter("fmt = 'raw'").limit(40)
    got = {(r.trow, r.tcol): (r.value, r.epoch, r.n_obs)
           for r in resample.composite_max(tiles, TARGET).collect()}
    acc: dict = {}
    for iid, trow, tcol, v in _numpy_candidates(tiles.toPandas()):
        if not np.isnan(v):
            epoch = int(iid[3:]) % 3
            best, eb, n = acc.get((trow, tcol), (-np.inf, 99, 0))
            if v > best or (v == best and epoch < eb):
                best, eb = v, epoch
            acc[(trow, tcol)] = (best, eb, n + 1)
    assert got.keys() == acc.keys()
    for k, (v, e, n) in acc.items():
        assert got[k] == (v, e, n)


def test_composite_max_tie_breaks_to_earliest_epoch(spark):
    # two byte-identical tiles on one footprint: every cell ties on value,
    # so the composite must report the EARLIEST epoch (idx 7 % 3 = 1 beats
    # idx 8 % 3 = 2), with n_obs = 2
    arr = np.arange(16, dtype=np.float32).reshape(4, 4) * 0.25
    payload = codec.encode_tile(arr, "raw")
    rows = [("img%012d" % i, payload, 4, 4, "raw", 10.0, 50.0, 0.25, -0.25, "EPSG:4326")
            for i in (7, 8)]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
              "x_origin double, y_origin double, cell_width double, "
              "cell_height double, crs string")
    from rasters_spark.tiles import with_grid
    out = resample.composite_max(with_grid(df), TARGET).collect()
    assert len(out) == 16
    assert all(r.epoch == 1 and r.n_obs == 2 for r in out)


def test_composite_max_plan_is_one_aggregate_no_join(spark):
    """The argmax is fused into the single hash aggregate (struct max):
    the plan must contain NO join and exactly one shuffle past the
    scan (the groupBy exchange). A join-back implementation would show
    a Join node and a second exchange."""
    tiles = load_tiles(spark, SF).filter("fmt = 'raw'")
    df = resample.composite_max(tiles, TARGET)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    head_nodes = [n.splitlines()[0] for b in plan.split("\n\n")
                  for n in b.split("\n") if n.startswith("(")]
    assert not any("Join" in n for n in head_nodes), head_nodes
    assert sum("Exchange" in n for n in head_nodes) == 1, head_nodes


def _plan_nodes(df):
    """(name, detail-block) per node of the formatted physical plan."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    return [(b.splitlines()[0], b) for b in plan.split("\n\n") if b.startswith("(")]


@pytest.mark.parametrize("op", ["to_grid_conv", "composite_max", "mosaic_first",
                                "merge_mean", "to_grid_nearest"])
def test_whole_tile_kernels_plan_has_no_python_udf_and_no_blob_exchange(spark, op):
    """Nearest, the conv taps and the composites read pixels in ONE
    mapInArrow over whole tiles: no ArrowEvalPython node, and no
    Exchange ever carries the ``bytes`` blob (only skinny candidate
    rows shuffle)."""
    tiles = load_tiles(spark, SF)
    df = {"to_grid_conv": lambda: resample.to_grid_conv(tiles, TARGET, "cubic"),
          "composite_max": lambda: resample.composite_max(tiles, TARGET),
          "mosaic_first": lambda: resample.mosaic_first(tiles, TARGET),
          "merge_mean": lambda: resample.merge_mean(tiles, TARGET),
          "to_grid_nearest": lambda: resample.to_grid_nearest(tiles, TARGET)}[op]()
    nodes = _plan_nodes(df)
    assert any("MapInArrow" in name for name, _ in nodes), nodes
    assert not any("ArrowEvalPython" in name for name, _ in nodes), nodes
    for name, block in nodes:
        if "Exchange" in name:
            assert "bytes#" not in block, block
