"""Bilinear, neighbour distances, boundary walk, bands, PNG render,
grid serde + snap rule."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rasters_spark import codec, fixtures, grid, npref
from rasters_spark.functions import render
from rasters_spark.operators import bands, neighbors, resample
from rasters_spark.tiles import load_tiles

SF = "/root/testdata/sf0.001"
TARGET = dict(x_origin=-180.0, y_origin=90.0, cell_width=0.25, cell_height=-0.25,
              rows=720, cols=1440, crs="EPSG:4326")


@pytest.fixture(scope="module", autouse=True)
def _fixtures():
    fixtures.ensure_fixtures(SF)


def test_bilinear_matches_numpy(spark):
    tiles = load_tiles(spark, SF).filter("fmt = 'raw'").limit(6)
    got = {(r.image_id, r.trow, r.tcol): r.value
           for r in resample.to_grid_bilinear(tiles, TARGET).collect()}
    assert got
    checked = 0
    for t in tiles.collect():
        arr = codec.decode_tile(t.bytes, t.w, t.h, t.fmt)
        for (iid, trow, tcol), v in got.items():
            if iid != t.image_id:
                continue
            tx, ty = npref.cell_center(trow, tcol, TARGET["x_origin"], TARGET["y_origin"],
                                       TARGET["cell_width"], TARGET["cell_height"])
            fc = (tx - t.x_origin) / t.cell_width - 0.5
            fr = (ty - t.y_origin) / t.cell_height - 0.5
            c0, r0 = int(np.floor(fc)), int(np.floor(fr))
            dc, dr = fc - c0, fr - r0
            cl = lambda v_, n: min(max(v_, 0), n - 1)
            v00 = arr[cl(r0, t.h), cl(c0, t.w)]; v01 = arr[cl(r0, t.h), cl(c0 + 1, t.w)]
            v10 = arr[cl(r0 + 1, t.h), cl(c0, t.w)]; v11 = arr[cl(r0 + 1, t.h), cl(c0 + 1, t.w)]
            exp = (1 - dr) * ((1 - dc) * v00 + dc * v01) + dr * ((1 - dc) * v10 + dc * v11)
            if np.isnan(exp):
                assert v is None or np.isnan(v)
            else:
                assert v == pytest.approx(float(exp), rel=1e-9)
            checked += 1
    assert checked > 50


def test_neighbour_distances_and_cell_size(spark):
    r = spark.range(20).select(F.col("id").alias("row"))
    c = spark.range(20).select(F.col("id").alias("col"))
    sw = r.crossJoin(c).select(
        F.lit(0).alias("swath_id"), "row", "col",
        (F.col("col") * 0.3).alias("x"), (10.0 - F.col("row") * 0.4).alias("y"))
    d = neighbors.neighbour_distances(sw).collect()
    for rr in d:
        if rr.row == 0:
            assert rr.row_dist is None
        else:
            assert rr.row_dist == pytest.approx(0.4)
        if rr.col == 0:
            assert rr.col_dist is None
        else:
            assert rr.col_dist == pytest.approx(0.3)
    cs = neighbors.swath_cell_size(sw).collect()[0]
    assert cs.cell_size == pytest.approx(0.3)


def test_boundary_ring_order_and_length(spark):
    g = grid.grid_struct(0.0, 0.0, 1.0, -1.0, 4, 3, "EPSG:4326")
    ring = spark.range(1).select(neighbors.boundary_ring(g).alias("r")).collect()[0].r
    got = [(p.row, p.col) for p in ring]
    # 4 rows × 3 cols: perimeter = 2*(4+3)-4 = 10, ordered walk
    assert got == [(0, 0), (0, 1), (0, 2), (1, 2), (2, 2), (3, 2), (3, 1), (3, 0), (2, 0), (1, 0)]
    g1 = grid.grid_struct(0.0, 0.0, 1.0, -1.0, 1, 5, "EPSG:4326")
    ring1 = spark.range(1).select(neighbors.boundary_ring(g1).alias("r")).collect()[0].r
    assert [(p.row, p.col) for p in ring1] == [(0, c) for c in range(5)]


def test_bands_stats(spark):
    tiles = load_tiles(spark, SF)
    stacked = bands.with_bands(tiles, "cast(substring(image_id, 4, 12) as long)", 3)
    got = {r.band: r for r in bands.band_stats(stacked).collect()}
    assert set(got) == {0, 1, 2}
    assert sum(r.n_tiles for r in got.values()) == tiles.count()
    b0 = bands.extract_band(stacked, 0)
    assert b0.count() == got[0].n_tiles
    # independent recomputation of band 0 vsum from decoded pixels
    vsum = 0.0
    for t in b0.collect():
        arr = codec.decode_tile(t.bytes, t.w, t.h, t.fmt)
        vsum += float(np.nansum(arr.astype(np.float64)))
    assert got[0].vsum == pytest.approx(vsum, rel=1e-9)


def test_with_bands_takes_the_callers_index(spark):
    """Ids not shaped like the fixture's ``img000000000123`` band by the
    index text the caller passes; nothing parses ``image_id`` itself."""
    t = spark.createDataFrame([(f"t{i:02d}", i) for i in range(7)], "image_id string, k long")
    got = {r.image_id: (r.band, r.stack_id)
           for r in bands.with_bands(t, "cast(substring(image_id, 2, 2) as long)", 3).collect()}
    assert got == {f"t{i:02d}": (i % 3, i // 3) for i in range(7)}
    got = {r.image_id: (r.band, r.stack_id) for r in bands.with_bands(t, "k + 2", 4).collect()}
    assert got == {f"t{i:02d}": ((i + 2) % 4, (i + 2) // 4) for i in range(7)}


def test_png_roundtrip_and_render(spark):
    img = np.arange(48, dtype=np.uint8).reshape(6, 8)
    assert np.array_equal(render.decode_png(render.encode_png(img)), img)
    rgb = np.random.default_rng(1).integers(0, 255, (5, 7, 3)).astype(np.uint8)
    assert np.array_equal(render.decode_png(render.encode_png(rgb)), rgb)

    tiles = load_tiles(spark, SF).limit(4)
    out = render.render_png(tiles).collect()
    for r in out:
        dec = render.decode_png(r.png)
        assert dec.shape == (r.h, r.w, 3)
        assert r.png[:8] == b"\x89PNG\r\n\x1a\n"
    gray = render.render_png(tiles, mode="gray").collect()
    assert all(render.decode_png(r.png).shape == (r.h, r.w) for r in gray)


def test_grid_serde_roundtrip(spark):
    g = grid.grid_struct(-120.0, 40.0, 0.01, -0.01, 100, 200, "EPSG:4326")
    df = spark.range(1).select(grid.grid_to_json(g).alias("js"))
    back = df.select(grid.grid_from_json("js").alias("g")).select("g.*").collect()[0]
    assert (back.x_origin, back.rows, back.cols, back.crs) == (-120.0, 100, 200, "EPSG:4326")
    bad = spark.createDataFrame([("not json",)], "js string")
    badg = bad.select(grid.grid_from_json("js").alias("g")).collect()[0].g
    assert badg is None or all(v is None for v in badg)  # struct of NULLs


def test_geographic_snap_rule(spark):
    # int() truncation toward zero, NOT floor (raster_geometry.py:779-782)
    bb = grid.bbox_struct(F.lit(-119.97), F.lit(39.02), F.lit(-119.03), F.lit(39.98))
    g = spark.range(1).select(grid.geographic_grid_from_bbox(bb, 0.1).alias("g")).select("g.*").collect()[0]
    assert g.y_origin == pytest.approx(int(39.98 / 0.1) * 0.1)   # 39.9
    assert g.x_origin == pytest.approx(int(-119.97 / 0.1) * 0.1)  # -119.9 (trunc toward 0!)
    assert g.rows == max(int((39.98 - 39.02) / 0.1), 1) and g.cols == max(int(0.94 / 0.1), 1)
    g2 = spark.range(1).select(grid.geographic_grid_from_bbox(bb, 0.1, snap=False).alias("g")).select("g.*").collect()[0]
    assert g2.y_origin == pytest.approx(39.98) and g2.x_origin == pytest.approx(-119.97)

def test_tile_windows_query_plan_is_equi_join(spark):
    """VERDICT r02 #9 'done' criterion: the tile-windows candidate join
    is a cell-keyed BroadcastHashJoin, not BroadcastNestedLoopJoin."""
    import __spark_entry__ as entrymod
    df = entrymod.q_tile_windows_for_polygons(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]
    assert "BroadcastHashJoin" in plan
    assert df.count() > 0


def test_pansharpen_brovey_brute(spark):
    """Constructed 4-band stack: ratio math, zero-sum NULL, NaN pixel
    exclusion, and incomplete-stack skip."""
    import numpy as np

    from rasters_spark import codec
    from rasters_spark.operators import bands

    def tile(vals):
        return codec.encode_tile(np.array(vals, dtype=np.float32), "raw")

    b0 = [[1.0, 0.0], [2.0, np.nan]]
    b1 = [[2.0, 0.0], [2.0, 1.0]]
    b2 = [[5.0, 0.0], [4.0, 1.0]]
    pn = [[4.0, 8.0], [16.0, 1.0]]
    rows = [(f"s0b{b}", tile(a), 2, 2, "raw", b, 0)
            for b, a in enumerate([b0, b1, b2, pn])]
    rows.append(("orphan", tile(b0), 2, 2, "raw", 0, 1))  # incomplete stack
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
              "band int, stack_id long")
    got = {(r.stack_id, r.band, r.prow, r.pcol): r.sharp
           for r in bands.pansharpen_brovey(df).collect()}
    # pixel (0,0): s = 8, pan 4 -> sharp_b = b*4/8
    assert got[(0, 0, 0, 0)] == 0.5
    assert got[(0, 1, 0, 0)] == 1.0
    assert got[(0, 2, 0, 0)] == 2.5
    # pixel (0,1): sum 0 -> NaN sharp (pre-boundary convention)
    v = got[(0, 0, 0, 1)]
    assert v is None or np.isnan(v)
    # pixel (1,1): b0 NaN -> excluded entirely
    assert (0, 0, 1, 1) not in got
    # incomplete stack 1 emits nothing
    assert not any(k[0] == 1 for k in got)


def test_gap_fill_stack_brute(spark):
    """LOCF semantics: gap takes the most recent valid value, leading
    gaps stay absent, valid pixels pass through unchanged."""
    import numpy as np

    from rasters_spark import codec
    from rasters_spark.operators import bands

    def tile(vals):
        return codec.encode_tile(np.array(vals, dtype=np.float32), "raw")

    e0 = [[1.0, np.nan]]
    e1 = [[np.nan, 5.0]]
    e2 = [[3.0, np.nan]]
    rows = [(f"e{b}", tile(a), 2, 1, "raw", b, 0) for b, a in enumerate([e0, e1, e2])]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
              "band int, stack_id long")
    got = {(r.epoch, r.prow, r.pcol): r.filled
           for r in bands.gap_fill_stack(df, 3).collect()}
    assert got[(0, 0, 0)] == 1.0
    assert (0, 0, 1) not in got          # leading gap stays absent
    assert got[(1, 0, 0)] == 1.0         # filled from epoch 0
    assert got[(1, 0, 1)] == 5.0
    assert got[(2, 0, 0)] == 3.0         # fresh value overrides carry
    assert got[(2, 0, 1)] == 5.0         # carried forward


def test_epoch_trend_closed_form(spark):
    def tile(vals):
        return codec.encode_tile(np.array(vals, dtype=np.float32), "raw")

    e0 = [[1.0, 2.0]]
    e1 = [[5.0, np.nan]]
    e2 = [[3.0, 6.0]]
    rows = [(f"e{b}", tile(a), 2, 1, "raw", b, 0) for b, a in enumerate([e0, e1, e2])]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
              "band int, stack_id long")
    got = {(r.prow, r.pcol): (r.slope, r.mean)
           for r in bands.epoch_trend(df, 3).collect()}
    assert got[(0, 0)] == ((3.0 - 1.0) / 2.0, (1.0 + 5.0 + 3.0) / 3.0)
    assert (0, 1) not in got  # strict: NaN at any epoch excludes the pixel


def test_sessionize_gap_semantics(spark):
    import datetime as dt

    from rasters_spark.operators import events as eventops

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 7, "view"),
        (2, t0 + dt.timedelta(minutes=10), 7, "error"),
        (3, t0 + dt.timedelta(minutes=41), 7, "click"),   # 31-min gap -> new session
        (4, t0 + dt.timedelta(minutes=70), 7, "view"),    # 29-min gap -> same
        (5, t0, 9, "view"),                               # other user
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string")
    got = {(r.user_id, r.session_id): (r.n_events, r.n_error, r.duration_us)
           for r in eventops.sessionize(df, 30).collect()}
    assert got[(7, 1)] == (2, 1, 10 * 60 * 1_000_000)
    assert got[(7, 3)] == (2, 0, 29 * 60 * 1_000_000)
    assert got[(9, 5)] == (1, 0, 0)
    assert len(got) == 3


def test_cohort_retention_brute(spark):
    import datetime as dt

    from rasters_spark.operators import events as eventops

    d = lambda n, h=0: dt.datetime(2024, 1, 1 + n, h)  # noqa: E731
    rows = [
        (1, d(0), 7, "view"), (2, d(0, 5), 7, "view"),  # same day counts once
        (3, d(1), 7, "view"), (4, d(3), 7, "view"),
        (5, d(1), 9, "view"), (6, d(2), 9, "view"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string")
    got = {(r.cohort_day, r.day_offset): r.n_users
           for r in eventops.cohort_retention(df).collect()}
    day0 = 19723  # 2024-01-01 epoch day
    assert got == {(day0, 0): 1, (day0, 1): 1, (day0, 3): 1,
                   (day0 + 1, 0): 1, (day0 + 1, 1): 1}


def test_funnel_strict_ordering(spark):
    import datetime as dt

    from rasters_spark.operators import events as eventops

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    rows = [
        # user 1 completes the funnel in order
        (1, t(0), 1, "view"), (2, t(1), 1, "click"), (3, t(2), 1, "purchase"),
        # user 2 clicks BEFORE viewing -> stops at view
        (4, t(5), 2, "click"), (5, t(6), 2, "view"),
        # user 3 purchase before click -> reaches click only
        (6, t(0), 3, "view"), (7, t(1), 3, "purchase"), (8, t(2), 3, "click"),
        # user 4 never views
        (9, t(0), 4, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string")
    got = {r.step: r.n_users for r in eventops.funnel(df).collect()}
    assert got == {1: 3, 2: 2, 3: 1}


def test_to_gray_rec601(spark):
    def tile(vals):
        return codec.encode_tile(np.array(vals, dtype=np.float32), "raw")

    r = [[1.0, np.nan]]; g = [[2.0, 1.0]]; b = [[4.0, 1.0]]
    rows = [(f"b{k}", tile(a), 2, 1, "raw", k, 0) for k, a in enumerate([r, g, b])]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, "
              "band int, stack_id long")
    got = {(x.prow, x.pcol): x.gray for x in bands.to_gray(df).collect()}
    assert got == {(0, 0): (0.299 * 1.0 + 0.587 * 2.0) + 0.114 * 4.0}


def test_zonal_quantiles_exact_interpolation(spark):
    from rasters_spark.operators import stats as st
    from rasters_spark.tiles import with_grid

    # one 2x3 tile fully inside one rect zone; quarter-integer values
    arr = np.array([[1.0, 2.0, 2.0], [4.0, 8.0, np.nan]], dtype=np.float32)
    tiles = with_grid(spark.createDataFrame(
        [("t", codec.encode_tile(arr, "raw"), 3, 2, "raw",
          10.0, 50.0, 0.25, -0.25, "EPSG:4326")],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "x_origin double, y_origin double, cell_width double, "
        "cell_height double, crs string"))
    ring = [(9.0, 48.0), (12.0, 48.0), (12.0, 51.0), (9.0, 51.0), (9.0, 48.0)]
    polys = spark.createDataFrame(
        [(0, 9.0, 48.0, 12.0, 51.0,
          [{"x": x, "y": y} for x, y in ring])],
        "poly_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring array<struct<x:double,y:double>>")
    r = st.zonal_quantiles(tiles, polys).collect()[0]
    # sorted valid values: [1, 2, 2, 4, 8]; n=5
    # q25: p=1.0 -> 2; q50: p=2.0 -> 2; q75: p=3.0 -> 4
    assert (r.n, r.q_25, r.q_5, r.q_75) == (5, 2.0, 2.0, 4.0)


def test_zonal_mode_tie_breaks_to_smallest(spark):
    from rasters_spark.operators import stats as st
    from rasters_spark.tiles import with_grid

    # zone holds {1.0 x2, 2.0 x2, 3.0}: tie at 2 -> mode must be 1.0
    arr = np.array([[1.0, 2.0, 1.0], [2.0, 3.0, np.nan]], dtype=np.float32)
    tiles = with_grid(spark.createDataFrame(
        [("t", codec.encode_tile(arr, "raw"), 3, 2, "raw",
          10.0, 50.0, 0.25, -0.25, "EPSG:4326")],
        "image_id string, bytes binary, w int, h int, fmt string, "
        "x_origin double, y_origin double, cell_width double, "
        "cell_height double, crs string"))
    ring = [(9.0, 48.0), (12.0, 48.0), (12.0, 51.0), (9.0, 51.0), (9.0, 48.0)]
    polys = spark.createDataFrame(
        [(0, 9.0, 48.0, 12.0, 51.0, [{"x": x, "y": y} for x, y in ring])],
        "poly_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring array<struct<x:double,y:double>>")
    r = st.zonal_mode(tiles, polys).collect()[0]
    assert (r.mode, r.mode_n, r.n_valid) == (1.0, 2, 5)
