"""Focal statistics with cross-tile halo exchange (operators/focal.py).

Ground truth: assemble the synthetic lattice into ONE global numpy
array, NaN-pad it, take brute-force windows, and crop per tile — if
halo exchange is correct, the distributed per-tile answer equals the
global-array answer at every cell (including tile-edge cells, which is
where a missing/misplaced strip would show).
"""

import duckdb
import numpy as np
import pandas as pd
import pytest

from rasters_spark import codec
from rasters_spark.operators import focal

W, H = 4, 4
CW, CH = 0.25, -0.25   # binary fractions: lattice origins are exact
NX, NY = 3, 2          # 3 tiles across, 2 down


def _values(tx, ty):
    """Deterministic quarter-integer tile with a couple of NaN holes."""
    r, c = np.mgrid[0:H, 0:W]
    v = (((tx * 31 + ty * 17 + r * 13 + c * 7) % 40) * 0.25).astype(np.float64)
    if (tx + ty) % 2 == 0:
        v[(tx + r[0, 0]) % H, (ty + 1) % W] = np.nan
        v[ty % H, tx % W] = np.nan
    return v


#: the pixel formats the global-brute tests run on
FMTS = ("raw", "q8", "i32", "b1")


def _encoded(tx, ty, fmt="raw"):
    """The lattice tile in ``fmt``: raw/q8 encode the quarter-integer
    values (q8 lossily), i32 holds them ×4 with the nodata sentinel in
    the NaN holes, b1 a 0/1 pattern of them."""
    v = _values(tx, ty)
    if fmt == "i32":
        v = np.where(np.isnan(v), codec.I32_NODATA, v * 4)
    elif fmt == "b1":
        v = np.nan_to_num(v * 4) % 3 == 0
    return codec.encode_tile(v.astype(np.float32) if fmt in ("raw", "q8") else v, fmt)


def _lattice_rows(fmt="raw"):
    rows = []
    for ty in range(NY):
        for tx in range(NX):
            rows.append((f"t{ty}{tx}", _encoded(tx, ty, fmt),
                         W, H, fmt, "EPSG:4326",
                         tx * W * CW, ty * H * CH, CW, CH))
    return rows


COLS = ["image_id", "bytes", "w", "h", "fmt", "crs",
        "x_origin", "y_origin", "cell_width", "cell_height"]


@pytest.fixture(scope="module")
def lattice(spark):
    return spark.createDataFrame(_lattice_rows(), COLS).cache()


@pytest.fixture(scope="module")
def lattices(spark):
    """fmt → the lattice encoded in that fmt."""
    return {f: spark.createDataFrame(_lattice_rows(f), COLS).cache() for f in FMTS}


def _global_array(fmt="raw"):
    """The lattice assembled from ``codec.decode_tile`` of the same blobs
    the Spark lattice carries."""
    g = np.full((NY * H, NX * W), np.nan)
    for ty in range(NY):
        for tx in range(NX):
            g[ty * H:(ty + 1) * H, tx * W:(tx + 1) * W] = \
                codec.decode_tile(_encoded(tx, ty, fmt), W, H, fmt)
    return g


def _fmt_params(*values):
    """``values`` × FMTS, with the raw cases keeping their plain ids."""
    return [pytest.param(v, f, id=str(v) if f == "raw" else f"{v}-{f}")
            for f in FMTS for v in values]


def _brute(g, radius, stat):
    gh, gw = g.shape
    pad = np.full((gh + 2 * radius, gw + 2 * radius), np.nan)
    pad[radius:radius + gh, radius:radius + gw] = g
    out = np.full((gh, gw), np.nan)
    cnt = np.zeros((gh, gw), dtype=np.int64)
    for i in range(gh):
        for j in range(gw):
            win = pad[i:i + 2 * radius + 1, j:j + 2 * radius + 1]
            vals = win[np.isfinite(win)]
            cnt[i, j] = len(vals)
            if len(vals):
                out[i, j] = {"sum": vals.sum(), "mean": vals.mean(),
                             "min": vals.min(), "max": vals.max(),
                             "count": float(len(vals))}[stat]
            elif stat == "count":
                out[i, j] = 0.0
    return out, cnt


def _collect_tiles(df):
    got = {}
    for row in df.collect():
        got[row["image_id"]] = codec.decode_tile(row["bytes"], row["w"], row["h"], "raw")
    return got


@pytest.mark.parametrize("stat,fmt", _fmt_params("sum", "mean", "min", "max", "count"))
def test_focal_tiles_match_global_brute(spark, lattices, stat, fmt):
    g = _global_array(fmt)
    want, _ = _brute(g, 1, stat)
    got = _collect_tiles(focal.focal_tiles(lattices[fmt], radius=1, stat=stat))
    for ty in range(NY):
        for tx in range(NX):
            crop = want[ty * H:(ty + 1) * H, tx * W:(tx + 1) * W]
            np.testing.assert_allclose(
                got[f"t{ty}{tx}"], crop.astype(np.float32),
                rtol=0, atol=1e-6, equal_nan=True,
                err_msg=f"tile t{ty}{tx} stat={stat} fmt={fmt}")


def test_focal_tiles_i32_above_2_24_crosses_seams_exactly(spark):
    """i32 pixels above 2**24 are not float32-representable: the edge
    strips must carry them exactly. Columns cycle (2**24 + 1, -2**24, 0)
    so every full 3-column window sums to a small exact integer — one
    rounded halo pixel would show as an off-by-one there."""
    cyc = np.array([2.0 ** 24 + 1, -2.0 ** 24, 0.0])
    r, c = np.mgrid[0:NY * H, 0:NX * W]
    g = cyc[c % 3] + (r * 5 + c * 3) % 11
    g[2, 5] = codec.I32_NODATA
    rows = [(f"t{ty}{tx}", codec.encode_tile(
                g[ty * H:(ty + 1) * H, tx * W:(tx + 1) * W], "i32"),
             W, H, "i32", "EPSG:4326", tx * W * CW, ty * H * CH, CW, CH)
            for ty in range(NY) for tx in range(NX)]
    g[2, 5] = np.nan
    want, _ = _brute(g, 1, "sum")
    got = _collect_tiles(focal.focal_tiles(spark.createDataFrame(rows, COLS), 1, "sum"))
    for ty in range(NY):
        for tx in range(NX):
            crop = want[ty * H:(ty + 1) * H, tx * W:(tx + 1) * W]
            np.testing.assert_array_equal(got[f"t{ty}{tx}"], crop.astype(np.float32),
                                          err_msg=f"tile t{ty}{tx}")


#: one operator per whole-tile module plus each group kernel (resample,
#: tile_stats); ``layer_algebra`` truncates its b side, which decodes
#: apart from the runner's own batch decode. The band-stack operators
#: run on 3-stacks by rank: the second one holds the short t11 (rank 4)
TRUNCATED_OPS = ["focal_tiles", "slope_aspect_hillshade", "stretch_params", "histogram",
                 "zonal_stats", "elementwise", "layer_algebra", "trim", "polygonize",
                 "retile_split", "render_png", "pixel_centroids", "sample_idw",
                 "tile_stats", "to_grid_bilinear", "to_grid_med", "composite_max",
                 "mosaic_first", "merge_mean", "to_grid_nearest", "to_gray",
                 "gap_fill_stack", "resize_spline", "tiles_to_geotiff"]
#: a 0.5° target grid over the whole lattice (x 0..3, y 0..-2)
LATTICE_TARGET = dict(x_origin=0.0, y_origin=0.0, cell_width=0.5, cell_height=-0.5,
                      rows=4, cols=6, crs="EPSG:4326")


@pytest.mark.parametrize("op", TRUNCATED_OPS)
def test_truncated_blob_fails_naming_its_image_id(spark, op):
    """A short blob must fail with its image_id in the error, not a bare
    numpy buffer error."""
    from pyspark.sql import functions as F

    from rasters_spark.datapipe import multimodal
    from rasters_spark.functions import geotiff, render, vector
    from rasters_spark.operators import (
        bands, point_join, polygonize, rastermath, resample, retile, sample, stats, terrain)
    from rasters_spark.tiles import tiles_with_cells, with_grid

    rows = _lattice_rows()
    rows[4] = (rows[4][0], rows[4][1][:-4], *rows[4][2:])
    df = spark.createDataFrame(rows, COLS)
    good = spark.createDataFrame(_lattice_rows(), COLS)
    zone = [{"x": x, "y": y} for x, y in ((0.0, -2.0), (3.0, -2.0), (3.0, 0.0), (0.0, -2.0))]
    zones = spark.createDataFrame(
        [(1, 0.0, -2.0, 3.0, 0.0, zone)],
        "poly_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring array<struct<x:double,y:double>>")
    # one point inside every lattice tile
    points = spark.createDataFrame(
        [(ty * NX + tx, (tx + 0.5) * W * CW, (ty + 0.5) * H * CH)
         for ty in range(NY) for tx in range(NX)], "point_id long, x double, y double")
    run = {"focal_tiles": focal.focal_tiles,
           "slope_aspect_hillshade": terrain.slope_aspect_hillshade,
           "stretch_params": stats.stretch_params,
           "histogram": lambda t: stats.histogram(t, 0.0, 10.0, 4),
           "zonal_stats": lambda t: stats.zonal_stats(t, zones),
           "elementwise": lambda t: rastermath.elementwise(t, rastermath.add(1.0)),
           "layer_algebra": lambda t: rastermath.layer_algebra(
               rastermath.align_layers(good, t)),
           "trim": rastermath.trim,
           "polygonize": lambda t: polygonize.polygonize(t, 5.0),
           "retile_split": lambda t: retile.retile_split(t, 2),
           "render_png": render.render_png,
           "pixel_centroids": vector.pixel_centroids,
           "sample_idw": lambda t: sample.sample_idw(
               point_join.point_in_tile_join(points, tiles_with_cells(with_grid(t)))),
           "tile_stats": stats.tile_stats,
           "to_grid_bilinear": lambda t: resample.to_grid_bilinear(t, LATTICE_TARGET),
           "to_grid_med": lambda t: resample.to_grid_stat(t, LATTICE_TARGET, "med"),
           # the default epoch parses the fixture image_id, which t11 is not
           "composite_max": lambda t: resample.composite_max(t, LATTICE_TARGET, F.lit(0)),
           "mosaic_first": lambda t: resample.mosaic_first(t, LATTICE_TARGET),
           "merge_mean": lambda t: resample.merge_mean(t, LATTICE_TARGET),
           "to_grid_nearest": lambda t: resample.to_grid_nearest(t, LATTICE_TARGET),
           "to_gray": lambda t: bands.to_gray(bands.stack_by_rank(t, 3)),
           "gap_fill_stack": lambda t: bands.gap_fill_stack(bands.stack_by_rank(t, 3), 3),
           "resize_spline": lambda t: multimodal.resize_spline(t, 2, 2),
           "tiles_to_geotiff": geotiff.tiles_to_geotiff}[op]
    with pytest.raises(Exception, match=f"image_id '{rows[4][0]}'"):
        run(df).collect()


def test_focal_radius2_crosses_corners(spark, lattice, fmt="raw"):
    g = _global_array(fmt)
    want, _ = _brute(g, 2, "sum")
    got = _collect_tiles(focal.focal_tiles(lattice, radius=2, stat="sum"))
    for ty in range(NY):
        for tx in range(NX):
            crop = want[ty * H:(ty + 1) * H, tx * W:(tx + 1) * W]
            np.testing.assert_allclose(got[f"t{ty}{tx}"], crop.astype(np.float32),
                                       rtol=0, atol=1e-6, equal_nan=True)


@pytest.mark.parametrize("fmt", FMTS[1:])
def test_focal_radius2_crosses_corners_fmts(spark, lattices, fmt):
    test_focal_radius2_crosses_corners(spark, lattices[fmt], fmt)


def test_halo_actually_crosses_tiles(spark, lattice):
    """Re-origin the tiles far apart: edge sums MUST change (the
    adjacent run saw neighbor pixels, the isolated run NaN halo)."""
    from pyspark.sql import functions as F
    isolated = lattice.withColumn(
        "x_origin", F.col("x_origin") * 1000.0).withColumn(
        "y_origin", F.col("y_origin") * 1000.0)
    adj = _collect_tiles(focal.focal_tiles(lattice, 1, "sum"))
    iso = _collect_tiles(focal.focal_tiles(isolated, 1, "sum"))
    # interior cells identical, edge columns between t00 and t01 differ
    a, b = adj["t00"], iso["t00"]
    assert np.allclose(a[1:-1, 1:-1], b[1:-1, 1:-1], equal_nan=True)
    assert not np.allclose(a[:, -1], b[:, -1], equal_nan=True)


def test_layout_mismatch_is_isolated(spark):
    """An abutting tile with a DIFFERENT cell size must not leak into
    the window (separate lattice)."""
    rows = [("a", codec.encode_tile(np.full((H, W), 1.0, np.float32), "raw"),
             W, H, "raw", "EPSG:4326", 0.0, 0.0, CW, CH),
            ("b", codec.encode_tile(np.full((H, W), 100.0, np.float32), "raw"),
             W, H, "raw", "EPSG:4326", W * CW, 0.0, CW / 2, CH)]
    df = spark.createDataFrame(rows, COLS)
    got = _collect_tiles(focal.focal_tiles(df, 1, "max"))
    assert got["a"].max() == 1.0  # no 100s leaked across the layout seam


def test_radius_larger_than_tile_raises(spark, lattice):
    with pytest.raises(Exception, match="radius"):
        focal.focal_tiles(lattice, radius=5, stat="sum").collect()


def test_focal_stats_matches_brute_and_duckdb(spark, lattice):
    g = _global_array()
    s, cnt = _brute(g, 1, "sum")
    want = {}
    for ty in range(NY):
        for tx in range(NX):
            cs = s[ty * H:(ty + 1) * H, tx * W:(tx + 1) * W]
            cc = cnt[ty * H:(ty + 1) * H, tx * W:(tx + 1) * W]
            want[f"t{ty}{tx}"] = (int((cc > 0).sum()),
                                  float(np.where(cc > 0, cs, 0.0).sum()))
    got = {r["image_id"]: (r["focal_cells"], r["focal_sum"])
           for r in focal.focal_stats(lattice, 1).collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0], k
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-9), k

    # relational twin (the contract-oracle shape): exact equality —
    # quarter-integer pixels make every summation order exact
    px = []
    for ty in range(NY):
        for tx in range(NX):
            arr = codec.decode_tile(
                codec.encode_tile(_values(tx, ty).astype(np.float32), "raw"), W, H, "raw")
            for r in range(H):
                for c in range(W):
                    v = arr[r, c]
                    px.append((f"t{ty}{tx}", tx * W + c, ty * H + r,
                               None if np.isnan(v) else float(v)))
    con = duckdb.connect()
    con.register("px", pd.DataFrame(px, columns=["image_id", "gx", "gy", "value"]))
    oracle = con.sql("""
        with offs(dx, dy) as (values (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),
                                     (0,1),(1,-1),(1,0),(1,1)),
        nb as (select c.image_id, c.gx, c.gy, n.value
               from px c join offs o on true
               join px n on n.gx = c.gx + o.dx and n.gy = c.gy + o.dy
               where n.value is not null),
        cellagg as (select image_id, gx, gy, sum(value) s
                    from nb group by 1, 2, 3)
        select image_id, count(*) focal_cells, sum(s) focal_sum
        from cellagg group by 1
    """).df().set_index("image_id")
    for k in want:
        assert int(oracle.loc[k, "focal_cells"]) == got[k][0]
        assert float(oracle.loc[k, "focal_sum"]) == got[k][1], k


def test_lattice_remap_abuts_and_is_sql_replicable(spark, lattice):
    from pyspark.sql import functions as F
    remapped = focal.lattice_remap(lattice, per_row=2)
    rows = {r["image_id"]: (r["x_origin"], r["y_origin"])
            for r in remapped.collect()}
    # row_number over image_id order: t00,t01,t02,t10,t11,t12 → per_row=2
    assert rows["t00"] == (0.0, 0.0)
    assert rows["t01"] == (W * CW, 0.0)
    assert rows["t02"] == (0.0, H * CH)
    assert rows["t10"] == (W * CW, H * CH)
    # every origin is an exact lattice multiple → strips join exactly
    out = focal.focal_stats(remapped, 1)
    assert out.count() == NX * NY


def test_focal_rank_stats_match_global_brute(spark, lattice, fmt="raw"):
    """Median/majority per cell vs a per-cell Python brute force over the
    assembled global array — including tile-edge cells (halo path) and
    the tie-break rule (max count, then SMALLEST value)."""
    g = _global_array(fmt)
    out = focal.focal_rank_stats(lattice, 1).collect()
    got = {(r.image_id, r.prow, r.pcol): (r.med, r.maj, r.n) for r in out}
    gh, gw = g.shape
    pad = np.full((gh + 2, gw + 2), np.nan)
    pad[1:-1, 1:-1] = g
    n_checked = 0
    for gi in range(gh):
        for gj in range(gw):
            win = pad[gi:gi + 3, gj:gj + 3]
            vals = sorted(win[np.isfinite(win)].tolist())
            iid = f"t{gi // H}{gj // W}"
            key = (iid, gi % H, gj % W)
            if not vals:
                assert key not in got
                continue
            m = len(vals)
            med = vals[m // 2] if m % 2 else (vals[m // 2 - 1] + vals[m // 2]) / 2.0
            from collections import Counter
            cnt = Counter(vals)
            best = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))[0]
            assert got[key] == (med, best, m)
            n_checked += 1
    assert n_checked == len(got)


@pytest.mark.parametrize("fmt", FMTS[1:])
def test_focal_rank_stats_match_global_brute_fmts(spark, lattices, fmt):
    test_focal_rank_stats_match_global_brute(spark, lattices[fmt], fmt)


def test_focal_majority_tie_breaks_to_smallest_value(spark):
    # a single 3x3 tile whose center window holds {1.0 x4, 2.0 x4, 3.0}:
    # counts tie at 4 -> majority must be the SMALLER value 1.0
    arr = np.array([[1.0, 2.0, 1.0],
                    [2.0, 3.0, 2.0],
                    [1.0, 2.0, 1.0]], dtype=np.float32)
    df = spark.createDataFrame(
        [("t", codec.encode_tile(arr, "raw"), 3, 3, "raw", "EPSG:4326",
          0.0, 0.0, CW, CH)], COLS)
    out = {(r.prow, r.pcol): r.maj for r in focal.focal_rank_stats(df, 1).collect()}
    assert out[(1, 1)] == 1.0


def test_proximity_matches_global_brute(spark, lattice, fmt="raw"):
    """Radius-2 proximity vs per-cell brute force over the global array
    (threshold chosen mid-range so both targets and far cells exist)."""
    import math
    g = _global_array(fmt)
    thr = {"i32": 20.0, "b1": 1.0}.get(fmt, 5.0)
    got = {(r.image_id, r.prow, r.pcol): (r.prox, r.n_t)
           for r in focal.proximity_stats(lattice, thr, 2).collect()}
    gh, gw = g.shape
    n_checked = 0
    for gi in range(gh):
        for gj in range(gw):
            if not np.isfinite(g[gi, gj]):
                continue
            best, n_t = None, 0
            for dy in range(-2, 3):
                for dx in range(-2, 3):
                    ni, nj = gi + dy, gj + dx
                    if 0 <= ni < gh and 0 <= nj < gw and np.isfinite(g[ni, nj]) \
                            and g[ni, nj] >= thr:
                        n_t += 1
                        d = math.sqrt(float(dx * dx + dy * dy))
                        if best is None or d < best:
                            best = d
            key = (f"t{gi // H}{gj // W}", gi % H, gj % W)
            exp_prox, exp_n = got[key]
            assert exp_n == n_t, key
            if best is None:
                assert exp_prox is None or np.isnan(exp_prox), key
            else:
                assert exp_prox == best, key
            n_checked += 1
    assert n_checked == len(got)


@pytest.mark.parametrize("fmt", FMTS[1:])
def test_proximity_matches_global_brute_fmts(spark, lattices, fmt):
    test_proximity_matches_global_brute(spark, lattices[fmt], fmt)


def test_morph_open_two_pass_composition(spark, lattice):
    """Opening = dilation of the erosion — verify the two chained halo
    passes against a global-array brute force (NaN-ignoring at both
    levels), including tile-seam cells."""
    g = _global_array()
    eroded, _ = _brute(g, 1, "min")
    opened, _ = _brute(eroded, 1, "max")
    out = focal.focal_tiles(focal.focal_tiles(lattice, 1, "min"), 1, "max")
    got = {}
    for row in out.collect():
        arr = codec.decode_tile(row["bytes"], row["w"], row["h"], "raw")
        got[row["image_id"]] = arr
    for ty in range(NY):
        for tx in range(NX):
            crop = opened[ty * H:(ty + 1) * H, tx * W:(tx + 1) * W]
            np.testing.assert_allclose(
                got[f"t{ty}{tx}"], crop.astype(np.float32),
                rtol=0, atol=0, equal_nan=True, err_msg=f"tile t{ty}{tx}")
