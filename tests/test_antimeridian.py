"""kNN candidate wrap across the antimeridian (cells.ring_cells pmod)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rasters_spark import codec, grid
from rasters_spark.operators import knn


def _tile_row(iid, x0, y0, w=8, h=8):
    arr = np.full((h, w), 1.0, dtype=np.float32)
    return (iid, codec.encode_tile(arr, "raw"), w, h, "raw", x0, y0, 1.0 / w, -1.0 / h, "EPSG:4326")


def test_knn_wraps_the_seam(spark):
    schema = ("image_id string, bytes binary, w int, h int, fmt string, x_origin double, "
              "y_origin double, cell_width double, cell_height double, crs string")
    rows = [
        _tile_row("west_of_seam", -180.0, 1.0),   # footprint [-180,-179]×[0,1]
        _tile_row("east_of_seam", 179.0, 1.0),    # footprint [179,180]×[0,1]
        _tile_row("far_away", -90.0, 1.0),
    ]
    t = spark.createDataFrame(rows, schema)
    t = t.withColumn("grid", grid.grid_struct("x_origin", "y_origin", "cell_width",
                                              "cell_height", F.col("h"), F.col("w"), "crs"))
    t = t.withColumn("bbox", grid.grid_bbox(F.col("grid")))
    # query just EAST of the seam: nearest tiles are east_of_seam (same side)
    # and west_of_seam (across the wrap) — the latter is only reachable if
    # ring candidacy wraps longitudes
    pts = spark.createDataFrame([(1, 179.9, 0.5)], "point_id long, x double, y double")
    got = knn.knn_tiles(pts, t, k=3, ring=2).orderBy("rank").collect()
    ids = [r.image_id for r in got]
    assert "east_of_seam" in ids
    assert "west_of_seam" in ids, "antimeridian wrap candidate missed"
    assert "far_away" not in ids  # beyond the ring radius
    # NOTE: ranking uses raw coordinate distance (no wrap in the metric
    # itself — matches the reference's planar distances); candidacy wraps.
    assert ids[0] == "east_of_seam"


def test_wrapped_bbox_registers_o1_cells(spark):
    from rasters_spark import cells
    from rasters_spark.functions import vector as vecfn
    # seam-straddling ring: x 179.2 .. -179.5 (1.3 deg wide across the seam)
    ring = [{"x": 179.2, "y": 10.0}, {"x": -179.5, "y": 10.0},
            {"x": -179.5, "y": 11.0}, {"x": 179.2, "y": 11.0}, {"x": 179.2, "y": 10.0}]
    df = spark.createDataFrame([(ring,)], "ring array<struct<x double, y double>>")
    # the cell registrations take bbox columns by name (SQL text)
    boxed = df.select(vecfn.ring_bbox_am(F.col("ring")).alias("bb"),
                      vecfn.ring_bbox(F.col("ring")).alias("naive"))
    bb = F.col("bb")
    row = boxed.select(
        bb["xmin"].alias("xmin"), bb["xmax"].alias("xmax"),
        vecfn.bbox_width_am(bb).alias("width"),
        F.size(cells.cells_for_bbox_am("bb", 7)).alias("n_cells"),
        F.size(cells.cells_for_bbox("naive", 7)).alias("n_cells_naive"),
    ).collect()[0]
    # reference convention: xmin = min positive x, xmax = max negative x
    assert row.xmin == 179.2 and row.xmax == -179.5
    assert row.width == pytest.approx(1.3)
    # split registration: O(1) cells at level 7 (1.40625 deg) vs O(world)
    assert row.n_cells <= 6
    assert row.n_cells_naive > 200  # what the naive world-spanning bbox costs


def test_wrapped_bbox_pip_candidates(spark):
    from rasters_spark.operators import joins
    ring = [{"x": 179.0, "y": 0.0}, {"x": -179.0, "y": 0.0},
            {"x": -179.0, "y": 1.0}, {"x": 179.0, "y": 1.0}, {"x": 179.0, "y": 0.0}]
    polys = spark.createDataFrame(
        [(1, ring, True, 1.0, 179.0, 0.0, -179.0, 1.0)],
        "poly_id long, ring array<struct<x double, y double>>, is_rect boolean, "
        "burn_value double, xmin double, ymin double, xmax double, ymax double")
    pts = spark.createDataFrame(
        [(1, 179.5, 0.5), (2, -179.5, 0.5), (3, 0.0, 0.5), (4, 178.0, 0.5)],
        "point_id long, x double, y double")
    got = {r.point_id for r in
           joins.points_in_polygons(pts, polys, bbox_only=True).collect()}
    # both seam sides match; the far point and the west-of-xmin point don't
    assert got == {1, 2}


def test_wrapped_polygon_exact_pip(spark):
    from rasters_spark.operators import joins
    ring = [{"x": 179.0, "y": 0.0}, {"x": -179.0, "y": 0.0},
            {"x": -179.0, "y": 1.0}, {"x": 179.0, "y": 1.0}, {"x": 179.0, "y": 0.0}]
    polys = spark.createDataFrame(
        [(1, ring, True, 1.0, 179.0, 0.0, -179.0, 1.0)],
        "poly_id long, ring array<struct<x double, y double>>, is_rect boolean, "
        "burn_value double, xmin double, ymin double, xmax double, ymax double")
    pts = spark.createDataFrame(
        [(1, 179.5, 0.5), (2, -179.5, 0.5), (3, 0.0, 0.5), (4, 178.0, 0.5)],
        "point_id long, x double, y double")
    # the EXACT ray-cast path (default) must agree with the bbox path on
    # a wrapped rectangle: the kernel shifts ring+points into 0..360
    got = {r.point_id for r in joins.points_in_polygons(pts, polys).collect()}
    assert got == {1, 2}


def test_wide_swath_without_crossing_not_shifted(spark):
    from rasters_spark.operators import swath as swathops
    # 190-degree-wide swath that NEVER crosses the seam: resize must not
    # apply the +-360 shift (a max-min>180 test would corrupt it)
    rows = [(0, 0, c, -95.0 + 10.0 * c, 10.0) for c in range(20)]
    rows += [(0, 1, c, -95.0 + 10.0 * c, 9.0) for c in range(20)]
    df = spark.createDataFrame(rows, "swath_id long, row long, col long, x double, y double")
    same = {(r.row, r.col): r.x for r in swathops.swath_resize(df, 2, 20, order=1).collect()}
    for (sid, r, c, x, y) in rows:
        assert same[(r, c)] == pytest.approx(x, abs=1e-9)
