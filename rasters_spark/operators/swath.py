"""Swath (RasterGeolocation) operators — curvilinear geometry as a long table.

The reference's swath is two 2-D geolocation arrays x[r,c], y[r,c]
(raster_geolocation.py:23-71). Relational form: an exploded table
``(swath_id, row, col, x, y[, value])`` — per-pixel coordinates as
columns, which is exactly what curvilinear grids need (no closed-form
inverse affine exists).

Transcribed semantics:
- ``index``/subset is BBOX-based, not point-in-polygon
  (raster_geolocation.py:145-172, SURVEY §1.3(3)): a pixel is selected
  iff x∈[xmin,xmax] ∧ y∈[ymin,ymax] — both bounds INCLUSIVE;
- the subset window is the tight bounds of the mask ± an optional
  pixel buffer, clamped (raster_geolocation.py:374-409);
- ``index_point`` = nearest pixel by Euclidean distance
  (cKDTree.query, raster_geolocation.py:130-143) — here a cell-bucket
  join + min_by(dist), same pattern as knn.py;
- swath→grid NN resampling (KDTree semantics kdtree.py:52-202):
  nearest swath pixel to each target cell center, misses beyond the
  radius dropped (radius-of-influence contract kdtree.py:168-179).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_spark import cells, grid


def swath_bbox_mask(swath: DataFrame, xmin, ymin, xmax, ymax) -> DataFrame:
    """Pixels inside the geometry BBOX (inclusive both ends —
    raster_geolocation.py:145-172; deliberately NOT true PIP)."""
    return swath.filter(
        (F.col("x") >= xmin) & (F.col("x") <= xmax)
        & (F.col("y") >= ymin) & (F.col("y") <= ymax)
    )


def swath_window(swath: DataFrame, xmin, ymin, xmax, ymax, buffer: int = 0) -> DataFrame:
    """Tight row/col window of the bbox mask ± buffer, clamped to the
    swath extent (raster_geolocation.py:374-409) → one row per swath_id:
    (swath_id, row_start, row_end, col_start, col_end). Empty masks
    vanish (reference raises on no overlap)."""
    masked = swath_bbox_mask(swath, xmin, ymin, xmax, ymax)
    ext = swath.groupBy("swath_id").agg(
        F.max("row").alias("max_row"), F.max("col").alias("max_col"))
    w = masked.groupBy("swath_id").agg(
        F.min("row").alias("r0"), F.max("row").alias("r1"),
        F.min("col").alias("c0"), F.max("col").alias("c1"),
    )
    return (
        w.join(ext, "swath_id")
        .select(
            "swath_id",
            F.greatest(F.col("r0") - buffer, F.lit(0)).alias("row_start"),
            F.least(F.col("r1") + buffer, F.col("max_row")).alias("row_end"),
            F.greatest(F.col("c0") - buffer, F.lit(0)).alias("col_start"),
            F.least(F.col("c1") + buffer, F.col("max_col")).alias("col_end"),
        )
    )


def swath_index_point(swath: DataFrame, points: DataFrame, level: int = 10) -> DataFrame:
    """Nearest swath pixel per query point (raster_geolocation.py:130-143)
    via cell-bucket candidates + min_by distance; ring 1 so the true NN
    in an adjacent bucket is not missed. → (point_id, swath_id, row,
    col, dist)."""
    cid = cells.cell_id_sql("x", "y", level)
    sw = swath.selectExpr("*", f"{cid} AS cell")
    pts = points.selectExpr("point_id", "x AS qx", "y AS qy",
                            f"explode({cells.ring_cells_sql(cid, level, 1)}) AS cell")
    dx = F.col("x") - F.col("qx")
    dy = F.col("y") - F.col("qy")
    j = sw.join(F.broadcast(pts), "cell").withColumn("dist", F.sqrt(dx * dx + dy * dy))
    best = j.groupBy("point_id", "swath_id").agg(
        F.min_by(F.struct("row", "col", "dist"), F.struct("dist", "row", "col")).alias("b"))
    return best.select("point_id", "swath_id", F.col("b.row").alias("row"),
                       F.col("b.col").alias("col"), F.col("b.dist").alias("dist"))


def swath_own_grid(swath: DataFrame, cell_size: float) -> dict:
    """Auto-derive a swath's own uniform grid (Raster.grid_raster /
    grid_to_crs semantics, raster.py:1236-1260: nanmin/max extent ±
    half-cell padding). Driver-side: one extent aggregate."""
    ext = swath.agg(
        F.min("x").alias("xmin"), F.min("y").alias("ymin"),
        F.max("x").alias("xmax"), F.max("y").alias("ymax"),
    ).collect()[0]
    if ext.xmin is None:
        raise ValueError("swath_own_grid: empty swath")
    x0 = ext.xmin - cell_size / 2
    y0 = ext.ymax + cell_size / 2
    import math

    cols = max(int(math.ceil((ext.xmax + cell_size / 2 - x0) / cell_size)), 1)
    rows = max(int(math.ceil((y0 - (ext.ymin - cell_size / 2)) / cell_size)), 1)
    return dict(x_origin=x0, y_origin=y0, cell_width=cell_size, cell_height=-cell_size,
                rows=rows, cols=cols, crs="EPSG:4326")


def swath_to_grid_twohop(swath: DataFrame, target: dict, own_cell_size: float) -> DataFrame:
    """Non-NN swath→grid resampling takes two hops in the reference
    (raster.py:1350-1358): swath → its OWN uniform grid via NN, then
    own-grid → target with the real kernel (average here). Both hops are
    pure SQL: NN = min_by per own-cell, average = group by target cell
    of own-cell centers. → (swath_id, trow, tcol, value, n)."""
    og = swath_own_grid(swath, own_cell_size)
    hop1 = swath_to_grid_nn(swath, og, radius=2.0 * own_cell_size).select(
        "swath_id", F.col("trow").alias("orow"), F.col("tcol").alias("ocol"), "value")
    g1 = grid.grid_struct(**og)
    tg = grid.grid_struct(**target)
    cx = grid.cell_center_x(g1, F.col("ocol"))
    cy = grid.cell_center_y(g1, F.col("orow"))
    hop2 = (
        hop1.withColumn("trow", grid.point_row(tg, cy))
        .withColumn("tcol", grid.point_col(tg, cx))
        .filter(grid.in_bounds(tg, F.col("trow"), F.col("tcol")))
        .groupBy("swath_id", "trow", "tcol")
        .agg((F.sum("value") / F.count("value")).alias("value"), F.count("value").alias("n"))
    )
    return hop2


def grid_to_geolocation_nn(tiles: DataFrame, swath: DataFrame,
                           level: int | None = None) -> DataFrame:
    """Raster.to_geolocation (raster.py:1434-1443; also the
    RasterGeolocation branch of to_geometry, raster.py:1445-1479):
    NN-sample a GRIDDED source at every swath pixel position — the
    grid→swath direction that closes the resample matrix.

    Relational form: the swath long table IS a point table, so this is
    ``point_in_tile_join`` (skinny cell index, broadcast swath side,
    payload re-attached on matched pairs only) + the O(1) JVM byte
    fetch. Swath pixels outside every tile drop (the reference's
    fill-nodata). → (swath_id, row, col, image_id, prow, pcol, value).
    """
    from rasters_spark import fixtures
    from rasters_spark.operators import point_join, sample

    pts = swath.select(
        "swath_id", F.col("row").alias("srow"), F.col("col").alias("scol"), "x", "y")
    j = point_join.point_in_tile_join(
        pts, tiles, level or fixtures.CELL_LEVEL, payload_cols=("bytes", "w", "h", "fmt"))
    v = sample.sample_nearest(j)
    return v.select(
        "swath_id", F.col("srow").alias("row"), F.col("scol").alias("col"),
        "image_id", "prow", "pcol", "value")


def swath_resize(swath: DataFrame, rows_target: int, cols_target: int,
                 order: int = 2) -> DataFrame:
    """RasterGeolocation.resize (raster_geolocation.py:294-333): spline
    zoom of the x/y geolocation fields to new dimensions, default
    order 2, with the antimeridian fixup transcribed verbatim — when
    the swath crosses the seam, x<0 pixels shift +360 BEFORE the zoom
    and x≥180 shift −360 after, so the interpolation never spans the
    ±180 discontinuity.

    One pandas group per swath_id (a swath is a bounded per-granule
    object — the natural kernel unit; cross-swath parallelism is the
    scale axis). → (swath_id, row, col, x, y) at the new shape.
    """
    import numpy as np
    import pandas as pd

    from rasters_spark import spline

    schema = "swath_id long, row long, col long, x double, y double"

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = int(pdf["row"].max()) + 1
        cols = int(pdf["col"].max()) + 1
        x = np.full((rows, cols), np.nan)
        y = np.full((rows, cols), np.nan)
        x[pdf["row"], pdf["col"]] = pdf["x"]
        y[pdf["row"], pdf["col"]] = pdf["y"]
        # edge-wrap crossing test (engine re-expression, crs.py:216):
        # an ADJACENT-pixel jump > 180° means the seam is crossed; a
        # plain max−min>180 test would false-positive on any swath wider
        # than a hemisphere and corrupt its geolocation
        use_shift = bool(
            np.any(np.abs(np.diff(x, axis=0)) > 180.0)
            or np.any(np.abs(np.diff(x, axis=1)) > 180.0))
        if use_shift:
            x = np.where(x < 0, 360.0 + x, x)
        xr = spline.resize(x, rows_target, cols_target, order)
        yr = spline.resize(y, rows_target, cols_target, order)
        if use_shift:
            xr = np.where(xr >= 180.0, xr - 360.0, xr)
        rr, cc = np.indices((rows_target, cols_target))
        return pd.DataFrame({
            "swath_id": pdf["swath_id"].iloc[0],
            "row": rr.ravel(), "col": cc.ravel(),
            "x": xr.ravel(), "y": yr.ravel(),
        })

    return swath.groupBy("swath_id").applyInPandas(kernel, schema=schema)


def swath_to_grid_nn(swath: DataFrame, target: dict, radius: float | None = None) -> DataFrame:
    """Swath→grid NN resample: assign each swath pixel to the target
    cell containing it (banker's-rounded inverse affine), keep the
    pixel nearest to the cell center, drop misses beyond ``radius``
    (reference default 2×max cell size, kdtree.py:27,168-179).
    → (swath_id, trow, tcol, value, dist)."""
    tg = grid.grid_struct(**target)
    if radius is None:
        # reference default: 2.0 × max cell_size_meters over the two
        # geometries (kdtree.py:27,168-179); swath source cell size is
        # unknown without a stats pass → target-only, converted back to
        # CRS units through the same quirk factor (grid.py helpers)
        radius = grid.meters_to_crs_units(
            grid.kdtree_radius_meters(None, target), target)
    s = (
        swath.withColumn("trow", grid.point_row(tg, F.col("y")))
        .withColumn("tcol", grid.point_col(tg, F.col("x")))
        .filter(grid.in_bounds(tg, F.col("trow"), F.col("tcol")))
        .withColumn("cx", grid.cell_center_x(tg, F.col("tcol")))
        .withColumn("cy", grid.cell_center_y(tg, F.col("trow")))
    )
    dx = F.col("x") - F.col("cx")
    dy = F.col("y") - F.col("cy")
    s = s.withColumn("dist", F.sqrt(dx * dx + dy * dy)).filter(F.col("dist") <= radius)
    best = s.groupBy("swath_id", "trow", "tcol").agg(
        F.min_by(F.struct("value", "dist"), F.struct("dist", "row", "col")).alias("b"))
    return best.select("swath_id", "trow", "tcol",
                       F.col("b.value").alias("value"), F.col("b.dist").alias("dist"))
