"""kNN tile lookup via cell-ring expansion (north-rule operator).

Reference analogue: ``KDTree`` k-neighbour search (kdtree.py:52-202,
``neighbours`` param :76) and ``RasterGeolocation.index_point``
(raster_geolocation.py:130-143). The reference builds an in-memory
cKDTree; here candidate generation is a bounded ring expansion around
the query's cell — an equi-join — followed by a per-query top-k window.

Contract (mirrors the radius-of-influence semantics kdtree.py:168-179):
candidates are all tiles registered in any cell within Chebyshev ring
``R`` of the query point's cell. With cell size ``s`` this guarantees
every tile whose footprint comes within ``R·s`` of the point is
considered; tiles farther than the ring bound may be missed — exactly
the reference's "beyond radius → fill/miss" behavior, with
radius = R·s playing the role of 2.0 × max(cell_size) (kdtree.py:27).

Distance = Euclidean degrees between the query point and the tile
centroid. Ties broken deterministically by image_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_spark import cells, fixtures


def knn_tiles(
    points: DataFrame,
    tiles: DataFrame,
    k: int = 3,
    ring: int = 2,
    level: int = fixtures.CELL_LEVEL,
) -> DataFrame:
    """→ (point_id, image_id, rank, dist): k nearest tiles per point.

    Scale notes: the ring explode multiplies the (small) point side by
    (2R+1)², the tile side is its skinny cell index — the join stays an
    equi-join on cell_id with the same salting/AQE story as the
    flagship. Points with fewer than k candidates return what exists
    (reference: fill_value for misses, kdtree.py:300-310).
    """
    # Ring expansion rides the STREAMED tile index, not the broadcast:
    # point p (cell c) matches tile t iff some footprint cell of t is
    # within Chebyshev R of c ⟺ c lies in the union of R-rings around
    # t's footprint cells — the same candidate set either way (dups
    # collapse in collect_set below). Exploding the big side is a
    # parallel map over the scan; exploding the point side ×(2R+1)²
    # before F.broadcast made the serial driver collect 25× fatter.
    # (the tile CENTROID is flattened to two doubles BEFORE any explode —
    # nested grid-field extraction through stacked Generate nodes trips
    # Spark's INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND schema-pruning bug, and
    # two doubles are narrower than the grid struct anyway)
    bbox_input = "cell_id" not in tiles.columns
    flat = tiles.selectExpr(
        "image_id",
        # 2.0E0: a DOUBLE literal (grid.double_sql)
        "grid.x_origin + grid.cell_width * cast(grid.cols as double) / 2.0E0 AS _cx",
        "grid.y_origin + grid.cell_height * cast(grid.rows as double) / 2.0E0 AS _cy",
        "bbox" if bbox_input else "cell_id",
    )
    if bbox_input:
        # round-6: one explode of the DISTINCT ring union per tile
        # (padded bbox rectangle, cells.ring_cells_bbox) instead of
        # cells explode × per-cell ring explode — the same candidate
        # set with ~40% fewer generated rows and no duplicate
        # (point, tile) pairs (measured 1.57M → 0.9M ring rows,
        # 2.7M → 1.6M join candidates at sf0.1)
        ring_sql = cells.ring_cells_bbox_sql(*cells.bbox_fields("bbox"), level, ring)
    else:
        ring_sql = cells.ring_cells_sql("cell_id", level, ring)
    index = flat.selectExpr("image_id", "_cx", "_cy", f"explode({ring_sql}) AS cell_id")
    pts = points.selectExpr("point_id", "x", "y", f"{cells.cell_id_sql('x', 'y', level)} AS cell_id")
    j = index.join(pts.hint("broadcast"), "cell_id")
    # dx*dx, not pow(dx,2): plain multiplication is bit-identical across
    # engines (numpy / DuckDB oracle), libm pow is not guaranteed to be
    dist = "sqrt((_cx - x) * (_cx - x) + (_cy - y) * (_cy - y))"
    if bbox_input:
        # Round-6 top-k: candidate pairs are DISTINCT by construction
        # (ring_cells_bbox), so the per-point top-k is a plain
        # row_number window with the (dist, image_id) total order —
        # and Spark's WindowGroupLimit pushes a per-task partial top-k
        # BELOW the exchange, so each map task locally keeps only k
        # rows per point and the shuffle carries ~k·|points| rows
        # instead of the full ring fanout. Candidate volume grows
        # ~quadratically with scale (tiles/cell × points/cell): at sf1
        # (200k tiles / 500k points, 114M candidates) the former
        # collect_set aggregate spent ~16 s hash-inserting structs —
        # the window-group-limit plan does the same top-k inside
        # codegen'd sorts (measured 18.5 s → 7.8 s at sf1, parity at
        # sf0.1).
        return (j.selectExpr("point_id", "image_id", f"{dist} AS dist")
                .selectExpr("point_id", "image_id",
                            "row_number() OVER (PARTITION BY point_id ORDER BY dist, image_id) AS rank",
                            "dist")
                .filter(f"rank <= {k}"))
    j = j.selectExpr("*", f"{dist} AS dist")
    # pre-exploded cell_id input: per-cell rings can emit the same
    # (point, tile) pair via several cells — collect_set dedups while
    # aggregating, with partial per-(point, input-partition) truncation
    # (guide §2.3) so the exchange stays ~k·|points|·|partitions|. A
    # duplicate can never evict a true candidate from a partial slice:
    # the set dedups within the partition first.
    struct_ = F.struct(F.col("dist").alias("dist"),
                       F.col("image_id").alias("image_id"))
    part = j.groupBy("point_id", F.spark_partition_id().alias("_pid")).agg(
        F.slice(F.array_sort(F.collect_set(struct_)), 1, k).alias("ptop"))
    top = (part.select("point_id", F.explode("ptop").alias("t"))
           .groupBy("point_id")
           .agg(F.slice(F.array_sort(F.collect_set(F.col("t"))), 1, k).alias("top")))
    return top.select(
        "point_id", F.posexplode("top").alias("pos", "t")
    ).select(
        "point_id", F.col("t")["image_id"].alias("image_id"),
        (F.col("pos") + 1).alias("rank"), F.col("t")["dist"].alias("dist"),
    )
