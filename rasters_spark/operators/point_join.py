"""Point-in-tile spatial join — the engine's flagship stage.

Spark shape (SURVEY §3 EP1): a spatial theta-join reduced to an
equi-join on ``cell_id`` + a residual in-bounds refinement, all
closed-form SQL. The point side is usually small → broadcast; at
10^12-tile scale the tile side stays shuffle-free when the table is
bucketed by cell (its scan is already hash-distributed on the join
key), and AQE skew-join + optional salting absorb hot cells.

Containment semantics transcribed from the reference: a point belongs
to a tile iff its banker's-rounded center-affine index lands inside
``[0, rows) × [0, cols)`` (raster_grid.py:717-735 + the out-of-bounds
→ NaN rule of raster.py:1303-1304). Points outside every tile drop
(inner join) — the relational form of "return NaN".
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_spark import cells, fixtures, grid


def point_in_tile_join(
    points: DataFrame,
    tiles_cells: DataFrame,
    level: int = fixtures.CELL_LEVEL,
    broadcast_points: bool = True,
    n_salts: int | None = None,
    payload_cols: tuple[str, ...] = ("bytes", "w", "h", "fmt", "caption", "phash"),
    broadcast_matched: bool | None = None,
) -> DataFrame:
    """points(point_id,x,y) ⋈ tiles_cells(cell_id, grid, …) → matched pairs
    with per-point pixel indices (prow, pcol).

    Index-then-fetch: the cell-explode + join runs on a SKINNY index
    (image_id, grid, cell_id) so the multi-KB pixel payload is never
    replicated through the footprint fanout or the skewed hot cells;
    payload columns are re-attached afterwards by an equi-join on
    image_id over only the MATCHED pairs. At 10^12 tiles this is the
    difference between shuffling terabytes of pixels and shuffling a
    few-byte index.

    ``n_salts``: spread hot cells over N composite keys — the big (tile)
    side gets a deterministic per-row salt, the small (point) side
    explodes all N salts. Leave None to rely on AQE skew splitting.
    """
    payload_cols = tuple(c for c in payload_cols if c in tiles_cells.columns)
    exploded = "cell_id" in tiles_cells.columns
    # Round-6 replan: with the pixel decode now pure JVM
    # (sample.pixel_value_sql), payload columns RIDE THE SCAN inline
    # when the point side broadcasts — the whole flagship collapses to
    # ONE stage (scan → cell explode → broadcast probe → decode →
    # project) with zero exchanges, so the blob is only ever a pointer
    # inside the codegen pipeline; the former index-then-fetch split
    # (skinny join + matched-pair broadcast + payload re-scan) existed
    # to keep bytes out of the Arrow boundary and cost a second scan +
    # a driver-serial broadcast build per run. The split shape survives
    # below for the non-broadcast (huge point side / bucketed payload)
    # path, where the fanout would materialize blobs into an exchange.
    bm = broadcast_points if broadcast_matched is None else broadcast_matched
    inline_payload = bool(payload_cols) and broadcast_points and bm
    if exploded:
        index = tiles_cells if inline_payload else tiles_cells.drop(*payload_cols)
        payload_src = (None if inline_payload or not payload_cols
                       else tiles_cells.drop("cell_id").dropDuplicates(["image_id"]))
    else:
        from rasters_spark.tiles import tiles_with_cells

        src = tiles_cells if inline_payload else tiles_cells.drop(*payload_cols)
        index = tiles_with_cells(src, level)
        payload_src = None if inline_payload or not payload_cols else tiles_cells
    cid = cells.cell_id_sql("x", "y", level)
    pts_cols = [f"`{c}`" for c in points.columns if c != "crs"]
    if n_salts:
        # big side: cell_id·S + hash salt; small side: every salt of its cell
        index = index.selectExpr(
            "*", f"cell_id * {n_salts} + pmod(xxhash64(image_id), {n_salts}) AS join_key")
        pts = points.selectExpr(
            *pts_cols, f"explode(sequence(({cid}) * {n_salts}, ({cid}) * {n_salts} + {n_salts - 1})) AS join_key")
        key = "join_key"
    else:
        pts = points.selectExpr(*pts_cols, f"{cid} AS cell_id")
        key = "cell_id"
    j = index.join(pts.hint("broadcast") if broadcast_points else pts, key)
    # inline payload: reproduce the historical column order of the split
    # shape — join cols, then prow/pcol, payload last (callers select by
    # name anyway)
    last = payload_cols if inline_payload else ()
    j = j.selectExpr(
        *(f"`{c}`" for c in j.columns if c not in last),
        f"{grid.point_index_sql('grid', 'y', 'y')} AS prow",
        f"{grid.point_index_sql('grid', 'x', 'x')} AS pcol",
        *(f"`{c}`" for c in last),
    ).filter(grid.in_bounds_sql("grid", "prow", "pcol"))
    if payload_src is not None:
        # matched pairs are bounded by |points|·fanout when the point side
        # was broadcast-able → broadcast them and STREAM the payload scan
        # (no shuffle of pixel bytes). With a huge point side, fall back to
        # an AQE-planned equi-join on image_id.
        #
        # The broadcast is SLIMMED to the per-match facts (point columns +
        # image_id/cell_id + prow/pcol): tile geometry (grid/bbox/origins)
        # is re-derived from the streamed payload scan instead of riding
        # the serial driver collect — a few-MB hash relation instead of
        # tens of MB of repeated structs (the measured ~1 s Amdahl term
        # of the 2→8 scaling pair at sf1).
        out_cols = [c for c in j.columns] + list(payload_cols)
        tile_side = [c for c in index.columns if c not in ("image_id", "cell_id", key)]
        slim = j.drop(*[c for c in tile_side if c in j.columns])
        # ``broadcast_matched``: the matched-pair set is |points|·fanout
        # rows — at ~10^5 points broadcasting it streams the payload scan
        # with zero shuffle, but at 10^6+ the driver-serial broadcast
        # build becomes the Amdahl term (measured: flagship 2→8-core
        # efficiency fell 0.95 → 0.47 at 1M points). None = follow
        # broadcast_points. False plans a payload equi-join instead —
        # only sensible when the tile table is BUCKETED on image_id
        # (tableio.write_bucketed), else the blobs shuffle (measured 6×
        # slower). For a huge point side prefer
        # sample.sample_nearest_grouped, which shuffles point structs
        # only (0.84 eff at 1M points) — see q_point_sample_join_grouped.
        matched = F.broadcast(slim) if bm else slim
        j = payload_src.join(matched, "image_id").select(*out_cols)
    return j
