"""Polygonize: connected-component regions over a thresholded tile set.

Raster→vector region labeling (the GDAL ``polygonize`` analogue —
EXTENSION beyond the reference, which has no region family):
4-adjacent connected components of the mask ``value >= threshold``
across the WHOLE lattice, tile seams included. The canonical region id
is the component's minimum global pixel key ``gy·2³² + gx`` —
engine-reproducible with no dependence on visit order.

Scale design — the three-stage shape every distributed CCL uses
(tile-local labeling + boundary graph + tiny global reduction):
1. **map-only local CCL** per tile (row-run union-find — O(rows)
   Python steps, all per-pixel work vectorized) → per-region summary
   rows (node key = tile-local min pixel key, pixel count) and masked
   BOUNDARY-pixel rows. Both outputs are skinny: O(regions) and
   O(perimeter) per tile; the tile payload never leaves its task.
2. **seam edges**: two self-equi-joins of the boundary rows on global
   (gx+1, gy) / (gx, gy+1) adjacency — the joined set is perimeter
   pixels only, ~4/√A of the data.
3. **global label propagation** over the (node, node) seam graph —
   ``datapipe.dedup.dup_groups`` (iterative min-label broadcast joins,
   the same operator that clusters near-duplicate documents); the
   graph has one node per tile-local REGION, orders of magnitude
   smaller than pixels. Region summaries then fold with
   ``sum(n_pixels)`` per root.

Mixed layouts: the global pixel key is layout-local (two layout groups
can reuse (gx, gy)); process one layout group per call — the contract
entry filters the (w=64, h=48) group and the docstring of
``polygonize`` makes the requirement loud.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_spark.tiles import TILE_KEEP, TILE_SCHEMA, map_tiles, raw_tile

_KEY_STRIDE = 1 << 32


def _local_ccl(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """Tile-local 4-adjacency CCL via row-run union-find: labels are
    0..n_runs-1 run ids resolved to component roots. Returns the
    per-pixel root-run grid (-1 outside the mask) and the run count.
    Python work is O(rows + overlapping run pairs); per-pixel work is
    vectorized."""
    h, w = mask.shape
    run_id = np.full((h, w), -1, dtype=np.int64)
    parent: list[int] = []

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union(a: int, b: int) -> None:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    prev_runs = None  # (starts, ends, ids) of the previous row
    for i in range(h):
        row = mask[i]
        if not row.any():
            prev_runs = None
            continue
        d = np.diff(np.concatenate(([0], row.view(np.int8), [0])))
        starts = np.nonzero(d == 1)[0]
        ends = np.nonzero(d == -1)[0]          # exclusive
        ids = np.arange(len(parent), len(parent) + len(starts), dtype=np.int64)
        parent.extend(range(len(parent), len(parent) + len(starts)))
        for s, e, rid in zip(starts, ends, ids):
            run_id[i, s:e] = rid
        if prev_runs is not None:
            ps, pe, pid = prev_runs
            # overlapping column ranges → union (two-pointer sweep)
            a = b = 0
            while a < len(starts) and b < len(ps):
                if starts[a] < pe[b] and ps[b] < ends[a]:
                    union(int(ids[a]), int(pid[b]))
                if ends[a] < pe[b]:
                    a += 1
                else:
                    b += 1
        prev_runs = (starts, ends, ids)

    if parent:
        roots = np.array([find(r) for r in range(len(parent))], dtype=np.int64)
        m = run_id >= 0
        run_id[m] = roots[run_id[m]]
    return run_id, len(parent)


def _tile_labels(arr: np.ndarray, threshold: float, gx0: int, gy0: int):
    """Tile-local regions of ``value >= threshold`` (compared in
    ``arr``'s dtype): the per-pixel root run (-1 outside the mask),
    each run's node key (the min global pixel key of its region) and
    the pixel row/col grids."""
    h, w = arr.shape
    with np.errstate(invalid="ignore"):
        mask = np.isfinite(arr) & (arr >= threshold)
    root, n_runs = _local_ccl(mask)
    jj, ii = np.meshgrid(np.arange(w, dtype=np.int64),
                         np.arange(h, dtype=np.int64))
    key = (gy0 + ii) * _KEY_STRIDE + (gx0 + jj)
    m = root >= 0
    minkey = np.full(n_runs, np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(minkey, root[m], key[m])
    return root, minkey, ii, jj


def _tile_regions(arr: np.ndarray, threshold: float, gx0: int, gy0: int):
    """The scan columns of one tile (row_type, gx, gy, node, n_pixels,
    gx_min, gx_max, gy_min, gy_max): an 's' row (node, n_pixels, bbox)
    per region keyed by its min global pixel key, then a 'b' row (gx,
    gy, node) per masked perimeter pixel; -1 fills the other side's
    columns."""
    h, w = arr.shape
    root, minkey, ii, jj = _tile_labels(arr, threshold, gx0, gy0)
    n_runs = len(minkey)
    if n_runs == 0:
        return ([],) * 9
    m = root >= 0
    counts = np.zeros(n_runs, dtype=np.int64)
    np.add.at(counts, root[m], 1)
    gxmin = np.full(n_runs, np.iinfo(np.int64).max, dtype=np.int64)
    gxmax = np.full(n_runs, np.iinfo(np.int64).min, dtype=np.int64)
    gymin = np.full(n_runs, np.iinfo(np.int64).max, dtype=np.int64)
    gymax = np.full(n_runs, np.iinfo(np.int64).min, dtype=np.int64)
    np.minimum.at(gxmin, root[m], gx0 + jj[m])
    np.maximum.at(gxmax, root[m], gx0 + jj[m])
    np.minimum.at(gymin, root[m], gy0 + ii[m])
    np.maximum.at(gymax, root[m], gy0 + ii[m])
    live = counts > 0
    edge = m & ((ii == 0) | (ii == h - 1) | (jj == 0) | (jj == w - 1))
    no_s = np.full(int(live.sum()), -1, np.int64)
    no_b = np.full(int(edge.sum()), -1, np.int64)
    return (["s"] * len(no_s) + ["b"] * len(no_b),
            np.r_[no_s, gx0 + jj[edge]], np.r_[no_s, gy0 + ii[edge]],
            np.r_[minkey[live], minkey[root[edge]]],
            *(np.r_[g[live], no_b] for g in (counts, gxmin, gxmax, gymin, gymax)))


def _scan(tiles: DataFrame, threshold: float) -> DataFrame:
    """One decode pass emitting the union of summary and boundary rows
    (row_type 's'/'b')."""
    def kernel(arr, h, w, x0, y0, cw, ch):
        return _tile_regions(arr, threshold, round(x0 / cw), round(y0 / ch))

    return map_tiles(tiles, kernel,
                     "image_id string, row_type string, gx long, gy long, node long, "
                     "n_pixels long, gx_min long, gx_max long, gy_min long, gy_max long",
                     meta=("x_origin", "y_origin", "cell_width", "cell_height"))


def _region_mapping(tiles: DataFrame, threshold: float):
    """Shared CCL machinery: one decode pass → (summaries with
    image_id, node→root mapping from the seam-graph label
    propagation)."""
    scan = _scan(tiles, threshold).localCheckpoint()  # one decode pass
    summaries = scan.filter("row_type = 's'").select(
        "image_id", "node", "n_pixels", "gx_min", "gx_max", "gy_min", "gy_max")
    boundary = scan.filter("row_type = 'b'").select("gx", "gy", "node")

    from rasters_spark.datapipe import dedup
    a, b = boundary.alias("a"), boundary.alias("b")
    pairs = (
        a.join(b, (F.col("a.gx") + 1 == F.col("b.gx"))
               & (F.col("a.gy") == F.col("b.gy")))
        .select(F.col("a.node").alias("doc_a"), F.col("b.node").alias("doc_b"))
        .union(
            a.join(b, (F.col("a.gx") == F.col("b.gx"))
                   & (F.col("a.gy") + 1 == F.col("b.gy")))
            .select(F.col("a.node").alias("doc_a"), F.col("b.node").alias("doc_b")))
        .filter("doc_a != doc_b"))
    mapping = dedup.dup_groups(None, pairs=pairs).withColumnRenamed(
        "doc_id", "node").withColumnRenamed("group_id", "root")
    return summaries, mapping


def sieve(tiles: DataFrame, threshold: float, min_pixels: int) -> DataFrame:
    """GDAL sieve analogue (drop variant): NULL OUT every masked pixel
    whose global connected region holds fewer than ``min_pixels``
    pixels — speckle removal before vectorization/training. Returns
    the tile set with ``bytes`` rewritten (fmt raw; unmasked pixels
    untouched).

    Scale shape: the polygonize machinery (one decode pass + skinny
    seam graph + label propagation) finds the small-region NODE list;
    the per-tile node lists fold into one bounded row each
    (collect_list of the tile's own small regions — bounded by
    regions-per-tile, a fixture/data property, not a hot-key) and join
    the payload 1:1; a second map-only pass recomputes the tile-local
    labels (deterministic — same run union-find) and NULLs members.
    Same layout requirement as ``polygonize``."""
    summaries, mapping = _region_mapping(tiles, threshold)
    labeled = (summaries.join(mapping, "node", "left")
               .withColumn("root", F.coalesce("root", "node")))
    totals = labeled.groupBy("root").agg(F.sum("n_pixels").alias("tot"))
    small = (labeled.join(totals.filter(F.col("tot") < min_pixels), "root")
             .groupBy("image_id")
             .agg(F.collect_list("node").alias("small_nodes")))

    def kernel(arr, h, w, small_nodes, x0, y0, cw, ch):
        arr = arr.astype(np.float64)
        if small_nodes:
            root, minkey, _, _ = _tile_labels(arr, threshold, round(x0 / cw), round(y0 / ch))
            m = root >= 0
            drop = np.zeros(arr.shape, bool)
            drop[m] = np.isin(minkey, np.asarray(small_nodes, dtype=np.int64))[root[m]]
            arr = np.where(drop, np.nan, arr)
        return raw_tile(arr)

    return map_tiles(tiles.join(small, "image_id", "left"), kernel, TILE_SCHEMA, TILE_KEEP,
                     ("small_nodes", "x_origin", "y_origin", "cell_width", "cell_height"))


def polygonize(tiles: DataFrame, threshold: float) -> DataFrame:
    """Global 4-adjacency regions of ``value >= threshold`` →
    ``(region_id, n_pixels, gx_min, gx_max, gy_min, gy_max)`` with
    ``region_id`` the component's min global pixel key and the bbox in
    global pixel coordinates. REQUIRES a single layout group (one lattice):
    filter to one (crs, cell sizes, w, h) — or loop layout groups —
    before calling; keys are lattice-local. Tiles must be
    lattice-aligned (origins = integer multiples of the cell size), as
    ``focal.lattice_remap`` produces."""
    summaries, mapping = _region_mapping(tiles, threshold)
    return (summaries.join(mapping, "node", "left")
            .select(F.coalesce("root", "node").alias("region_id"), "n_pixels",
                    "gx_min", "gx_max", "gy_min", "gy_max")
            .groupBy("region_id").agg(
                F.sum("n_pixels").alias("n_pixels"),
                F.min("gx_min").alias("gx_min"), F.max("gx_max").alias("gx_max"),
                F.min("gy_min").alias("gy_min"), F.max("gy_max").alias("gy_max")))
