"""Retile: split tiles into an f×f grid of children (gdal_retile
analogue, split direction).

Re-tiling is how a layer with cluster-unfriendly tile sizes (huge
scenes, whole-image strips) becomes the small splittable units every
other operator here wants. ``retile_split`` is MAP-ONLY: each tile row
yields f² child rows — no shuffle, no neighbor traffic; at any scale
it is one pass over the payload (the opposite merge direction would
need an origin-grouped 4-way join and is not implemented until an
operator needs it).

Child georeferencing: child (ci, cj) of an (h, w) tile keeps the cell
size and CRS and gets ``x_origin + cj·(w/f)·cell_width`` /
``y_origin + ci·(h/f)·cell_height`` — the same closed-form float
expressions a relational twin can evaluate (correctly-rounded IEEE,
bit-identical), and ``image_id || '_' || ci || '_' || cj`` as its id.
Pixel content is an exact integer re-partition of the parent: child
pixel (r, c) = parent pixel (ci·h/f + r, cj·w/f + c) — so an exact
per-child (n_pixels, n_valid, vsum) oracle certifies the split with
pure arithmetic.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from rasters_spark import codec
from rasters_spark.tiles import TILE_SCHEMA, map_tiles


def retile_split(tiles: DataFrame, factor: int) -> DataFrame:
    """Split every tile into ``factor``×``factor`` children (tile
    dims must divide evenly — loud error otherwise). Returns the same
    tile schema; children are encoded with the PARENT's fmt (q8
    re-quantizes per child; raw/i32/b1 are lossless crops, i32 nodata
    included)."""
    if factor < 1:
        raise ValueError("factor must be >= 1")
    f = int(factor)

    def kernel(arr, hh, ww, iid, fmt, x0, y0, cw, ch):
        if hh % f or ww % f:
            raise ValueError(f"tile {iid} is {ww}x{hh}: not divisible by factor {f}")
        if fmt == "i32":
            # the float64 decode holds every int32 exactly; put the
            # nodata sentinel back where it surfaced as NaN
            arr = np.where(np.isnan(arr), codec.I32_NODATA, arr)
        cwd, chd = ww // f, hh // f
        kids = [(ci, cj) for ci in range(f) for cj in range(f)]
        return ([f"{iid}_{ci}_{cj}" for ci, cj in kids],
                [x0 + cj * (ww / f) * cw for _, cj in kids],
                [y0 + ci * (hh / f) * ch for ci, _ in kids],
                [cwd] * len(kids), [chd] * len(kids),
                [codec.encode_tile(np.ascontiguousarray(
                    arr[ci * chd:(ci + 1) * chd, cj * cwd:(cj + 1) * cwd]), fmt)
                 for ci, cj in kids])

    return map_tiles(tiles, kernel, TILE_SCHEMA,
                     keep=("cell_width", "cell_height", "crs", "fmt"),
                     meta=("image_id", "fmt", "x_origin", "y_origin", "cell_width", "cell_height"))
