"""Contour extraction (marching squares) over tiled rasters.

Raster→vector iso-lines (the gdal_contour analogue — EXTENSION beyond
the reference, which has no contour family): for each requested level
L, emit the line segments of the L-isoline through every 2×2 pixel
block (corners = pixel centers), linearly interpolated along block
edges.

Semantics (chosen to be exactly relational-expressible):
- a corner is *inside* iff ``value >= L``; an edge crosses iff its two
  corners disagree;
- crossing position along an edge from corner a to corner b is
  ``t = (L - a) / (b - a)`` — with quarter-integer pixels and dyadic
  levels the numerator/denominator are exact doubles and the single
  division is correctly rounded, so crossing coordinates are
  bit-identical across engines;
- STRICT blocks: any NaN corner (or missing neighbor at the lattice
  edge) skips the block;
- blocks with two crossings yield the one forced segment; saddle
  blocks (diagonal corners inside — 4 crossings) are disambiguated by
  the block-center mean ``(za+zb+zc+zd)/4`` (exact dyadic): center
  inside connects the inside diagonal, isolating the two outside
  corners, else vice versa — the standard marching-squares rule;
- segments are canonicalized endpoint-lexicographically so output rows
  are engine-comparable.

Tile seams: a block is OWNED by the tile containing its top-left
corner, so each tile needs its east/south/south-east neighbor pixels —
one row/column of halo, served by the focal strip exchange
(operators/focal.py): skinny O(perimeter) strips, payload crosses ONE
exchange, then a map-only Arrow kernel. No duplicate seam segments by
construction (single ownership).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame

from rasters_spark.operators.focal import map_halo

#: edge order for the deterministic 2-crossing pairing (mirrored by
#: the oracle's coalesce order): top, bottom, left, right.
_EDGES = ("top", "bottom", "left", "right")


def _block_corners(ext: np.ndarray):
    """TL/TR/BL/BR corner views for all (h, w) blocks of an
    (h+1, w+1) extended array."""
    return (ext[:-1, :-1], ext[:-1, 1:], ext[1:, :-1], ext[1:, 1:])


def _segments_for_tile(ext: np.ndarray, gx0: float, gy0: float,
                       cw: float, ch: float, level: float):
    """Marching squares over one tile's extended array; returns the
    (x1, y1, x2, y2) arrays of canonical segments. ``gx0/gy0`` are the
    GLOBAL pixel indices of the tile's (0,0) pixel."""
    za, zb, zc, zd = _block_corners(ext)
    hh, ww = za.shape
    ok = np.isfinite(za) & np.isfinite(zb) & np.isfinite(zc) & np.isfinite(zd)
    ia = za >= level
    ib = zb >= level
    ic = zc >= level
    idd = zd >= level

    jj, ii = np.meshgrid(np.arange(ww, dtype=np.float64),
                         np.arange(hh, dtype=np.float64))
    # pixel-center world coordinates of the four corners
    xa = (gx0 + jj + 0.5) * cw
    xb = (gx0 + jj + 1.5) * cw
    ya = (gy0 + ii + 0.5) * ch
    yc = (gy0 + ii + 1.5) * ch

    def interp(x_from, x_to, va, vb):
        with np.errstate(invalid="ignore", divide="ignore"):
            t = (level - va) / (vb - va)
        return x_from + t * (x_to - x_from)

    cross = {
        "top": (ia != ib, interp(xa, xb, za, zb), ya),
        "bottom": (ic != idd, interp(xa, xb, zc, zd), yc),
        "left": (ia != ic, xa, interp(ya, yc, za, zc)),
        "right": (ib != idd, xb, interp(ya, yc, zb, zd)),
    }

    n_cross = sum(np.where(ok & cross[e][0], 1, 0) for e in _EDGES)
    segs_x1, segs_y1, segs_x2, segs_y2 = [], [], [], []

    def emit(mask, e1, e2):
        if not mask.any():
            return
        c1x, c1y = cross[e1][1][mask], cross[e1][2][mask]
        c2x, c2y = cross[e2][1][mask], cross[e2][2][mask]
        # canonical endpoint order: lexicographic (x, y)
        swap = (c1x > c2x) | ((c1x == c2x) & (c1y > c2y))
        segs_x1.append(np.where(swap, c2x, c1x))
        segs_y1.append(np.where(swap, c2y, c1y))
        segs_x2.append(np.where(swap, c1x, c2x))
        segs_y2.append(np.where(swap, c1y, c2y))

    # forced case: exactly two crossings — pair the first and last
    # crossed edges in the fixed (top, bottom, left, right) order
    two = ok & (n_cross == 2)
    for i1 in range(4):
        for i2 in range(i1 + 1, 4):
            e1, e2 = _EDGES[i1], _EDGES[i2]
            m = two & cross[e1][0] & cross[e2][0]
            emit(m, e1, e2)

    # saddles: 4 crossings, center-mean disambiguation
    saddle = ok & (n_cross == 4)
    if saddle.any():
        center_in = ((za + zb + zc + zd) / 4.0) >= level
        p9 = saddle & ia & idd          # TL/BR inside
        p6 = saddle & ib & ic           # TR/BL inside
        # center inside → the inside diagonal connects; isolate the
        # two OUTSIDE corners
        emit(p9 & center_in, "top", "right")     # around TR
        emit(p9 & center_in, "left", "bottom")   # around BL
        emit(p9 & ~center_in, "top", "left")     # around TL
        emit(p9 & ~center_in, "right", "bottom")  # around BR
        emit(p6 & center_in, "top", "left")
        emit(p6 & center_in, "right", "bottom")
        emit(p6 & ~center_in, "top", "right")
        emit(p6 & ~center_in, "left", "bottom")

    if not segs_x1:
        z = np.zeros(0)
        return z, z, z, z
    return (np.concatenate(segs_x1), np.concatenate(segs_y1),
            np.concatenate(segs_x2), np.concatenate(segs_y2))


def contour_segments(tiles: DataFrame, levels: Sequence[float]) -> DataFrame:
    """Iso-line segments for each level over a tiled layer with
    east/south halo: ``(image_id, level, x1, y1, x2, y2)`` in world
    coordinates (pixel-center convention). Assumes lattice-aligned
    origins (``x_origin = gx0·cell_width``), as produced by
    ``focal.lattice_remap`` or any origin-snapped grid."""
    levels = [float(v) for v in levels]

    def kernel(pad, hh, ww, x0, y0, cw, ch):
        gx0, gy0 = float(round(x0 / cw)), float(round(y0 / ch))
        # rows/cols 0..h / 0..w: the tile plus its E/S/SE halo
        ext = pad[1:hh + 2, 1:ww + 2]
        cols = [[np.zeros(0)] for _ in range(5)]
        for lv in levels:
            segs = _segments_for_tile(ext, gx0, gy0, cw, ch, lv)
            cols[0].append(np.full(len(segs[0]), lv))
            for c, v in zip(cols[1:], segs):
                c.append(v)
        return [np.concatenate(c) for c in cols]

    return map_halo(tiles, 1, kernel,
                    "image_id string, level double, "
                    "x1 double, y1 double, x2 double, y2 double",
                    meta=("x_origin", "y_origin", "cell_width", "cell_height"))
