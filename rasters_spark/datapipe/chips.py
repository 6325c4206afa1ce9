"""Training-chip extraction — the ML-dataset operator that cuts a
small (2r+1)² pixel window around every sampled point (the "chip" /
"patch" a vision model trains on; EXTENSION beyond the reference,
which stops at single-pixel sampling raster.py:1319).

Scale design (the CLAUDE.md never-carry-bytes rule): the chip is cut
from the matched tile row with JVM ``substring`` slices — one
CONTIGUOUS row-segment per chip row, so Arrow ships ≤ (2r+1)²·4 bytes
per point to Python instead of the whole tile blob, and the Python
side is one ``frombuffer`` per chip. The window CLAMPS at tile edges
(chips never cross tiles here — cross-tile chips compose with the
focal halo machinery if needed, documented seam).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _chip_stats_frame(buf: pd.Series) -> pd.DataFrame:
    """Per-chip reduction over the sliced float32 row segments. NaN
    pixels are excluded; an all-NaN chip reports NULL sum/min/max
    (the SQL aggregate convention)."""
    n_valid = np.zeros(len(buf), dtype=np.int64)
    vsum = np.full(len(buf), np.nan)
    vmin = np.full(len(buf), np.nan)
    vmax = np.full(len(buf), np.nan)
    for i, b in enumerate(buf):
        a = np.frombuffer(b, dtype="<f4").astype(np.float64)
        m = np.isfinite(a)
        n_valid[i] = int(m.sum())
        if m.any():
            v = a[m]
            vsum[i] = v.sum()
            vmin[i] = v.min()
            vmax[i] = v.max()
    out = pd.DataFrame({"n_valid": n_valid, "vsum": vsum,
                        "vmin": vmin, "vmax": vmax})
    return out.where(pd.notna(out), None)


def point_chips(joined: DataFrame, radius: int = 2) -> DataFrame:
    """Chip statistics for every (point ⋈ containing tile) row —
    ``joined`` is ``point_join.point_in_tile_join`` output carrying
    (point_id, image_id, prow, pcol, bytes, w, h, fmt='raw').

    → (point_id, image_id, chip_w, chip_h, n_valid, vsum, vmin, vmax)
    with the window clamped to the tile. Sums of quarter-integer
    pixels are exact, min/max exact — the whole row hashes
    bit-identically against a relational window-join twin."""
    r = int(radius)
    segs = []
    for d in range(-r, r + 1):
        rr = f"(prow + ({d}))"
        segs.append(F.expr(
            f"case when {rr} between 0 and h-1 then "
            f"substring(bytes, cast(4*({rr}*w + greatest(pcol-{r}, 0)) as int) + 1, "
            f"cast(4*(least(pcol+{r}, w-1) - greatest(pcol-{r}, 0) + 1) as int)) "
            f"else cast('' as binary) end"))
    chip = (joined
            .withColumn("chip_w", F.expr(f"least(pcol+{r}, w-1) - greatest(pcol-{r}, 0) + 1"))
            .withColumn("chip_h", F.expr(f"least(prow+{r}, h-1) - greatest(prow-{r}, 0) + 1"))
            .withColumn("_buf", F.concat(*segs)))
    # created at call time: pandas_udf schema parsing needs a live session
    _chip_stats = pandas_udf("n_valid long, vsum double, vmin double, vmax double")(
        _chip_stats_frame)
    out = chip.select(
        "point_id", "image_id", "chip_w", "chip_h",
        _chip_stats(F.col("_buf")).alias("s"))
    return out.select("point_id", "image_id", "chip_w", "chip_h",
                      F.col("s.n_valid").alias("n_valid"),
                      F.col("s.vsum").alias("vsum"),
                      F.col("s.vmin").alias("vmin"),
                      F.col("s.vmax").alias("vmax"))


def lattice_chips(tiles: DataFrame, radius: int = 2, stride: int = 7) -> DataFrame:
    """SEAMLESS training-chip extraction over an abutting tile lattice
    (closes point_chips' documented clamp-at-edges seam): probe cells
    on a regular global-pixel stride get their full (2r+1)² window
    even when it crosses tile boundaries, via the focal halo-exchange
    machinery (strips cross the seam, the payload crosses at most one
    exchange). Chips at the LATTICE boundary see NaN halo (absent
    neighbors) exactly like the relational twin sees absent rows.

    → (image_id, gx, gy, n_valid, vsum, vmin, vmax) per probe whose
    center is valid — global pixel keys so the oracle can join
    neighbors without tile bookkeeping. Exact stats (quarter-integer
    pixels)."""
    from rasters_spark.operators.focal import _focal_grids, map_halo

    r = int(radius)

    def kernel(pad, hh, ww, x0, y0, cw, ch):
        tx = int(round(x0 / (ww * cw)))
        ty = int(round(y0 / (hh * ch)))
        gx = tx * ww + np.arange(ww)
        gy = ty * hh + np.arange(hh)
        probe = (((gy % stride) == 0)[:, None] & ((gx % stride) == 0)[None, :]
                 & np.isfinite(pad[r:r + hh, r:r + ww]))
        rows, cols = np.nonzero(probe)
        vsum, n = _focal_grids(pad, hh, ww, r, "sum")
        vmin, _ = _focal_grids(pad, hh, ww, r, "min")
        vmax, _ = _focal_grids(pad, hh, ww, r, "max")
        return (gx[cols], gy[rows], n[rows, cols], vsum[rows, cols],
                vmin[rows, cols], vmax[rows, cols])

    return map_halo(tiles, r, kernel,
                    "image_id string, gx long, gy long, n_valid long, "
                    "vsum double, vmin double, vmax double",
                    meta=("x_origin", "y_origin", "cell_width", "cell_height"))
