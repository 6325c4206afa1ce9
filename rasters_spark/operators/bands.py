"""MultiRaster band operators — the band dimension as a column.

The reference's MultiRaster is a (bands, rows, cols) stacked array
(multi_raster.py:21-76: stack at :100-105, band extract at :107-111).
Relational form (SURVEY §1.1): one row per band with ``band:int`` and
``stack_id`` columns — stacking is a column derivation, band extraction
is a filter, per-band math is a groupBy. No data movement for any of it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_spark.operators import stats
from rasters_spark.tiles import map_stacks


def with_bands(tiles: DataFrame, index: str, n_bands: int = 3) -> DataFrame:
    """Interpret consecutive tile indices as bands of a stack:
    band = i mod n, stack_id = i div n, where ``index`` is the SQL text
    of the tile's integer index i — the caller's id convention (the
    fixture's ``img000000000123`` ids parse as
    ``cast(substring(image_id, 4, 12) as long)``)."""
    return tiles.withColumns({
        "band": F.expr(f"cast(({index}) % {n_bands} as int)"),
        "stack_id": F.expr(f"cast(({index}) / {n_bands} as bigint)")})


def extract_band(stacked: DataFrame, band: int) -> DataFrame:
    """MultiRaster.__getitem__ band extraction (multi_raster.py:107-111)."""
    return stacked.filter(F.col("band") == band)


def band_resize(stacked: DataFrame, out_w: int, out_h: int, order: int = 1) -> DataFrame:
    """MultiRaster.resize (multi_raster.py:290-295): per-band resize of
    the stack. Relationally the band loop is free — each band IS a row,
    so this is resize_spline with the band/stack tags re-attached
    (one Arrow pass, no shuffle)."""
    from rasters_spark.datapipe.multimodal import resize_spline

    out = resize_spline(stacked, out_w, out_h, order)
    return out.join(stacked.select("image_id", "band", "stack_id"), "image_id")


def band_percentilecut(stacked: DataFrame, lower_percentile: float = 2.0,
                       upper_percentile: float = 98.0) -> DataFrame:
    """MultiRaster.generate_percentilecut (multi_raster.py:283-288):
    per-band percentile stretch — the reference stretches each band by
    its OWN per-raster percentiles, which here is the per-tile
    percentilecut kernel with the band tag carried through."""
    from rasters_spark.operators import rastermath as rm

    out = rm.elementwise(stacked, rm.percentilecut(lower_percentile, upper_percentile))
    return out.join(stacked.select("image_id", "band", "stack_id"), "image_id")


def band_stats(stacked: DataFrame) -> DataFrame:
    """Per-band reduction across the stack dimension — per-tile Arrow
    partials, band-level SQL finals → (band, n_tiles, n_valid, vsum,
    vmin, vmax)."""
    per_tile = stats.tile_stats(stacked.select("image_id", "bytes", "w", "h", "fmt"))
    joined = per_tile.join(stacked.select("image_id", "band"), "image_id")
    return joined.groupBy("band").agg(
        F.count("*").alias("n_tiles"),
        F.sum("n_valid").alias("n_valid"),
        F.sum("vsum").alias("vsum"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
    )


def stack_by_rank(tiles: DataFrame, n_bands: int = 4) -> DataFrame:
    """Stack same-shaped tiles into n-band groups by rank order:
    band = rank mod n, stack_id = rank div n, ranked per (w, h) layout
    by image_id. The row_number window is fixture-only plumbing (the
    same caveat as focal.lattice_remap — real stacks carry their own
    band/stack ids); it is SQL-replicable verbatim in the oracle."""
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("w", "h").orderBy("image_id")) - 1
    return (tiles.withColumn("rn", rn)
            .withColumn("band", (F.col("rn") % n_bands).cast("int"))
            .withColumn("stack_id", (F.col("rn") / n_bands).cast("long"))
            .drop("rn"))


def _valid_pixels(pix):
    """The pixels valid in every band of a stack: ``prow``, ``pcol``
    (int32) and the ``(bands, pixels)`` values there."""
    rows, cols = np.nonzero(np.isfinite(pix).all(axis=0))
    return rows.astype(np.int32), cols.astype(np.int32), pix[:, rows, cols]


def _brovey(pix, bands):
    rows, cols, (b0, b1, b2, p) = _valid_pixels(pix)
    s = (b0 + b1) + b2
    with np.errstate(invalid="ignore", divide="ignore"):
        sharp = [np.where(s == 0.0, np.nan, (b * p) / s) for b in (b0, b1, b2)]
    return (np.repeat(np.arange(3, dtype=np.int32), len(rows)),
            np.tile(rows, 3), np.tile(cols, 3), np.concatenate(sharp))


def pansharpen_brovey(stacked: DataFrame) -> DataFrame:
    """Brovey pansharpening (Gillespie et al. 1987; the GDAL
    gdal_pansharpen 'brovey' algorithm — EXTENSION beyond the
    reference): bands 0-2 are the multispectral triple, band 3 the
    co-registered pan; per pixel valid in ALL FOUR bands,
    ``sharp_b = (ms_b · pan) / (ms_0 + ms_1 + ms_2)``, NaN where the
    MS sum is 0 (exact test). In the real pipeline the MS upsample to
    the pan grid runs through the certified resize/to_grid operators
    first — this operator is the ratio math at the shared grid.

    → (stack_id, band, prow, pcol, sharp). The sum is exact dyadic
    (quarter-integer pixels), the product and the single division are
    correctly-rounded with the expression text shared verbatim with
    the SQL twin, so doubles hash bit-identically. Scale shape: ONE
    cogroup of 4 bounded rows per stack (never a data-sized
    collect_list), then the numpy kernel on ``tiles.map_stacks``."""
    return map_stacks(stacked, 4, _brovey,
                      "stack_id long, band int, prow int, pcol int, sharp double")


def _forward_fill(pix, bands):
    parts, last = [], pix[0]
    for band, cur in zip(bands, pix):
        last = np.where(np.isfinite(cur), cur, last)
        rows, cols = np.nonzero(np.isfinite(last))
        parts.append((np.full(len(rows), band, np.int32), rows.astype(np.int32),
                      cols.astype(np.int32), last[rows, cols]))
    return tuple(np.concatenate(c) for c in zip(*parts))


def gap_fill_stack(stacked: DataFrame, n_epochs: int = 3) -> DataFrame:
    """Per-pixel temporal FORWARD-FILL across an epoch stack (cloud-gap
    filling / compositing prep — the LOCF time-series operator;
    EXTENSION beyond the reference): ``band`` is the epoch index; a
    pixel invalid at epoch e takes its most recent valid value from an
    earlier epoch, staying absent until its first valid observation.
    → (stack_id, epoch, prow, pcol, filled) for filled pixels.

    No float math — outputs are exact copies of input pixels, so the
    twin is DuckDB's ``last_value(v IGNORE NULLS)`` ordered window
    verbatim. Scale shape: ONE cogroup of n_epochs bounded rows per
    stack (same shape as pansharpen_brovey), map-only kernel; the SQL
    window form the oracle uses would shuffle every PIXEL row — the
    cogroup ships tiles instead, ~100× fewer rows across the exchange."""
    return map_stacks(stacked, n_epochs, _forward_fill,
                      "stack_id long, epoch int, prow int, pcol int, filled double")


def _trend(pix, bands):
    rows, cols, (v0, v1, v2) = _valid_pixels(pix)
    return rows, cols, (v2 - v0) / 2.0, ((v0 + v1) + v2) / 3.0


def epoch_trend(stacked: DataFrame, n_epochs: int = 3) -> DataFrame:
    """Per-pixel linear trend across an equally-spaced epoch stack —
    the change-detection OLS slope (EXTENSION beyond the reference).
    For 3 epochs at t = 0,1,2 the least-squares slope collapses to
    ``(v2 − v0) / 2`` (EXACT dyadic on quarter-integer pixels) and the
    fitted mean is ``((v0 + v1) + v2) / 3`` (one correctly-rounded
    division, expression text shared with the SQL twin). Pixels must
    be valid in ALL epochs (strict window — the gap_fill operator is
    the imputation step if you want slopes over gappy stacks).
    → (stack_id, prow, pcol, slope, mean). Same bounded cogroup shape
    as pansharpen_brovey."""
    if n_epochs != 3:
        raise ValueError("epoch_trend currently implements the 3-epoch "
                         "closed form (t = 0,1,2)")
    return map_stacks(stacked, 3, _trend,
                      "stack_id long, prow int, pcol int, slope double, mean double")


def _gray(pix, bands):
    rows, cols, (r, g, b) = _valid_pixels(pix)
    return rows, cols, (0.299 * r + 0.587 * g) + 0.114 * b


def to_gray(stacked: DataFrame) -> DataFrame:
    """Rec.601 luma band collapse (ITU-R BT.601: the standard RGB→gray
    weights; EXTENSION beyond the reference): bands 0/1/2 as R/G/B,
    gray = (0.299·r + 0.587·g) + 0.114·b per pixel valid in ALL three
    bands — the expression order is shared verbatim with the SQL twin
    (each product and the two adds correctly rounded on identical
    inputs → raw doubles hash bit-identically).
    → (stack_id, prow, pcol, gray). Same bounded 3-row cogroup as
    epoch_trend."""
    return map_stacks(stacked, 3, _gray, "stack_id long, prow int, pcol int, gray double")
