"""Tile statistics — Arrow decode + per-tile partial aggregation.

The reference's whole-raster reductions (range raster.py:1109-1113,
empty :1871-1876, nanmean via the __getattr__ escape raster.py:971-978)
become two-level aggregation here: per-tile partials computed inside ONE
Arrow pass over the decoded pixels (the map-side combine), then plain
SQL finals across tiles. At 10^12 tiles the Arrow stage is
embarrassingly parallel and the final agg moves only 4 doubles/tile.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_spark import codec

TILE_STATS_SCHEMA = (
    "image_id string, n_pixels long, n_valid long, vsum double, vmin double, vmax double"
)


def _stats_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        n = len(pdf)
        ids = pdf["image_id"].to_numpy()
        out = {
            "image_id": ids,
            "n_pixels": np.empty(n, np.int64),
            "n_valid": np.empty(n, np.int64),
            "vsum": np.empty(n, np.float64),
            "vmin": np.empty(n, np.float64),
            "vmax": np.empty(n, np.float64),
        }
        for pos, w, h, fmt, px in codec.decode_grouped(
                pdf["bytes"].to_numpy(), pdf["w"].to_numpy(), pdf["h"].to_numpy(),
                pdf["fmt"].to_numpy(), ids):
            # float32→float64 BEFORE reducing: exact for quarter-integer fixtures
            V = px.reshape(len(pos), h * w).astype(np.float64, copy=False)
            valid = np.isfinite(V)
            nv = valid.sum(axis=1)
            out["n_pixels"][pos] = h * w
            out["n_valid"][pos] = nv
            if fmt == "q8":
                # q8 values are arbitrary float32: sum each tile's
                # compacted valid pixels, the accumulation order the
                # oracle hashed
                out["vsum"][pos] = [V[k][valid[k]].sum() for k in range(len(pos))]
            else:
                # raw pixels are quarter-integers and i32/b1 integers,
                # so the masked row sum (zeros at nodata) is exact
                out["vsum"][pos] = np.where(valid, V, 0.0).sum(axis=1)
            mn = np.where(valid, V, np.inf).min(axis=1)
            mx = np.where(valid, V, -np.inf).max(axis=1)
            out["vmin"][pos] = np.where(nv > 0, mn, np.nan)
            out["vmax"][pos] = np.where(nv > 0, mx, np.nan)
        yield pd.DataFrame(out)


def tile_stats(tiles: DataFrame) -> DataFrame:
    """Per-tile (n_pixels, n_valid, vsum, vmin, vmax) from the binary
    pixel column. NaN partials surface as NULL (all-nodata tiles,
    reference `empty` raster.py:1871-1876 ≙ n_valid = 0)."""
    cols = tiles.select("image_id", "bytes", "w", "h", "fmt")
    return cols.mapInPandas(_stats_batches, schema=TILE_STATS_SCHEMA)


def global_range(tiles: DataFrame) -> DataFrame:
    """nanmin/nanmax across all tiles (raster.py:1109-1113) — partial
    per-tile then scalar final agg."""
    return tile_stats(tiles).agg(
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"),
        F.sum("n_valid").alias("n_valid"),
        F.sum("n_pixels").alias("n_pixels"),
    )


def stretch_params(tiles: DataFrame, lo_pct: float = 2.0, hi_pct: float = 98.0) -> DataFrame:
    """Per-tile percentile-stretch parameters (the statistics half of
    generate_percentilecut, raster.py:2145-2156) → (image_id, lo, hi,
    n_valid).

    Quantile interpolation is computed MANUALLY as ``v[lo]·(1−frac) +
    v[hi]·frac`` over the sorted finite pixels — probed to be DuckDB
    quantile_cont's exact expression (neither np.percentile's lerp
    fixup nor the lo+frac·(hi−lo) form matches it at inexact
    fractions), so the oracle hash-matches bit-for-bit.
    """
    schema = "image_id string, lo double, hi double, n_valid long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, arr in enumerate(codec.decode_batch(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"])):
                v = np.sort(arr[np.isfinite(arr)].astype(np.float64))
                if len(v) == 0:
                    rows.append({"image_id": pdf["image_id"].iloc[i],
                                 "lo": None, "hi": None, "n_valid": 0})
                    continue
                out = []
                for q in (lo_pct / 100.0, hi_pct / 100.0):
                    pos = (len(v) - 1) * q
                    loi = int(np.floor(pos))
                    hii = int(np.ceil(pos))
                    frac = pos - loi
                    out.append(float(v[loi] * (1.0 - frac) + v[hii] * frac))
                rows.append({"image_id": pdf["image_id"].iloc[i],
                             "lo": out[0], "hi": out[1], "n_valid": len(v)})
            yield pd.DataFrame(rows)

    return tiles.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(run, schema=schema)


def tile_unique_values(tiles: DataFrame, few_threshold: int = 10) -> DataFrame:
    """imshow's unique-value binning branch (raster.py:1983-1995):
    exact per-tile distinct count of finite pixel values + the
    ``< 10`` few-values flag that switches the reference's rendering
    mode. → (image_id, n_unique, few_values)."""
    schema = "image_id string, n_unique long, few_values boolean"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i, arr in enumerate(codec.decode_batch(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"])):
                n = int(len(np.unique(arr[np.isfinite(arr)])))
                rows.append({"image_id": pdf["image_id"].iloc[i],
                             "n_unique": n, "few_values": n < few_threshold})
            yield pd.DataFrame(rows)

    return tiles.select("image_id", "bytes", "w", "h", "fmt").mapInPandas(run, schema=schema)


ZONAL_PARTIAL_SCHEMA = (
    "poly_id long, n_valid long, vsum double, vmin double, vmax double"
)


def zonal_stats(tiles: DataFrame, polygons: DataFrame, level: int | None = None) -> DataFrame:
    """Zonal statistics: per-polygon (n_valid, vsum, vmean, vmin, vmax)
    over every finite pixel whose CENTROID falls inside the zone — the
    polygon analogue of the reference's mask-then-reduce idiom
    (``Raster.mask`` raster.py:1009-1044 followed by the §2.4
    reductions), fused into one pass so the mask never materializes.

    100-TB plan shape: the polygon table is a DIM table (the same
    assumption `points_in_polygons` makes when it F.broadcast()s it),
    so it is collected once and shipped as a Spark broadcast variable;
    the payload then runs ONE map-only Arrow pass — tile bytes never
    enter any exchange, there is no join at all — and the only shuffle
    in the whole plan is the final ``groupBy(poly_id)`` over
    4-double partials. Per tile the kernel prunes zones with one
    vectorized bbox-overlap test (O(zones) ints), windows the
    surviving zones with the half-open bbox rule, and ray-casts only
    those candidates.

    Pixel-centroid semantics match ``pixel_centroids``
    (vector.py:269-299): x = x_origin + cell_width·(col + ½). The
    fixture's quarter-integer pixels make every partial and final sum
    EXACT in double, so the rect-polygon subset carries a full
    value-hash oracle (fmt='raw'; the PIP boundary rule is the same
    half-open bbox the `points_in_polygons` oracle certifies).
    Boundary: a polygon table too big to broadcast (>~10⁷ zones)
    needs the cell-join variant — out of scope while the engine's
    polygon sources are dim tables.
    """
    from rasters_spark.operators.joins import _ring_xy, ray_cast_inside

    zrows = polygons.select("poly_id", "xmin", "ymin", "xmax", "ymax", "ring").collect()
    zones = []
    for r in zrows:
        rx, ry = _ring_xy(r.ring)
        zones.append((int(r.poly_id), float(r.xmin), float(r.ymin),
                      float(r.xmax), float(r.ymax), rx, ry))
    zxmin = np.array([z[1] for z in zones])
    zymin = np.array([z[2] for z in zones])
    zxmax = np.array([z[3] for z in zones])
    zymax = np.array([z[4] for z in zones])
    bc = tiles.sparkSession.sparkContext.broadcast((zones, zxmin, zymin, zxmax, zymax))

    payload = tiles.select("image_id", "bytes", "w", "h", "fmt",
                           "x_origin", "y_origin", "cell_width", "cell_height")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zs, bxmin, bymin, bxmax, bymax = bc.value
        for pdf in batches:
            rows = []
            for i, arr in enumerate(codec.decode_batch(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"])):
                h, w = arr.shape
                x0 = pdf["x_origin"].iloc[i]
                y0 = pdf["y_origin"].iloc[i]
                cw = pdf["cell_width"].iloc[i]
                ch = pdf["cell_height"].iloc[i]
                txmin, txmax = x0, x0 + cw * w
                tymax, tymin = y0, y0 + ch * h  # north-up: ch < 0
                hit = np.flatnonzero((bxmin < txmax) & (bxmax > txmin)
                                     & (bymin < tymax) & (bymax > tymin))
                if len(hit) == 0:
                    continue
                xs = x0 + cw * (np.arange(w, dtype=np.float64) + 0.5)
                ys = y0 + ch * (np.arange(h, dtype=np.float64) + 0.5)
                gx = np.broadcast_to(xs, (h, w)).ravel()
                gy = np.repeat(ys, w)
                vals = arr.ravel()
                finite = np.isfinite(vals)
                for zi in hit:
                    poly_id, xmn, ymn, xmx, ymx, rx, ry = zs[zi]
                    # half-open bbox window first (cheap), exact
                    # ray-cast only on the survivors
                    m = (finite & (gx >= xmn) & (gx < xmx)
                         & (gy >= ymn) & (gy < ymx))
                    idx_ = np.flatnonzero(m)
                    if len(idx_) == 0:
                        continue
                    keep = ray_cast_inside(gx[idx_], gy[idx_], rx, ry)
                    sel = idx_[keep]
                    if len(sel) == 0:
                        continue
                    v = vals[sel].astype(np.float64)
                    rows.append({"poly_id": poly_id, "n_valid": len(sel),
                                 "vsum": float(v.sum()),
                                 "vmin": float(v.min()), "vmax": float(v.max())})
            yield pd.DataFrame(rows, columns=["poly_id", "n_valid", "vsum", "vmin", "vmax"])

    partial = payload.mapInPandas(run, schema=ZONAL_PARTIAL_SCHEMA)
    return (partial.groupBy("poly_id").agg(
        F.sum("n_valid").alias("n_valid"),
        F.sum("vsum").alias("vsum"),
        F.min("vmin").alias("vmin"),
        F.max("vmax").alias("vmax"))
        .withColumn("vmean", F.col("vsum") / F.col("n_valid")))


def histogram(tiles: DataFrame, lo: float, hi: float, nbins: int) -> DataFrame:
    """Exact fixed-bin histogram over every valid pixel (the
    ``gdalinfo -hist`` analogue): ``(bin, n_pixels)`` for bins
    ``[lo + k·wbin, lo + (k+1)·wbin)``, out-of-range and NaN dropped.

    Scale shape: per-tile partial bincounts in ONE Arrow pass (the
    map-side combine — each task emits ≤ nbins skinny rows regardless
    of pixel count), then a single groupBy(bin) over ≤ nbins·n_tasks
    rows. With dyadic lo/wbin the bin assignment
    ``floor((v - lo)/wbin)`` is exact in double, so a relational twin
    binning the same pixels matches exactly — integer counts, no
    float aggregation at all."""
    if nbins <= 0 or not hi > lo:
        raise ValueError("need hi > lo and nbins > 0")
    wbin = (hi - lo) / nbins
    src = tiles.select("bytes", "w", "h", "fmt")
    schema = "bin long, n_pixels long"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc = np.zeros(nbins, dtype=np.int64)
            for arr in codec.decode_batch(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"]):
                v = arr[np.isfinite(arr)].astype(np.float64)
                b = np.floor((v - lo) / wbin)
                b = b[(b >= 0) & (b < nbins)].astype(np.int64)
                acc += np.bincount(b, minlength=nbins)
            nz = np.nonzero(acc)[0]
            yield pd.DataFrame({"bin": nz.astype(np.int64), "n_pixels": acc[nz]})

    partials = src.mapInPandas(run, schema=schema)
    return partials.groupBy("bin").agg(F.sum("n_pixels").alias("n_pixels"))


#: CFMask-style QA bit assignments (USGS Landsat Collection-2 QA_PIXEL
#: convention, public spec) used by qa_flags_stats' default.
QA_BITS = {"cloud": 3, "shadow": 4, "snow": 5}


def qa_flags_stats(tiles: DataFrame, bits: dict | None = None,
                   scale: float = 4.0, mask_flag: str = "cloud") -> DataFrame:
    """Packed QA-bitmask decode + cloud masking (the Landsat/MODIS
    QA_PIXEL workflow, public USGS convention — EXTENSION beyond the
    reference): the QA word is ``floor(value·scale)`` (EXACT for
    quarter-integer pixels at scale 4 — the fixture value doubles as
    its own QA band), each named bit is counted per tile, and the
    ``mask_flag`` bit additionally masks the tile: ``n_clear`` /
    ``clear_vsum`` are the count and exact sum of valid pixels whose
    mask bit is 0.

    → (image_id, n_valid, n_<flag>…, n_clear, clear_vsum). All
    outputs are integers or exact dyadic sums; the oracle extracts
    the same bits with integer div/mod ((qa//2^b)%2 ≡ (qa>>b)&1 for
    the non-negative QA range). ONE map-only Arrow pass."""
    bits = QA_BITS if bits is None else bits
    if mask_flag not in bits:
        raise ValueError(f"mask_flag {mask_flag!r} not in bits {sorted(bits)}")
    cols = tiles.select("image_id", "bytes", "w", "h", "fmt")
    names = sorted(bits)
    schema = ("image_id string, n_valid long, "
              + ", ".join(f"n_{f} long" for f in names)
              + ", n_clear long, clear_vsum double")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {k: [] for k in
                                    ["image_id", "n_valid", *[f"n_{f}" for f in names],
                                     "n_clear", "clear_vsum"]}
            arrs = codec.decode_batch(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"])
            for i, arr in enumerate(arrs):
                v = arr.astype(np.float64)
                valid = np.isfinite(v)
                qa = np.zeros(v.shape, dtype=np.int64)
                qa[valid] = np.floor(v[valid] * scale).astype(np.int64)
                out["image_id"].append(pdf["image_id"].iloc[i])
                out["n_valid"].append(int(valid.sum()))
                for f in names:
                    flag = ((qa >> bits[f]) & 1).astype(bool) & valid
                    out[f"n_{f}"].append(int(flag.sum()))
                clear = valid & ~(((qa >> bits[mask_flag]) & 1).astype(bool))
                out["n_clear"].append(int(clear.sum()))
                out["clear_vsum"].append(float(v[clear].sum()) if clear.any() else 0.0)
            yield pd.DataFrame(out)

    return cols.mapInPandas(run, schema=schema)


def equalize_lut(tiles: DataFrame) -> DataFrame:
    """Per-tile histogram-equalization lookup table (the imaging
    contrast op; EXTENSION beyond the reference's percentile stretch):
    for every distinct valid value of a tile, its count and cumulative
    rank → ``(image_id, value, n_at, cum, cdf)`` with
    cdf = cum / n_valid (one exact-int division). Applying the LUT is
    the elementwise map ``v ↦ cdf(v)``; emitting the LUT itself keeps
    the output skinny and lets the relational twin certify the FULL
    cumulative distribution (a wrong sort order or a dropped value
    shifts every later rank). ONE map-only Arrow pass."""
    cols = tiles.select("image_id", "bytes", "w", "h", "fmt")
    schema = ("image_id string, value double, n_at long, cum long, cdf double")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            arrs = codec.decode_batch(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"])
            for i, arr in enumerate(arrs):
                v = arr.astype(np.float64).ravel()
                v = v[np.isfinite(v)]
                if v.size == 0:
                    continue
                uniq, counts = np.unique(v, return_counts=True)
                cum = np.cumsum(counts)
                n = float(v.size)
                frames.append(pd.DataFrame({
                    "image_id": pdf["image_id"].iloc[i],
                    "value": uniq,
                    "n_at": counts.astype(np.int64),
                    "cum": cum.astype(np.int64),
                    "cdf": cum.astype(np.float64) / n}))
            yield (pd.concat(frames, ignore_index=True) if frames else
                   pd.DataFrame({"image_id": pd.Series([], dtype=str),
                                 "value": pd.Series([], dtype=float),
                                 "n_at": pd.Series([], dtype=np.int64),
                                 "cum": pd.Series([], dtype=np.int64),
                                 "cdf": pd.Series([], dtype=float)}))

    return cols.mapInPandas(run, schema=schema)


def zonal_quantiles(tiles: DataFrame, polygons: DataFrame,
                    qs=(0.25, 0.5, 0.75)) -> DataFrame:
    """EXACT zonal quantiles WITHOUT a global sort or a per-zone
    collect — the quantized-domain trick: the same broadcast-zones
    map-only pass as ``zonal_stats`` emits per-(zone, value) COUNT
    partials (bounded by the value domain, not the pixel count), the
    counts merge in one keyed agg, and each quantile is read off the
    per-zone cumulative histogram with the interpolation
    ``v[lo]·(1−f) + v[hi]·f`` — probed to be DuckDB quantile_cont's
    exact expression (stretch_params precedent), so the oracle is
    plain quantile_cont. → (poly_id, n, q_25, q_50, q_75).

    100-TB shape: partials are ≤ |domain| rows per (task, zone); the
    cumulative window runs over per-zone histograms (≤ 4096 rows/zone
    here), never pixels. Boundary: a genuinely continuous domain
    needs t-digest-style sketches — this operator is exact where
    pixel values are quantized (q8/i32/b1 always; fixture raw too)."""
    from pyspark.sql import Window

    from rasters_spark.operators.joins import _ring_xy, ray_cast_inside

    hist = _zonal_value_counts(tiles, polygons)
    w = Window.partitionBy("poly_id").orderBy("value")
    h2 = hist.select("poly_id", "value", "cnt",
                     F.sum("cnt").over(w).alias("cum")).cache()
    nfr = h2.groupBy("poly_id").agg(F.max("cum").alias("n"))
    out = nfr
    for q in qs:
        lbl = f"q_{str(q).replace('0.', '')}"
        p = (F.col("n") - 1) * F.lit(float(q))
        ranks = nfr.select("poly_id", F.floor(p).alias("lor"),
                           F.ceil(p).alias("hir"), (p - F.floor(p)).alias("f"))
        lov = (h2.join(ranks, "poly_id")
               .filter((F.col("cum") - F.col("cnt") <= F.col("lor"))
                       & (F.col("lor") < F.col("cum")))
               .select("poly_id", F.col("value").alias("lov"), "f"))
        hiv = (h2.join(ranks, "poly_id")
               .filter((F.col("cum") - F.col("cnt") <= F.col("hir"))
                       & (F.col("hir") < F.col("cum")))
               .select("poly_id", F.col("value").alias("hiv")))
        qf = lov.join(hiv, "poly_id").select(
            "poly_id",
            (F.col("lov") * (1.0 - F.col("f"))
             + F.col("hiv") * F.col("f")).alias(lbl))
        out = out.join(qf, "poly_id")
    return out


def integral_image(tiles: DataFrame) -> DataFrame:
    """Per-tile integral image / summed-area table (Crow 1984; the
    constant-time box-filter primitive every vision pipeline uses —
    EXTENSION beyond the reference): SAT(r,c) = Σ_{r'<=r, c'<=c} v
    with NaN treated as 0 (the masked-SAT convention), emitted as
    skinny per-pixel rows plus the per-pixel valid-count integral
    ``nsat`` (so box means are SAT/nSAT — certifies the NaN handling
    independently). Quarter-integer pixels keep every prefix sum
    EXACT in double, so the twin's two chained cumulative windows
    match bit-for-bit. ONE map-only Arrow pass (two np.cumsum)."""
    cols = tiles.select("image_id", "bytes", "w", "h", "fmt")
    schema = ("image_id string, prow int, pcol int, sat double, nsat long")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            arrs = codec.decode_batch(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"])
            for i, arr in enumerate(arrs):
                hh, ww = arr.shape
                v = arr.astype(np.float64)
                m = np.isfinite(v)
                vz = np.where(m, v, 0.0)
                sat = vz.cumsum(axis=0).cumsum(axis=1)
                nsat = m.astype(np.int64).cumsum(axis=0).cumsum(axis=1)
                rr, cc = np.divmod(np.arange(hh * ww, dtype=np.int64), ww)
                frames.append(pd.DataFrame({
                    "image_id": pdf["image_id"].iloc[i],
                    "prow": rr.astype(np.int32),
                    "pcol": cc.astype(np.int32),
                    "sat": sat.ravel(),
                    "nsat": nsat.ravel()}))
            yield (pd.concat(frames, ignore_index=True) if frames else
                   pd.DataFrame({"image_id": pd.Series([], dtype=str),
                                 "prow": pd.Series([], dtype=np.int32),
                                 "pcol": pd.Series([], dtype=np.int32),
                                 "sat": pd.Series([], dtype=float),
                                 "nsat": pd.Series([], dtype=np.int64)}))

    return cols.mapInPandas(run, schema=schema)


def zonal_mode(tiles: DataFrame, polygons: DataFrame) -> DataFrame:
    """Majority value per zone (the categorical zonal statistic —
    dominant land-cover class): reuses zonal_quantiles' per-(zone,
    value) count partials (quantized-domain trick, no sort/collect)
    and picks the value with the highest count, ties → SMALLEST value
    (the to_grid_mode total-order rule). → (poly_id, mode, mode_n,
    n_valid)."""
    from pyspark.sql import Window

    hist = _zonal_value_counts(tiles, polygons)
    w = Window.partitionBy("poly_id").orderBy(F.col("cnt").desc(), F.col("value").asc())
    ranked = hist.withColumn("rn", F.row_number().over(w))
    totals = hist.groupBy("poly_id").agg(F.sum("cnt").alias("n_valid"))
    return (ranked.filter(F.col("rn") == 1)
            .select("poly_id", F.col("value").alias("mode"),
                    F.col("cnt").alias("mode_n"))
            .join(totals, "poly_id"))


def _zonal_value_counts(tiles: DataFrame, polygons: DataFrame) -> DataFrame:
    """(poly_id, value, cnt) — the shared per-zone value-histogram
    partial pass (broadcast zones, map-only; see zonal_quantiles)."""
    from rasters_spark.operators.joins import _ring_xy, ray_cast_inside

    zrows = polygons.select("poly_id", "xmin", "ymin", "xmax", "ymax", "ring").collect()
    zones = []
    for r in zrows:
        rx, ry = _ring_xy(r.ring)
        zones.append((int(r.poly_id), float(r.xmin), float(r.ymin),
                      float(r.xmax), float(r.ymax), rx, ry))
    zxmin = np.array([z[1] for z in zones])
    zymin = np.array([z[2] for z in zones])
    zxmax = np.array([z[3] for z in zones])
    zymax = np.array([z[4] for z in zones])
    bc = tiles.sparkSession.sparkContext.broadcast((zones, zxmin, zymin, zxmax, zymax))
    payload = tiles.select("image_id", "bytes", "w", "h", "fmt",
                           "x_origin", "y_origin", "cell_width", "cell_height")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        zs, bxmin, bymin, bxmax, bymax = bc.value
        for pdf in batches:
            frames = []
            for i, arr in enumerate(codec.decode_batch(pdf["bytes"], pdf["w"], pdf["h"], pdf["fmt"])):
                h, w = arr.shape
                x0 = pdf["x_origin"].iloc[i]
                y0 = pdf["y_origin"].iloc[i]
                cw = pdf["cell_width"].iloc[i]
                ch = pdf["cell_height"].iloc[i]
                txmin, txmax = x0, x0 + cw * w
                tymax, tymin = y0, y0 + ch * h
                hit = np.flatnonzero((bxmin < txmax) & (bxmax > txmin)
                                     & (bymin < tymax) & (bymax > tymin))
                if len(hit) == 0:
                    continue
                xs = x0 + cw * (np.arange(w, dtype=np.float64) + 0.5)
                ys = y0 + ch * (np.arange(h, dtype=np.float64) + 0.5)
                gx = np.broadcast_to(xs, (h, w)).ravel()
                gy = np.repeat(ys, w)
                vals = arr.ravel()
                finite = np.isfinite(vals)
                for zi in hit:
                    poly_id, xmn, ymn, xmx, ymx, rx, ry = zs[zi]
                    m = (finite & (gx >= xmn) & (gx < xmx)
                         & (gy >= ymn) & (gy < ymx))
                    idx_ = np.flatnonzero(m)
                    if len(idx_) == 0:
                        continue
                    keep = ray_cast_inside(gx[idx_], gy[idx_], rx, ry)
                    sel = idx_[keep]
                    if len(sel) == 0:
                        continue
                    uniq, counts = np.unique(vals[sel].astype(np.float64),
                                             return_counts=True)
                    frames.append(pd.DataFrame({
                        "poly_id": poly_id, "value": uniq,
                        "cnt": counts.astype(np.int64)}))
            yield (pd.concat(frames, ignore_index=True) if frames else
                   pd.DataFrame({"poly_id": pd.Series([], dtype=np.int64),
                                 "value": pd.Series([], dtype=float),
                                 "cnt": pd.Series([], dtype=np.int64)}))

    partial = payload.mapInPandas(run, schema="poly_id long, value double, cnt long")
    return partial.groupBy("poly_id", "value").agg(F.sum("cnt").alias("cnt"))
