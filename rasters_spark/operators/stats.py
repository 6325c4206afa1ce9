"""Tile statistics — Arrow decode + per-tile partial aggregation.

The reference's whole-raster reductions (range raster.py:1109-1113,
empty :1871-1876, nanmean via the __getattr__ escape raster.py:971-978)
become two-level aggregation here: per-tile partials computed inside ONE
Arrow pass over the decoded pixels (the map-side combine), then plain
SQL finals across tiles. At 10^12 tiles the Arrow stage is
embarrassingly parallel and the final agg moves only 4 doubles/tile.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rasters_spark.tiles import cell_rows, map_groups, map_tiles

TILE_STATS_SCHEMA = (
    "image_id string, n_pixels long, n_valid long, vsum double, vmin double, vmax double"
)


def tile_stats(tiles: DataFrame) -> DataFrame:
    """Per-tile (n_pixels, n_valid, vsum, vmin, vmax) from the binary
    pixel column, one ``map_groups`` kernel call per decode group. NaN
    partials surface as NULL (all-nodata tiles, reference `empty`
    raster.py:1871-1876 ≙ n_valid = 0)."""
    def kernel(pos, px, h, w, fmt):
        # float32→float64 BEFORE reducing: exact for quarter-integer fixtures
        V = px.reshape(len(pos), h * w).astype(np.float64, copy=False)
        valid = np.isfinite(V)
        nv = valid.sum(axis=1)
        if fmt[0].as_py() == "q8":
            # q8 values are arbitrary float32: sum each tile's compacted
            # valid pixels, the accumulation order the oracle hashed
            vsum = np.array([V[k][valid[k]].sum() for k in range(len(pos))])
        else:
            # raw pixels are quarter-integers and i32/b1 integers, so
            # the masked row sum (zeros at nodata) is exact
            vsum = np.where(valid, V, 0.0).sum(axis=1)
        mn = np.where(valid, V, np.inf).min(axis=1)
        mx = np.where(valid, V, -np.inf).max(axis=1)
        return (pos, np.full(len(pos), h * w), nv, vsum,
                np.where(nv > 0, mn, np.nan), np.where(nv > 0, mx, np.nan))

    return map_groups(tiles, kernel, TILE_STATS_SCHEMA, meta=("fmt",))


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
    def kernel(arr, h, w):
        v = np.sort(arr[np.isfinite(arr)].astype(np.float64))
        if len(v) == 0:
            return [np.nan], [np.nan], [0]
        out = []
        for q in (lo_pct / 100.0, hi_pct / 100.0):
            pos = (len(v) - 1) * q
            loi = int(np.floor(pos))
            hii = int(np.ceil(pos))
            frac = pos - loi
            out.append(float(v[loi] * (1.0 - frac) + v[hii] * frac))
        return [out[0]], [out[1]], [len(v)]

    return map_tiles(tiles, kernel, "image_id string, lo double, hi double, n_valid long")


def tile_unique_values(tiles: DataFrame, few_threshold: int = 10) -> DataFrame:
    """imshow's unique-value binning branch (raster.py:1983-1995):
    exact per-tile distinct count of finite pixel values + the
    ``< 10`` few-values flag that switches the reference's rendering
    mode. → (image_id, n_unique, few_values)."""
    def kernel(arr, h, w):
        n = int(len(np.unique(arr[np.isfinite(arr)])))
        return [n], [n < few_threshold]

    return map_tiles(tiles, kernel, "image_id string, n_unique long, few_values boolean")


ZONAL_PARTIAL_SCHEMA = (
    "poly_id long, n_valid long, vsum double, vmin double, vmax double"
)

#: the georeferencing meta columns the zonal kernels read
_ORIGIN = ("x_origin", "y_origin", "cell_width", "cell_height")


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
    bc = _broadcast_zones(tiles, polygons)

    def kernel(arr, h, w, x0, y0, cw, ch):
        hits = list(_zone_values(bc.value, arr, h, w, x0, y0, cw, ch))
        return ([p for p, _ in hits], [len(v) for _, v in hits],
                [float(v.sum()) for _, v in hits], [float(v.min()) for _, v in hits],
                [float(v.max()) for _, v in hits])

    partial = map_tiles(tiles, kernel, ZONAL_PARTIAL_SCHEMA, keep=(), meta=_ORIGIN)
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

    def kernel(arr, h, w):
        v = arr[np.isfinite(arr)].astype(np.float64)
        b = np.floor((v - lo) / wbin)
        acc = np.bincount(b[(b >= 0) & (b < nbins)].astype(np.int64), minlength=nbins)
        nz = np.flatnonzero(acc)
        return nz, acc[nz]

    partials = map_tiles(tiles, kernel, "bin long, n_pixels long", keep=())
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
    names = sorted(bits)
    schema = ("image_id string, n_valid long, "
              + ", ".join(f"n_{f} long" for f in names)
              + ", n_clear long, clear_vsum double")

    def kernel(arr, h, w):
        v = arr.astype(np.float64)
        valid = np.isfinite(v)
        qa = np.zeros(v.shape, dtype=np.int64)
        qa[valid] = np.floor(v[valid] * scale).astype(np.int64)
        flags = [int((((qa >> bits[f]) & 1).astype(bool) & valid).sum()) for f in names]
        clear = valid & ~(((qa >> bits[mask_flag]) & 1).astype(bool))
        return ([int(valid.sum())], *([n] for n in flags), [int(clear.sum())],
                [float(v[clear].sum()) if clear.any() else 0.0])

    return map_tiles(tiles, kernel, schema)


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
    def kernel(arr, h, w):
        v = arr.astype(np.float64).ravel()
        uniq, counts = np.unique(v[np.isfinite(v)], return_counts=True)
        cum = np.cumsum(counts)
        return (uniq, counts.astype(np.int64), cum.astype(np.int64),
                cum.astype(np.float64) / float(counts.sum()))

    return map_tiles(tiles, kernel,
                     "image_id string, value double, n_at long, cum long, cdf double")


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
    def kernel(arr, h, w):
        v = arr.astype(np.float64)
        m = np.isfinite(v)
        sat = np.where(m, v, 0.0).cumsum(axis=0).cumsum(axis=1)
        nsat = m.astype(np.int64).cumsum(axis=0).cumsum(axis=1)
        return cell_rows(np.ones((h, w), bool), sat, nsat)

    return map_tiles(tiles, kernel,
                     "image_id string, prow int, pcol int, sat double, nsat long")


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
    bc = _broadcast_zones(tiles, polygons)

    def kernel(arr, h, w, x0, y0, cw, ch):
        pid, val, cnt = [np.empty(0, np.int64)], [np.empty(0)], [np.empty(0, np.int64)]
        for p, v in _zone_values(bc.value, arr, h, w, x0, y0, cw, ch):
            uniq, counts = np.unique(v, return_counts=True)
            pid.append(np.full(len(uniq), p, np.int64))
            val.append(uniq)
            cnt.append(counts)
        return np.concatenate(pid), np.concatenate(val), np.concatenate(cnt)

    partial = map_tiles(tiles, kernel, "poly_id long, value double, cnt long",
                        keep=(), meta=_ORIGIN)
    return partial.groupBy("poly_id", "value").agg(F.sum("cnt").alias("cnt"))


def _broadcast_zones(tiles: DataFrame, polygons: DataFrame):
    """Collect the zone DIM table once and ship it as a Spark broadcast
    variable: (zones, xmin, ymin, xmax, ymax) with each zone
    ``(poly_id, xmin, ymin, xmax, ymax, ring xs, ring ys)``."""
    from rasters_spark.operators.joins import _ring_xy

    zones = []
    for r in polygons.select("poly_id", "xmin", "ymin", "xmax", "ymax", "ring").collect():
        rx, ry = _ring_xy(r.ring)
        zones.append((int(r.poly_id), float(r.xmin), float(r.ymin),
                      float(r.xmax), float(r.ymax), rx, ry))
    return tiles.sparkSession.sparkContext.broadcast(
        (zones, *(np.array([z[k] for z in zones]) for k in (1, 2, 3, 4))))


def _zone_values(zones, arr, h, w, x0, y0, cw, ch):
    """Yield ``(poly_id, values)`` — the finite pixel values (float64)
    whose CENTROID lies inside each zone the tile touches: one
    vectorized bbox-overlap test prunes the zones, the half-open bbox
    window selects cheaply, and the exact ray-cast runs only on the
    window's survivors. Zones selecting no pixel are skipped."""
    from rasters_spark.operators.joins import ray_cast_inside

    zs, bxmin, bymin, bxmax, bymax = zones
    txmin, txmax = x0, x0 + cw * w
    tymax, tymin = y0, y0 + ch * h  # north-up: ch < 0
    hit = np.flatnonzero((bxmin < txmax) & (bxmax > txmin)
                         & (bymin < tymax) & (bymax > tymin))
    if len(hit) == 0:
        return
    xs = x0 + cw * (np.arange(w, dtype=np.float64) + 0.5)
    ys = y0 + ch * (np.arange(h, dtype=np.float64) + 0.5)
    gx = np.broadcast_to(xs, (h, w)).ravel()
    gy = np.repeat(ys, w)
    vals = arr.ravel()
    finite = np.isfinite(vals)
    for zi in hit:
        poly_id, xmn, ymn, xmx, ymx, rx, ry = zs[zi]
        idx = np.flatnonzero(finite & (gx >= xmn) & (gx < xmx)
                             & (gy >= ymn) & (gy < ymx))
        if len(idx) == 0:
            continue
        sel = idx[ray_cast_inside(gx[idx], gy[idx], rx, ry)]
        if len(sel):
            yield poly_id, vals[sel].astype(np.float64)
