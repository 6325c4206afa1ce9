"""Terrain analysis — Horn slope / aspect / hillshade over tiled DEMs.

EXTENSION beyond the reference (no terrain family in /root/reference —
verified by grep): the classic DEM derivatives (Horn 1981, "Hill
shading and the reflectance map", Proc. IEEE 69(1); same weighted
finite-difference stencil GDAL DEMProcessing and ESRI use), expressed
for Spark's execution model by reusing the focal halo-exchange
machinery (operators/focal.py) — strips cross tile seams so derivative
cells at tile edges are seamless.

Semantics (STRICT window): a cell gets values only when all 9 pixels
of its 3×3 window are finite — partial windows are excluded, which
both engines can express identically (the oracle requires a 9/9
valid-neighbor count). With the fixtures' quarter-integer pixels the
Horn weighted differences are EXACT dyadic doubles, so the gradients
``gx``/``gy`` are bit-identical between the numpy kernel and a
relational twin. The remaining transcendentals (atan, atan2) differ by
≤1 ulp across libms, absorbed by the %.9e printf-quantization rule
(CLAUDE.md); hillshade avoids the branch-cut entirely via the
normal·light dot-product form whose every operation is deterministic
IEEE (mul/add/sub/sqrt), with the light-vector constants inlined
bit-identically into both engines' expressions.

Grid orientation: ``gx`` is the derivative toward +pcol (east),
``gy`` toward +prow; north is −prow when ``cell_height < 0`` (the
normal north-up layout), so the northward derivative is
``gn = −gy·sign(cell_height)``. Aspect is compass-convention (0°=N,
90°=E, facing DOWNslope), NULL on flat cells; hillshade is the
UNCLAMPED Lambertian reflectance × 255 (can be negative on
anti-facing steep slopes — clamp at render time, not in the analytic
value, so near-zero values stay deterministic).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame

from rasters_spark.operators.focal import map_halo
from rasters_spark.tiles import TILE_KEEP, TILE_SCHEMA, cell_rows, raw_tile

#: default illumination (the GDAL/ESRI hillshade defaults).
DEFAULT_ALTITUDE = 45.0
DEFAULT_AZIMUTH = 315.0


def light_vector(altitude_deg: float = DEFAULT_ALTITUDE,
                 azimuth_deg: float = DEFAULT_AZIMUTH) -> tuple[float, float, float]:
    """(east, north, up) unit light vector for a sun at
    ``altitude_deg`` above the horizon, ``azimuth_deg`` compass-from-
    north. Computed ONCE in Python and inlined into both the numpy
    kernel and the SQL oracle so the constants are bit-identical."""
    alt = math.radians(altitude_deg)
    az = math.radians(azimuth_deg)
    return (math.cos(alt) * math.sin(az),
            math.cos(alt) * math.cos(az),
            math.sin(alt))


def _window3(pad: np.ndarray, hh: int, ww: int):
    """The 3×3 window of every cell: z1..z9 row-major over
    (prow-1..+1, pcol-1..+1) as shifted views of the radius-1 ``pad``,
    and the STRICT-window mask (all 9 finite)."""
    z = [pad[dy:dy + hh, dx:dx + ww] for dy in range(3) for dx in range(3)]
    return z, np.logical_and.reduce([np.isfinite(v) for v in z])


def _horn(z, cw: float, ch: float, zf: float):
    """Horn weighted differences → (gx, gn): toward +pcol (east) and
    north. Dyadic-exact for quarter-integer pixels; expression order
    mirrors the oracle SQL text verbatim (CLAUDE.md shared-text rule)."""
    z1, z2, z3, z4, _z5, z6, z7, z8, z9 = z
    gx = zf * (((z3 + 2.0 * z6 + z9) - (z1 + 2.0 * z4 + z7)) / (8.0 * abs(cw)))
    gy = zf * (((z7 + 2.0 * z8 + z9) - (z1 + 2.0 * z2 + z3)) / (8.0 * abs(ch)))
    return gx, (-gy if ch < 0 else gy)


def _hillshade(gx, gn, light):
    """Unclamped Lambertian reflectance × 255 (normal·light form)."""
    lx, ly, lz = light
    return (255.0 * (lx * (-gx) + ly * (-gn) + lz)
            / np.sqrt(1.0 + gx * gx + gn * gn))


def slope_aspect_hillshade(tiles: DataFrame, z_factor: float = 1.0,
                           altitude_deg: float = DEFAULT_ALTITUDE,
                           azimuth_deg: float = DEFAULT_AZIMUTH) -> DataFrame:
    """Per-cell Horn derivatives over a tiled DEM with halo exchange:
    ``(image_id, prow, pcol, slope_deg, aspect_deg, hillshade)`` for
    every cell whose full 3×3 window is finite.

    Scale shape: identical to ``focal_tiles`` — a skinny O(perimeter)
    strip exchange, ONE payload join, then a map-only Arrow kernel;
    the output is skinny per-cell doubles (no tile blobs cross any
    further exchange)."""
    light = light_vector(altitude_deg, azimuth_deg)
    zf = float(z_factor)

    def kernel(pad, hh, ww, cw, ch):
        z, complete = _window3(pad, hh, ww)
        gx, gn = _horn(z, cw, ch, zf)
        with np.errstate(invalid="ignore"):
            slope = np.degrees(np.arctan(np.sqrt(gx * gx + gn * gn)))
            aspect = np.fmod(np.degrees(np.arctan2(-gx, gn)) + 360.0, 360.0)
            hs = _hillshade(gx, gn, light)
        flat = (gx == 0.0) & (gn == 0.0)
        return cell_rows(complete, slope, np.where(flat, np.nan, aspect), hs)

    return map_halo(tiles, 1, kernel,
                    "image_id string, prow int, pcol int, "
                    "slope_deg double, aspect_deg double, hillshade double",
                    meta=("cell_width", "cell_height"))


def hillshade_tiles(tiles: DataFrame, z_factor: float = 1.0,
                    altitude_deg: float = DEFAULT_ALTITUDE,
                    azimuth_deg: float = DEFAULT_AZIMUTH) -> DataFrame:
    """Raster→raster hillshade: the tile set with ``bytes`` replaced by
    the render-ready CLAMPED [0,255] hillshade grid (fmt raw; NaN where
    the window is incomplete). The clamp lives HERE (the render
    surface), not in the analytic per-cell values, so the oracle-checked
    path never hashes a max(0,·) boundary."""
    light = light_vector(altitude_deg, azimuth_deg)
    zf = float(z_factor)

    def kernel(pad, hh, ww, cw, ch):
        z, complete = _window3(pad, hh, ww)
        hs = _hillshade(*_horn(z, cw, ch, zf), light)
        return raw_tile(np.where(complete, np.clip(hs, 0.0, 255.0), np.nan))

    return map_halo(tiles, 1, kernel, TILE_SCHEMA, TILE_KEEP,
                    meta=("cell_width", "cell_height"))


# --- D8 flow direction ---------------------------------------------------------

#: pixel-space D8 offsets in ESRI code order (O'Callaghan & Mark 1984;
#: ESRI encoding E=1 clockwise to NE=128). (dy, dx) are (Δprow, Δpcol);
#: with the normal north-up layout (cell_height < 0) +prow is south.
#: The diagonal distance constant is inlined as sqrt(2.0) in BOTH the
#: numpy kernel and the SQL oracle (shared-constant rule).
D8_SQRT2 = math.sqrt(2.0)
D8_OFFSETS = (
    (0, 1, 1, 1.0), (1, 1, 2, D8_SQRT2), (1, 0, 4, 1.0), (1, -1, 8, D8_SQRT2),
    (0, -1, 16, 1.0), (-1, -1, 32, D8_SQRT2), (-1, 0, 64, 1.0), (-1, 1, 128, D8_SQRT2),
)


def flow_d8(tiles: DataFrame) -> DataFrame:
    """D8 flow direction over a tiled DEM with halo exchange —
    steepest-descent routing (O'Callaghan & Mark 1984; the ESRI/GDAL
    FlowDirection operator; EXTENSION beyond the reference). Per valid
    cell: ``d8`` = the code of the neighbor with the maximum positive
    drop ``(z − z_nbr)/dist`` (dist 1 cardinal, sqrt(2) diagonal),
    ties → the SMALLEST code (total-order rule); 0 for pits/flats (no
    positive drop) and for cells with no valid neighbor. ``n_down`` =
    the count of positive-drop neighbors (independent certification of
    the whole drop field, not just the argmax).

    Cross-engine parity: every drop is (exact dyadic difference) ÷
    (1.0 or the shared sqrt(2.0) constant) — correctly-rounded IEEE on
    both engines, so comparisons and the argmax agree exactly; outputs
    are pure integers. Scale shape: the focal strip exchange + one
    payload join + a map-only Arrow pass."""
    import warnings

    codes = np.array([c for _, _, c, _ in D8_OFFSETS], dtype=np.int32)

    def kernel(pad, hh, ww):
        center = pad[1:1 + hh, 1:1 + ww]
        drops = np.stack([
            (center - pad[1 + dy:1 + dy + hh, 1 + dx:1 + dx + ww]) / dist
            for dy, dx, _c, dist in D8_OFFSETS])
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            best = np.nanmax(drops, axis=0)
            n_down = (drops > 0.0).sum(axis=0)
        # first index attaining the max = smallest ESRI code
        # (D8_OFFSETS is in ascending code order)
        idx = (drops == best).argmax(axis=0)
        d8 = np.where(np.isfinite(best) & (best > 0.0), codes[idx], 0)
        return cell_rows(np.isfinite(center), d8, n_down)

    return map_halo(tiles, 1, kernel,
                    "image_id string, prow int, pcol int, d8 int, n_down long")


def curvature_zt(tiles: DataFrame) -> DataFrame:
    """Zevenbergen & Thorne (1987) surface curvature over a tiled DEM
    with halo exchange — general, plan and profile curvature (the
    GDAL/ESRI Curvature operator; EXTENSION beyond the reference).
    Strict 3×3 window like slope_aspect_hillshade. With power-of-two
    cell sizes EVERY quadratic coefficient (D, E, F, G, H) is an
    exact dyadic double (sums of quarter-integer pixels divided by
    powers of two), the flatness test G²+H² = 0 is exact, and the
    remaining products/divisions are correctly rounded with the
    expression text shared verbatim — raw doubles hash identically,
    no printf. Plan/profile are NULL on flat cells.

    → (image_id, prow, pcol, curv, plan_curv, prof_curv)."""
    import warnings

    def kernel(pad, hh, ww, cw, ch):
        lx, lyy = abs(cw), abs(ch)
        z, complete = _window3(pad, hh, ww)
        z1, z2, z3, z4, z5, z6, z7, z8, z9 = z
        # ZT coefficients — text mirrors the SQL oracle verbatim
        with warnings.catch_warnings(), np.errstate(invalid="ignore", divide="ignore"):
            warnings.simplefilter("ignore", RuntimeWarning)
            d_ = ((z4 + z6) / 2.0 - z5) / (lx * lx)
            e_ = ((z2 + z8) / 2.0 - z5) / (lyy * lyy)
            f_ = (-z1 + z3 + z7 - z9) / (4.0 * lx * lyy)
            g_ = (-z4 + z6) / (2.0 * lx)
            h_ = (z2 - z8) / (2.0 * lyy)
            curv = -2.0 * (d_ + e_)
            den = g_ * g_ + h_ * h_
            plan = np.where(den == 0.0, np.nan,
                            2.0 * (d_ * h_ * h_ + e_ * g_ * g_ - f_ * g_ * h_) / den)
            prof = np.where(den == 0.0, np.nan,
                            -2.0 * (d_ * g_ * g_ + e_ * h_ * h_ + f_ * g_ * h_) / den)
        return cell_rows(complete, curv, plan, prof)

    return map_halo(tiles, 1, kernel,
                    "image_id string, prow int, pcol int, "
                    "curv double, plan_curv double, prof_curv double",
                    meta=("cell_width", "cell_height"))


def terrain_indices(tiles: DataFrame) -> DataFrame:
    """Terrain Ruggedness Index (Riley et al. 1999: √Σ(z−zₙ)²) and
    Topographic Position Index (Weiss 2001: z − mean(zₙ)) over the
    8-neighborhood with halo exchange — the remaining GDAL
    DEMProcessing modes beside slope/aspect/hillshade (EXTENSION
    beyond the reference). Valid-neighbor semantics (n_nbr ≥ 1;
    nodata neighbors excluded), center must be valid.

    Parity: squared quarter-integer differences and their sums are
    EXACT in double, so TRI's single sqrt and TPI's single division
    are correctly rounded on identical inputs — raw doubles hash
    bit-identically with the shared expression text.
    → (image_id, prow, pcol, tri, tpi, n_nbr)."""
    import warnings

    def kernel(pad, hh, ww):
        z, _ = _window3(pad, hh, ww)
        center = z[4]
        ssum = np.zeros((hh, ww))
        nsum = np.zeros((hh, ww))
        nn = np.zeros((hh, ww), dtype=np.int64)
        for nb in z[:4] + z[5:]:
            m = np.isfinite(nb)
            d = np.where(m, center - nb, 0.0)
            ssum += d * d
            nsum += np.where(m, nb, 0.0)
            nn += m
        with warnings.catch_warnings(), np.errstate(invalid="ignore"):
            warnings.simplefilter("ignore", RuntimeWarning)
            tri = np.sqrt(ssum)
            tpi = center - (nsum / nn)
        return cell_rows(np.isfinite(center) & (nn > 0), tri, tpi, nn)

    return map_halo(tiles, 1, kernel,
                    "image_id string, prow int, pcol int, "
                    "tri double, tpi double, n_nbr long")


#: code → (Δprow, Δpcol), the inverse of D8_OFFSETS' encoding
_D8_DY = {1: 0, 2: 1, 4: 1, 8: 1, 16: 0, 32: -1, 64: -1, 128: -1}
_D8_DX = {1: 1, 2: 1, 4: 0, 8: -1, 16: -1, 32: -1, 64: 0, 128: 1}


def flow_accumulation(tiles: DataFrame, max_rounds: int = 64) -> DataFrame:
    """D8 flow ACCUMULATION over the tiled DEM — the hydrology
    workhorse (number of cells draining through each cell, self
    included; EXTENSION beyond the reference). The D8 graph is a
    strictly-descending forest (every edge drops in elevation), so
    the exact fixpoint ``up(c) = Σ_{u→c} (1 + up(u))`` converges in
    longest-flow-path rounds; each round is ONE equi-join on the
    skinny global cell key + ONE keyed sum — the same driver-looped
    propagation shape as dedup.dup_groups, with a monotone Σup
    convergence test (scalar action per round).

    Scale boundary (documented): rounds = the longest flow path. On
    weakly-correlated terrain that is O(10); long valley lines on
    real DEMs need the two-level tile-local + boundary-transfer
    method (Barnes 2017, "Parallel non-divergent flow accumulation")
    — the boundary graph solve would slot in exactly where this
    driver loop sits. → (image_id, prow, pcol, gx, gy, acc)."""
    from pyspark.sql import functions as F

    d8 = flow_d8(tiles)
    idx = tiles.select(
        "image_id", "w", "h",
        F.round(F.col("x_origin") / (F.col("w") * F.col("cell_width"))).cast("long").alias("tx"),
        F.round(F.col("y_origin") / (F.col("h") * F.col("cell_height"))).cast("long").alias("ty"))
    j = d8.join(idx, "image_id")
    nodes = j.select(
        "image_id", "prow", "pcol", "d8",
        (F.col("tx") * F.col("w") + F.col("pcol")).alias("gx"),
        (F.col("ty") * F.col("h") + F.col("prow")).alias("gy")).cache()
    dy = F.element_at(F.create_map(
        *[F.lit(v) for kv in _D8_DY.items() for v in kv]), F.col("d8"))
    dx = F.element_at(F.create_map(
        *[F.lit(v) for kv in _D8_DX.items() for v in kv]), F.col("d8"))
    edges = (nodes.filter(F.col("d8") > 0)
             .select("gx", "gy", (F.col("gx") + dx).alias("tgx"),
                     (F.col("gy") + dy).alias("tgy"))).cache()
    up = nodes.select("gx", "gy").withColumn("up", F.lit(0).cast("long"))
    prev_sum = -1
    for _ in range(max_rounds):
        contrib = (edges.join(up, ["gx", "gy"])
                   .groupBy(F.col("tgx").alias("gx"), F.col("tgy").alias("gy"))
                   .agg(F.sum(F.col("up") + 1).alias("inflow")))
        up = (nodes.select("gx", "gy").join(contrib, ["gx", "gy"], "left")
              .select("gx", "gy",
                      F.coalesce("inflow", F.lit(0)).cast("long").alias("up"))
              .localCheckpoint())
        s = up.agg(F.sum("up")).collect()[0][0]
        if s == prev_sum:
            break
        prev_sum = s
    return (nodes.join(up, ["gx", "gy"])
            .select("image_id", "prow", "pcol", "gx", "gy",
                    (F.col("up") + 1).alias("acc")))


def watersheds(tiles: DataFrame, max_rounds: int = 32) -> DataFrame:
    """Watershed delineation over the D8 forest — every cell labeled
    by its TERMINAL sink (pit/flat), the basin key (EXTENSION beyond
    the reference; the ESRI/GDAL Watershed operator for the
    all-sinks case). POINTER DOUBLING: each round replaces every
    cell's downstream pointer with its pointer's pointer (one
    self-join on the skinny global key), so convergence takes
    ⌈log₂(longest path)⌉ rounds — 3 on this lattice — versus the
    linear rounds of per-step walking; the fixpoint test is the
    round when no pointer changes (count of non-terminal hops,
    monotone decreasing). → (image_id, prow, pcol, gx, gy, sink_gx,
    sink_gy) — sinks label themselves."""
    from pyspark.sql import functions as F

    d8 = flow_d8(tiles)
    idx = tiles.select(
        "image_id", "w", "h",
        F.round(F.col("x_origin") / (F.col("w") * F.col("cell_width"))).cast("long").alias("tx"),
        F.round(F.col("y_origin") / (F.col("h") * F.col("cell_height"))).cast("long").alias("ty"))
    j = d8.join(idx, "image_id")
    nodes = j.select(
        "image_id", "prow", "pcol", "d8",
        (F.col("tx") * F.col("w") + F.col("pcol")).alias("gx"),
        (F.col("ty") * F.col("h") + F.col("prow")).alias("gy")).cache()
    dy = F.element_at(F.create_map(
        *[F.lit(v) for kv in _D8_DY.items() for v in kv]), F.col("d8"))
    dx = F.element_at(F.create_map(
        *[F.lit(v) for kv in _D8_DX.items() for v in kv]), F.col("d8"))
    # terminal cells point at THEMSELVES — the doubling fixpoint
    ptr = nodes.select(
        "gx", "gy",
        F.when(F.col("d8") > 0, F.col("gx") + dx).otherwise(F.col("gx")).alias("pgx"),
        F.when(F.col("d8") > 0, F.col("gy") + dy).otherwise(F.col("gy")).alias("pgy"))
    ptr = ptr.localCheckpoint()
    for _ in range(max_rounds):
        p2 = ptr.select(F.col("gx").alias("pgx"), F.col("gy").alias("pgy"),
                        F.col("pgx").alias("ppgx"), F.col("pgy").alias("ppgy"))
        new = (ptr.join(p2, ["pgx", "pgy"])
               .select("gx", "gy", F.col("ppgx").alias("pgx"),
                       F.col("ppgy").alias("pgy"))
               .localCheckpoint())
        changed = (new.join(ptr.withColumnRenamed("pgx", "ogx")
                            .withColumnRenamed("pgy", "ogy"), ["gx", "gy"])
                   .filter((F.col("pgx") != F.col("ogx"))
                           | (F.col("pgy") != F.col("ogy"))).count())
        ptr = new
        if changed == 0:
            break
    return (nodes.join(ptr, ["gx", "gy"])
            .select("image_id", "prow", "pcol", "gx", "gy",
                    F.col("pgx").alias("sink_gx"), F.col("pgy").alias("sink_gy")))
