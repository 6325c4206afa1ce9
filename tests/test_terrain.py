"""Focal convolution + Horn terrain derivatives (operators/focal.py
convolve_*, operators/terrain.py).

Ground truth mirrors tests/test_focal.py: assemble the lattice into ONE
global numpy array and brute-force every cell — tile-edge cells then
prove the halo exchange feeds the stencils correctly.
"""

import math

import numpy as np
import pytest

from rasters_spark import codec
from rasters_spark.operators import focal, terrain

from tests.test_focal import (  # noqa: F401  (spark, lattice fixtures)
    COLS, CW, CH, FMTS, H, NX, NY, W, _global_array, _lattice_rows, lattice, lattices,
)


def _collect_tiles(df):
    got = {}
    for row in df.collect():
        got[row["image_id"]] = codec.decode_tile(row["bytes"], row["w"], row["h"], "raw")
    return got


def _brute_conv(g, k, normalize):
    r = k.shape[0] // 2
    gh, gw = g.shape
    pad = np.full((gh + 2 * r, gw + 2 * r), np.nan)
    pad[r:r + gh, r:r + gw] = g
    out = np.full((gh, gw), np.nan)
    for i in range(gh):
        for j in range(gw):
            win = pad[i:i + 2 * r + 1, j:j + 2 * r + 1]
            m = np.isfinite(win)
            if not m.any():
                continue
            num = float((k[m] * win[m]).sum())
            if normalize:
                den = float(k[m].sum())
                out[i, j] = num / den if den != 0.0 else np.nan
            else:
                out[i, j] = num
    return out


_CONV_CASES = [
    (focal.BINOMIAL3, True, "kernel0-True"),
    (focal.LAPLACIAN3, False, "kernel1-False"),
    (focal.BINOMIAL5, True, "kernel2-True"),   # radius-2: 2-wide halo strips
]


@pytest.mark.parametrize("kernel,normalize,fmt", [
    pytest.param(k, n, f, id=i if f == "raw" else f"{i}-{f}")
    for f in FMTS for k, n, i in _CONV_CASES])
def test_convolve_tiles_match_global_brute(spark, lattices, kernel, normalize, fmt):
    want = _brute_conv(_global_array(fmt), kernel, normalize)
    got = _collect_tiles(focal.convolve_tiles(lattices[fmt], kernel, normalize=normalize))
    for ty in range(NY):
        for tx in range(NX):
            crop = want[ty * H:(ty + 1) * H, tx * W:(tx + 1) * W]
            np.testing.assert_allclose(
                got[f"t{ty}{tx}"], crop.astype(np.float32),
                rtol=0, atol=1e-6, equal_nan=True,
                err_msg=f"tile t{ty}{tx} kernel={kernel.tolist()} fmt={fmt}")


def test_convolve_stats_match_brute(spark, lattice, fmt="raw"):
    g = _global_array(fmt)
    num = _brute_conv(g, focal.BINOMIAL3, normalize=False)
    rows = {r["image_id"]: r for r in focal.convolve_stats(lattice, focal.BINOMIAL3).collect()}
    for ty in range(NY):
        for tx in range(NX):
            crop = num[ty * H:(ty + 1) * H, tx * W:(tx + 1) * W]
            r = rows[f"t{ty}{tx}"]
            assert r["conv_cells"] == int(np.isfinite(crop).sum())
            # binomial weights are sixteenths and pixels quarter-integers
            # — the sums are exact doubles, so compare exactly
            assert r["conv_sum"] == float(np.nansum(crop))


@pytest.mark.parametrize("fmt", FMTS[1:])
def test_convolve_stats_match_brute_fmts(spark, lattices, fmt):
    test_convolve_stats_match_brute(spark, lattices[fmt], fmt)


def test_kernel_validation():
    with pytest.raises(ValueError):
        focal._kernel_array(np.ones((2, 2)))
    with pytest.raises(ValueError):
        focal._kernel_array(np.ones((3, 5)))


def _brute_terrain(g, zf=1.0, alt=terrain.DEFAULT_ALTITUDE, az=terrain.DEFAULT_AZIMUTH):
    """Per-cell Horn derivatives over the global array; returns dict
    (grow, gcol) -> (slope, aspect|nan, hillshade) for complete windows."""
    lx, ly, lz = terrain.light_vector(alt, az)
    gh, gw = g.shape
    out = {}
    for i in range(1, gh - 1):
        for j in range(1, gw - 1):
            win = g[i - 1:i + 2, j - 1:j + 2]
            if not np.isfinite(win).all():
                continue
            z1, z2, z3, z4, _z5, z6, z7, z8, z9 = win.ravel()
            gx = zf * (((z3 + 2.0 * z6 + z9) - (z1 + 2.0 * z4 + z7)) / (8.0 * abs(CW)))
            gy = zf * (((z7 + 2.0 * z8 + z9) - (z1 + 2.0 * z2 + z3)) / (8.0 * abs(CH)))
            gn = -gy if CH < 0 else gy
            slope = math.degrees(math.atan(math.sqrt(gx * gx + gn * gn)))
            aspect = (math.fmod(math.degrees(math.atan2(-gx, gn)) + 360.0, 360.0)
                      if not (gx == 0.0 and gn == 0.0) else np.nan)
            hs = (255.0 * (lx * (-gx) + ly * (-gn) + lz)
                  / math.sqrt(1.0 + gx * gx + gn * gn))
            out[(i, j)] = (slope, aspect, hs)
    return out


def test_slope_aspect_hillshade_match_global_brute(spark, lattice, fmt="raw"):
    want = _brute_terrain(_global_array(fmt))
    got = {}
    for r in terrain.slope_aspect_hillshade(lattice).collect():
        ty, tx = int(r["image_id"][1]), int(r["image_id"][2])
        got[(ty * H + r["prow"], tx * W + r["pcol"])] = (
            r["slope_deg"], r["aspect_deg"], r["hillshade"])
    # interior lattice cells with complete windows must agree exactly
    # (aspect is NULL on flat cells)
    assert set(got) == set(want)
    for key, (s, a, h) in want.items():
        gs, ga, gh_ = got[key]
        assert gs == pytest.approx(s, abs=1e-12), key
        if math.isnan(a):
            assert ga is None, key
        else:
            assert ga == pytest.approx(a, abs=1e-12), key
        assert gh_ == pytest.approx(h, abs=1e-12), key


@pytest.mark.parametrize("fmt", FMTS[1:])
def test_slope_aspect_hillshade_match_global_brute_fmts(spark, lattices, fmt):
    test_slope_aspect_hillshade_match_global_brute(spark, lattices[fmt], fmt)


def test_terrain_slope_direction_sanity(spark):
    """A plane rising due east: slope = atan(1) everywhere, aspect=90°
    (faces west→east downslope... the FACING direction is west, 270°),
    hillshade brighter than flat for a NW sun? — pin the exact values."""
    # plane z = x (in cell units): increases eastward ⇒ downslope faces
    # WEST ⇒ aspect 270°. Use cw=1 so gx = 1 exactly.
    r, c = np.mgrid[0:4, 0:4]
    arr = c.astype(np.float64)
    rows = [("p00", codec.encode_tile(arr.astype(np.float32), "raw"),
             4, 4, "raw", "EPSG:4326", 0.0, 0.0, 1.0, -1.0)]
    df = spark.createDataFrame(rows, COLS)
    out = terrain.slope_aspect_hillshade(df).collect()
    # interior cells only (strict window)
    assert len(out) == 4
    for row in out:
        assert row["slope_deg"] == pytest.approx(45.0)
        assert row["aspect_deg"] == pytest.approx(270.0)


def test_hillshade_tiles_clamped(spark, lattice):
    vals = {}
    for r in terrain.slope_aspect_hillshade(lattice).collect():
        vals[(r["image_id"], r["prow"], r["pcol"])] = r["hillshade"]
    tiles = _collect_tiles(terrain.hillshade_tiles(lattice))
    n_checked = 0
    for (iid, pr, pc), hs in vals.items():
        got = tiles[iid][pr, pc]
        want = min(max(hs, 0.0), 255.0)
        assert got == pytest.approx(want, abs=1e-4)
        n_checked += 1
    assert n_checked > 0
    # incomplete-window cells are NaN in the raster
    assert np.isnan(tiles["t00"][0, 0])


def test_halo_family_payload_crosses_one_exchange(spark, lattice):
    """The halo family's scale invariant (PLANS.md): on a natively
    lattice-aligned input, the tile payload crosses AT MOST ONE
    Exchange in every operator built on the strip machinery — the 1:1
    halo join when both sides shuffle (cold statistics), or ZERO when
    the halo side broadcasts (materialized-cache statistics let AQE
    pick BroadcastHashJoin, as this test's cached lattice does after
    earlier tests warm it). The skinny strip/index/output exchanges
    never carry the blob, and the payload NEVER fans out. (The
    contract entries show one more because lattice_remap's
    fixture-only row_number window re-shuffles full rows first.)"""
    import re

    from rasters_spark.operators import contour as contour_ops

    def n_bytes_exchanges(df):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        cnt = 0
        for b in plan.split("\n\n"):
            for node in re.split(r"\n(?=\(\d+\) )", b):
                if node.lstrip().startswith("(") and "Exchange" in node.splitlines()[0]:
                    cnt += "bytes#" in node
        return cnt

    assert n_bytes_exchanges(terrain.slope_aspect_hillshade(lattice)) <= 1
    assert n_bytes_exchanges(contour_ops.contour_segments(lattice, [3.0])) <= 1
    assert n_bytes_exchanges(focal.focal_tiles(lattice)) <= 1
    assert n_bytes_exchanges(focal.convolve_tiles(lattice)) <= 1
    assert n_bytes_exchanges(focal.focal_rank_stats(lattice)) <= 1
    assert n_bytes_exchanges(focal.proximity_stats(lattice, 5.0, 2)) <= 1
    assert n_bytes_exchanges(terrain.flow_d8(lattice)) <= 1


def test_flow_d8_matches_global_brute(spark, lattice, fmt="raw"):
    """D8 per cell vs per-cell Python brute force over the assembled
    global array: steepest positive drop, ties -> smallest ESRI code,
    0 on pits/flats, neighbors beyond the lattice/NaN excluded."""
    g = _global_array(fmt)
    got = {(r.image_id, r.prow, r.pcol): (r.d8, r.n_down)
           for r in terrain.flow_d8(lattice).collect()}
    gh, gw = g.shape
    n_checked = 0
    for gi in range(gh):
        for gj in range(gw):
            if not np.isfinite(g[gi, gj]):
                continue
            best, code, n_down = -np.inf, 0, 0
            for dy, dx, c, dist in terrain.D8_OFFSETS:
                ni, nj = gi + dy, gj + dx
                if not (0 <= ni < gh and 0 <= nj < gw) or not np.isfinite(g[ni, nj]):
                    continue
                drop = (g[gi, gj] - g[ni, nj]) / dist
                if drop > 0.0:
                    n_down += 1
                if drop > best:
                    best, code = drop, c
            d8 = code if best > 0.0 else 0
            key = (f"t{gi // H}{gj // W}", gi % H, gj % W)
            assert got[key] == (d8, n_down), key
            n_checked += 1
    assert n_checked == len(got)


@pytest.mark.parametrize("fmt", FMTS[1:])
def test_flow_d8_matches_global_brute_fmts(spark, lattices, fmt):
    test_flow_d8_matches_global_brute(spark, lattices[fmt], fmt)


def test_flow_d8_pit_flat_and_tie(spark):
    # centre is a pit -> 0; uniform tile -> every cell flat -> 0;
    # symmetric ridge ties E and W at equal drop -> E (code 1 < 16) wins
    flat = np.full((3, 3), 5.0, dtype=np.float32)
    pit = flat.copy(); pit[1, 1] = 0.0
    ridge = np.array([[9, 9, 9], [4, 8, 4], [9, 9, 9]], dtype=np.float32)
    rows = [(n, codec.encode_tile(a, "raw"), 3, 3, "raw", "EPSG:4326",
             float(k) * 10.0, 0.0, CW, CH)
            for k, (n, a) in enumerate([("flat", flat), ("pit", pit), ("ridge", ridge)])]
    df = spark.createDataFrame(rows, COLS)
    got = {(r.image_id, r.prow, r.pcol): r.d8 for r in terrain.flow_d8(df).collect()}
    assert got[("flat", 1, 1)] == 0
    assert got[("pit", 1, 1)] == 0
    assert got[("ridge", 1, 1)] == 1  # E beats W on the code tie-break


def test_curvature_zt_matches_global_brute(spark, lattice, fmt="raw"):
    g = _global_array(fmt)
    got = {(r.image_id, r.prow, r.pcol): (r.curv, r.plan_curv, r.prof_curv)
           for r in terrain.curvature_zt(lattice).collect()}
    gh, gw = g.shape
    lx, lyy = abs(CW), abs(CH)
    n_checked = 0
    for gi in range(1, gh - 1):
        for gj in range(1, gw - 1):
            win = g[gi - 1:gi + 2, gj - 1:gj + 2]
            if not np.isfinite(win).all():
                continue
            z1, z2, z3, z4, z5, z6, z7, z8, z9 = win.ravel()
            d_ = ((z4 + z6) / 2.0 - z5) / (lx * lx)
            e_ = ((z2 + z8) / 2.0 - z5) / (lyy * lyy)
            f_ = (-z1 + z3 + z7 - z9) / (4.0 * lx * lyy)
            g_ = (-z4 + z6) / (2.0 * lx)
            h_ = (z2 - z8) / (2.0 * lyy)
            den = g_ * g_ + h_ * h_
            key = (f"t{gi // H}{gj // W}", gi % H, gj % W)
            curv, plan, prof = got[key]
            assert curv == -2.0 * (d_ + e_), key
            if den == 0.0:
                assert plan is None or np.isnan(plan)
            else:
                assert plan == 2.0 * (d_ * h_ * h_ + e_ * g_ * g_ - f_ * g_ * h_) / den
                assert prof == -2.0 * (d_ * g_ * g_ + e_ * h_ * h_ + f_ * g_ * h_) / den
            n_checked += 1
    assert n_checked == len(got)


@pytest.mark.parametrize("fmt", FMTS[1:])
def test_curvature_zt_matches_global_brute_fmts(spark, lattices, fmt):
    test_curvature_zt_matches_global_brute(spark, lattices[fmt], fmt)


def test_curvature_flat_and_parabola(spark):
    flat = np.full((3, 3), 7.0, dtype=np.float32)
    # z = col^2 with L=1: D = 1, E = 0 -> curv = -2; ridge line is flat
    # in y so plan uses G only
    par = np.array([[0, 1, 4], [0, 1, 4], [0, 1, 4]], dtype=np.float32)
    rows = [("flat", codec.encode_tile(flat, "raw"), 3, 3, "raw", "EPSG:4326",
             0.0, 0.0, 1.0, -1.0),
            ("par", codec.encode_tile(par, "raw"), 3, 3, "raw", "EPSG:4326",
             10.0, 0.0, 1.0, -1.0)]
    df = spark.createDataFrame(rows, COLS)
    got = {(r.image_id): (r.curv, r.plan_curv, r.prof_curv)
           for r in terrain.curvature_zt(df).collect()}
    c, p, q = got["flat"]
    assert c == 0.0 and (p is None or np.isnan(p)) and (q is None or np.isnan(q))
    c, p, q = got["par"]
    assert c == -2.0 * (((0.0 + 4.0) / 2.0 - 1.0) / 1.0)  # D = 1 -> curv -2


def test_terrain_indices_match_global_brute(spark, lattice, fmt="raw"):
    g = _global_array(fmt)
    got = {(r.image_id, r.prow, r.pcol): (r.tri, r.tpi, r.n_nbr)
           for r in terrain.terrain_indices(lattice).collect()}
    gh, gw = g.shape
    n_checked = 0
    for gi in range(gh):
        for gj in range(gw):
            if not np.isfinite(g[gi, gj]):
                continue
            ss, ns, nn = 0.0, 0.0, 0
            for dy in (-1, 0, 1):
                for dx in (-1, 0, 1):
                    if dy == dx == 0:
                        continue
                    ni, nj = gi + dy, gj + dx
                    if 0 <= ni < gh and 0 <= nj < gw and np.isfinite(g[ni, nj]):
                        d = g[gi, gj] - g[ni, nj]
                        ss += d * d
                        ns += g[ni, nj]
                        nn += 1
            key = (f"t{gi // H}{gj // W}", gi % H, gj % W)
            if nn == 0:
                assert key not in got
                continue
            tri, tpi, gn = got[key]
            assert gn == nn and tri == math.sqrt(ss), key
            assert tpi == g[gi, gj] - (ns / nn), key
            n_checked += 1
    assert n_checked == len(got)


@pytest.mark.parametrize("fmt", FMTS[1:])
def test_terrain_indices_match_global_brute_fmts(spark, lattices, fmt):
    test_terrain_indices_match_global_brute(spark, lattices[fmt], fmt)


def test_flow_accumulation_matches_path_walk(spark, lattice):
    """Distributed fixpoint vs brute path walking over the global
    array (every cell walks its D8 path; each visited cell +1)."""
    g = _global_array()
    gh, gw = g.shape

    def downstream(gi, gj):
        best, code, tgt = -np.inf, None, None
        for dy, dx, c, dist in terrain.D8_OFFSETS:
            ni, nj = gi + dy, gj + dx
            if not (0 <= ni < gh and 0 <= nj < gw) or not np.isfinite(g[ni, nj]):
                continue
            drop = (g[gi, gj] - g[ni, nj]) / dist
            if drop > best:
                best, code, tgt = drop, c, (ni, nj)
        return tgt if (best is not None and best > 0.0) else None

    acc = {}
    for gi in range(gh):
        for gj in range(gw):
            if not np.isfinite(g[gi, gj]):
                continue
            cur = (gi, gj)
            seen = set()
            while cur is not None and cur not in seen:
                seen.add(cur)
                acc[cur] = acc.get(cur, 0) + 1
                cur = downstream(*cur)
            assert cur is None  # strictly descending -> no cycles
    got = {(r.gy, r.gx): r.acc for r in terrain.flow_accumulation(lattice).collect()}
    assert got == acc


def test_watersheds_match_path_walk(spark, lattice):
    g = _global_array()
    gh, gw = g.shape

    def downstream(gi, gj):
        best, tgt = -np.inf, None
        for dy, dx, c, dist in terrain.D8_OFFSETS:
            ni, nj = gi + dy, gj + dx
            if not (0 <= ni < gh and 0 <= nj < gw) or not np.isfinite(g[ni, nj]):
                continue
            drop = (g[gi, gj] - g[ni, nj]) / dist
            if drop > best:
                best, tgt = drop, (ni, nj)
        return tgt if best > 0.0 else None

    want = {}
    for gi in range(gh):
        for gj in range(gw):
            if not np.isfinite(g[gi, gj]):
                continue
            cur = (gi, gj)
            while True:
                nxt = downstream(*cur)
                if nxt is None:
                    break
                cur = nxt
            want[(gi, gj)] = cur
    got = {(r.gy, r.gx): (r.sink_gy, r.sink_gx)
           for r in terrain.watersheds(lattice).collect()}
    assert got == want


def test_cost_distance_hand_case_and_convergence(spark):
    from rasters_spark.operators import costdist

    arr = np.array([[1.0, 10.0, 10.0]], dtype=np.float32)
    df = spark.createDataFrame(
        [("t", codec.encode_tile(arr, "raw"), 3, 1, "raw", "EPSG:4326",
          0.0, 0.0, CW, CH)],
        ["image_id", "bytes", "w", "h", "fmt", "crs",
         "x_origin", "y_origin", "cell_width", "cell_height"])
    got = {r.pcol: r.d for r in costdist.cost_distance(df, 8.0, 4).collect()}
    assert got[0] == 0.0
    assert got[1] == (1.0 + 10.0) / 2.0
    assert got[2] == (1.0 + 10.0) / 2.0 + (10.0 + 10.0) / 2.0
    # convergence on the real fixture subset: one extra round changes nothing
    from rasters_spark import fixtures
    from rasters_spark.tiles import load_tiles
    SFD = "/root/testdata/sf0.001"
    fixtures.ensure_fixtures(SFD)
    t = load_tiles(spark, SFD).filter(
        "fmt = 'raw' and image_id < 'img000000000060' and w = 16 and h = 16")
    # denser sources (cost < 64) -> short paths -> 8 rounds converge
    a8 = {(r.gx, r.gy): r.d for r in costdist.cost_distance(t, 64.0, 8).collect()}
    a9 = {(r.gx, r.gy): r.d for r in costdist.cost_distance(t, 64.0, 9).collect()}
    assert a8 == a9
    # sparse sources genuinely need more hops -> K-bounded semantics bite
    s8 = costdist.cost_distance(t, 8.0, 8)
    s9 = costdist.cost_distance(t, 8.0, 9)
    n8 = s8.filter("d is not null").count()
    n9 = s9.filter("d is not null").count()
    assert n9 >= n8  # more rounds only ever reach more cells


def test_iterative_ops_partitioning_invariance(spark, lattice):
    """flow accumulation and watersheds must not depend on physical
    partitioning (driver-looped joins are a classic place where
    nondeterminism sneaks in)."""
    base_acc = {(r.gx, r.gy): r.acc
                for r in terrain.flow_accumulation(lattice).collect()}
    rep = lattice.repartition(7)
    rep_acc = {(r.gx, r.gy): r.acc
               for r in terrain.flow_accumulation(rep).collect()}
    assert base_acc == rep_acc
    base_ws = {(r.gx, r.gy): (r.sink_gx, r.sink_gy)
               for r in terrain.watersheds(lattice).collect()}
    rep_ws = {(r.gx, r.gy): (r.sink_gx, r.sink_gy)
              for r in terrain.watersheds(rep).collect()}
    assert base_ws == rep_ws
