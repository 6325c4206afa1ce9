"""In-process numpy reference for every operation the benchmark checks.

Built only from the generated inputs with ``rasters_spark.npref`` and
``rasters_spark.codec`` (never from a Spark run), then cached next to the
inputs. Each operation gets the exact number of output rows and, for a
seeded sample of keys, the full set of expected output rows per key.
"""

from __future__ import annotations

import math

import numpy as np

from rasters_spark import codec, npref
from rasters_spark.fixtures import CELL_LEVEL
from rasters_spark.operators.terrain import light_vector

#: the 0.25° global target grid the regrid operations resample onto
TARGET = dict(x_origin=-180.0, y_origin=90.0, cell_width=0.25, cell_height=-0.25,
              rows=720, cols=1440, crs="EPSG:4326")
KNN_K, KNN_RING = 3, 2
LATTICE_PER_ROW = 40
SAMPLE_KEYS = 48


class Tiles:
    """Column arrays of a generated tile table (pyarrow → numpy)."""

    def __init__(self, table):
        d = table.to_pydict()
        self.image_id = np.array(d["image_id"])
        self.blob = d["bytes"]
        self.fmt = np.array(d["fmt"])
        self.w = np.array(d["w"], dtype=np.int64)
        self.h = np.array(d["h"], dtype=np.int64)
        self.x0 = np.array(d["x_origin"], dtype=np.float64)
        self.y0 = np.array(d["y_origin"], dtype=np.float64)
        self.cw = np.array(d["cell_width"], dtype=np.float64)
        self.ch = np.array(d["cell_height"], dtype=np.float64)
        self.n = len(self.image_id)

    def decode(self, i: int) -> np.ndarray:
        return codec.decode_tile(self.blob[i], int(self.w[i]), int(self.h[i]), str(self.fmt[i]))


def _nan_to_none(v) -> float | None:
    v = float(v)
    return None if math.isnan(v) else v


def _sample(keys, seed: int, salt: int) -> list:
    keys = sorted(set(keys))
    if len(keys) <= SAMPLE_KEYS:
        return keys
    rng = np.random.default_rng(seed * 7919 + salt)
    return sorted(keys[j] for j in rng.choice(len(keys), SAMPLE_KEYS, replace=False))


# --- point operations ------------------------------------------------------------

def point_pairs(t: Tiles, pid, px, py):
    """Every (point, tile) pair whose banker's-rounded pixel index lies
    inside the tile: arrays (point_id, tile_index, prow, pcol)."""
    order = np.argsort(px, kind="stable")
    sx = px[order]
    out = ([], [], [], [])
    for i in range(t.n):
        lo = np.searchsorted(sx, t.x0[i] - abs(t.cw[i]), "left")
        hi = np.searchsorted(sx, t.x0[i] + t.w[i] * t.cw[i] + abs(t.cw[i]), "right")
        c = order[lo:hi]
        if len(c) == 0:
            continue
        r, k = npref.index_point(px[c], py[c], t.x0[i], t.y0[i], t.cw[i], t.ch[i])
        m = (r >= 0) & (r < t.h[i]) & (k >= 0) & (k < t.w[i])
        if m.any():
            out[0].append(pid[c][m])
            out[1].append(np.full(int(m.sum()), i))
            out[2].append(r[m])
            out[3].append(k[m])
    return tuple(np.concatenate(a) if a else np.array([], np.int64) for a in out)


def nearest_ref(t: Tiles, pairs, seed: int, salt: int) -> dict:
    ppid, ti, pr, pc = pairs
    keys = _sample(ppid.tolist(), seed, salt)
    want = set(keys)
    rows: dict = {k: [] for k in keys}
    for j in np.flatnonzero(np.isin(ppid, list(want))):
        i = int(ti[j])
        v = codec.pixel_at(t.blob[i], int(t.w[i]), int(t.h[i]), str(t.fmt[i]), int(pr[j]), int(pc[j]))
        rows[int(ppid[j])].append((str(t.image_id[i]), int(pr[j]), int(pc[j]), _nan_to_none(v)))
    return {"rows": len(ppid), "sample": {k: sorted(v, key=str) for k, v in rows.items()}}


def idw_ref(t: Tiles, pairs, px, py, seed: int) -> dict:
    ppid, ti, _, _ = pairs
    keys = _sample(ppid.tolist(), seed, 3)
    rows: dict = {k: [] for k in keys}
    for j in np.flatnonzero(np.isin(ppid, keys)):
        i, p = int(ti[j]), int(ppid[j])
        arr = t.decode(i).astype(np.float64)
        cx, cy = npref.cell_center(*np.indices(arr.shape), t.x0[i], t.y0[i], t.cw[i], t.ch[i])
        v = npref.idw(arr, cx, cy, px[p], py[p])
        rows[p].append((str(t.image_id[i]), _nan_to_none(v)))
    return {"rows": len(ppid), "sample": {k: sorted(v, key=str) for k, v in rows.items()}}


def _cell_ix_iy(x, y, level: int):
    size = 180.0 / (1 << level)
    nx, ny = 2 * (1 << level), 1 << level
    ix = np.clip(np.floor((np.asarray(x, np.float64) + 180.0) / size), 0, nx - 1).astype(np.int64)
    iy = np.clip(np.floor((90.0 - np.asarray(y, np.float64)) / size), 0, ny - 1).astype(np.int64)
    return ix, iy


def knn_ref(t: Tiles, pid, px, py, seed: int) -> dict:
    """k nearest tile centroids among the tiles registered within a
    Chebyshev cell ring of the point's cell (longitude wraps, latitude
    clamps), ordered by (distance, image_id)."""
    level, R = CELL_LEVEL, KNN_RING
    nx, ny = 2 * (1 << level), 1 << level
    ix0, iy0 = _cell_ix_iy(t.x0, t.y0, level)                       # (xmin, ymax)
    ix1, iy1 = _cell_ix_iy(t.x0 + t.cw * t.w, t.y0 + t.ch * t.h, level)
    lo_y, hi_y = np.maximum(0, iy0 - R), np.minimum(ny - 1, iy1 + R)
    lo_x = ix0 - R
    span_x = np.minimum(ix1 + R, lo_x + nx - 1) - lo_x
    cx = t.x0 + t.cw * t.w.astype(np.float64) / 2.0
    cy = t.y0 + t.ch * t.h.astype(np.float64) / 2.0
    pix, piy = _cell_ix_iy(px, py, level)

    def candidates(q0: int, q1: int) -> np.ndarray:
        return ((piy[q0:q1, None] >= lo_y) & (piy[q0:q1, None] <= hi_y)
                & (np.mod(pix[q0:q1, None] - lo_x, nx) <= span_x))

    n_c = np.concatenate([candidates(s, min(s + 512, len(pid))).sum(axis=1)
                          for s in range(0, len(pid), 512)] or [np.array([], np.int64)])
    total, sample = int(np.minimum(n_c, KNN_K).sum()), {}
    for p in _sample(pid[n_c > 0].tolist(), seed, 4):
        q = int(np.flatnonzero(pid == p)[0])
        ci = np.flatnonzero(candidates(q, q + 1)[0])
        dx, dy = cx[ci] - px[q], cy[ci] - py[q]
        dist = np.sqrt(dx * dx + dy * dy)
        best = sorted(zip(dist.tolist(), t.image_id[ci].tolist()))[:KNN_K]
        sample[p] = [(img, r + 1, d) for r, (d, img) in enumerate(best)]
    return {"rows": total, "sample": sample}


# --- regrid operations -------------------------------------------------------------

def _candidates(t: Tiles, i: int):
    """Target cells whose centre falls inside tile ``i`` → (trow, tcol,
    prow, pcol, fr, fc) arrays (the target-candidate rule of to_grid)."""
    g = TARGET
    xmin, xmax = t.x0[i], t.x0[i] + t.cw[i] * t.w[i]
    ymin, ymax = t.y0[i] + t.ch[i] * t.h[i], t.y0[i]
    rs, cs, re, ce, oob = npref.window_for_bbox(
        xmin, ymin, xmax, ymax, g["x_origin"], g["y_origin"], g["cell_width"],
        g["cell_height"], g["rows"], g["cols"])
    if oob or re <= rs or ce <= cs:
        return None
    trow, tcol = (a.ravel() for a in np.meshgrid(np.arange(rs, re), np.arange(cs, ce), indexing="ij"))
    tx, ty = npref.cell_center(trow, tcol, g["x_origin"], g["y_origin"], g["cell_width"], g["cell_height"])
    prow, pcol = npref.index_point(tx, ty, t.x0[i], t.y0[i], t.cw[i], t.ch[i])
    m = (prow >= 0) & (prow < t.h[i]) & (pcol >= 0) & (pcol < t.w[i])
    fc = (tx - t.x0[i]) / t.cw[i] - 0.5
    fr = (ty - t.y0[i]) / t.ch[i] - 0.5
    return trow[m], tcol[m], prow[m], pcol[m], fr[m], fc[m]


def bilinear_ref(t: Tiles, raw, seed: int) -> dict:
    total, sample = 0, {}
    keys = set(_sample(t.image_id[raw].tolist(), seed, 5))
    for i in raw:
        c = _candidates(t, i)
        if c is None:
            continue
        total += len(c[0])
        if t.image_id[i] in keys:
            arr = t.decode(i)
            sample[str(t.image_id[i])] = sorted(
                (int(a), int(b), _nan_to_none(npref.conv_sample_naive(arr, fr, fc, "linear")))
                for a, b, fr, fc in zip(c[0], c[1], c[4], c[5]))
    for k in keys - set(sample):
        sample[str(k)] = []
    return {"rows": total, "sample": sample}


def _pixel_cells(t: Tiles, i: int, arr: np.ndarray):
    """(trow, tcol, value) of every finite pixel whose centre lies in the
    target grid."""
    g = TARGET
    rr, cc = np.indices(arr.shape)
    px, py = npref.cell_center(rr, cc, t.x0[i], t.y0[i], t.cw[i], t.ch[i])
    trow, tcol = npref.index_point(px, py, g["x_origin"], g["y_origin"], g["cell_width"], g["cell_height"])
    m = (np.isfinite(arr) & (trow >= 0) & (trow < g["rows"]) & (tcol >= 0) & (tcol < g["cols"]))
    return trow[m], tcol[m], arr[m].astype(np.float64)


def med_ref(t: Tiles, raw, seed: int) -> dict:
    total, sample = 0, {}
    keys = set(_sample(t.image_id[raw].tolist(), seed, 6))
    for i in raw:
        trow, tcol, v = _pixel_cells(t, i, t.decode(i))
        key = trow * TARGET["cols"] + tcol
        total += len(np.unique(key))
        if t.image_id[i] in keys:
            k, out, cnt = npref.segment_stat_naive(key, v, "med")
            sample[str(t.image_id[i])] = sorted(
                (int(a) // TARGET["cols"], int(a) % TARGET["cols"], float(b), int(n))
                for a, b, n in zip(k, out, cnt))
    return {"rows": total, "sample": sample}


def composite_max_ref(t: Tiles, raw, seed: int) -> dict:
    """Per target cell: max nearest-sampled value over the stack, the
    earliest epoch (tile index % 3) attaining it, and the count."""
    best: dict = {}
    for i in raw:
        c = _candidates(t, i)
        if c is None:
            continue
        arr = t.decode(i)
        epoch = int(str(t.image_id[i])[3:]) % 3
        for a, b, v in zip(c[0], c[1], arr[c[2], c[3]]):
            if not np.isfinite(v):
                continue
            key = int(a) * TARGET["cols"] + int(b)
            cur = best.get(key)
            if cur is None:
                best[key] = [float(v), epoch, 1]
            else:
                if v > cur[0] or (v == cur[0] and epoch < cur[1]):
                    cur[0], cur[1] = float(v), epoch
                cur[2] += 1
    keys = _sample(list(best), seed, 7)
    return {"rows": len(best), "sample": {k: [tuple(best[k])] for k in keys}}


def tile_stats_ref(t: Tiles, seed: int) -> dict:
    sample = {}
    for k in _sample(t.image_id.tolist(), seed, 8):
        i = int(np.flatnonzero(t.image_id == k)[0])
        arr = t.decode(i)
        v = arr[np.isfinite(arr)].astype(np.float64)
        sample[k] = [(int(arr.size), len(v), float(v.sum()) if len(v) else 0.0,
                      float(v.min()) if len(v) else None, float(v.max()) if len(v) else None)]
    return {"rows": t.n, "sample": sample}


def hillshade_ref(t: Tiles, raw, seed: int) -> dict:
    """Interior pixels (rows/cols 1..n-2, whose 3×3 window lies inside
    the tile) of the clamped Horn hillshade, as float32."""
    lx, ly, lz = light_vector()
    sample = {}
    for k in _sample(t.image_id[raw].tolist(), seed, 9):
        i = int(np.flatnonzero(t.image_id == k)[0])
        z = t.decode(i).astype(np.float64)
        cw, ch = t.cw[i], t.ch[i]
        c = lambda dy, dx: z[1 + dy:z.shape[0] - 1 + dy, 1 + dx:z.shape[1] - 1 + dx]  # noqa: E731
        gx = ((c(-1, 1) + 2.0 * c(0, 1) + c(1, 1)) - (c(-1, -1) + 2.0 * c(0, -1) + c(1, -1))) / (8.0 * abs(cw))
        gy = ((c(1, -1) + 2.0 * c(1, 0) + c(1, 1)) - (c(-1, -1) + 2.0 * c(-1, 0) + c(-1, 1))) / (8.0 * abs(ch))
        gn = -gy if ch < 0 else gy
        hs = 255.0 * (lx * (-gx) + ly * (-gn) + lz) / np.sqrt(1.0 + gx * gx + gn * gn)
        win = np.ones(hs.shape, dtype=bool)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                win &= np.isfinite(c(dy, dx))
        sample[k] = np.where(win, np.clip(hs, 0.0, 255.0), np.nan).astype(np.float32)
    return {"rows": len(raw), "sample": sample}


def build(tiles_table, points_table, workload: str, seed: int, idw_slice: int) -> dict:
    """The reference of every checked operation of ``workload``."""
    t = Tiles(tiles_table)
    p = points_table.to_pydict()
    pid = np.array(p["point_id"], dtype=np.int64)
    px = np.array(p["x"], dtype=np.float64)
    py = np.array(p["y"], dtype=np.float64)
    raw = np.flatnonzero(t.fmt == "raw")
    ref = {"hillshade_write": hillshade_ref(t, raw, seed)}
    if workload == "point_sampling":
        pairs = point_pairs(t, pid, px, py)
        ref["nearest"] = nearest_ref(t, pairs, seed, 1)
        ref["nearest_grouped"] = nearest_ref(t, pairs, seed, 2)
        s = pid < idw_slice
        ref["idw"] = idw_ref(t, point_pairs(t, pid[s], px[s], py[s]), px, py, seed)
        ref["knn"] = knn_ref(t, pid[s], px[s], py[s], seed)
    else:
        ref["bilinear"] = bilinear_ref(t, raw, seed)
        ref["med"] = med_ref(t, raw, seed)
        ref["composite_max"] = composite_max_ref(t, raw, seed)
        ref["tile_stats"] = tile_stats_ref(t, seed)
    return ref
