"""The traced run's layer sweep.

Every layer is timed from outside through its public function, on the
workload's own inputs: the layer's input is materialized first (an
eager ``localCheckpoint``), then the call is forced to a noop sink inside
a span. The sweep covers every layer on every workload, so each traced
run reports the full set of per-layer metrics; the layers a workload's
pass does not use are measured on its inputs all the same.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench.reference import KNN_K, KNN_RING, LATTICE_PER_ROW, TARGET, Tiles
from perfbench.tracing import Tracer
from perfbench.workloads import Inputs, force
from rasters_spark import cells, codec
from rasters_spark.fixtures import CELL_LEVEL
from rasters_spark.operators import focal, knn, point_join, resample, sample, stats, terrain
from rasters_spark.tableio import TableIO
from rasters_spark.tiles import tiles_with_cells

#: spans that make up one traced pass of each workload
PASS_SPANS = {
    "point_sampling": ("point_join.join", "sample.nearest", "sample.grouped", "sample.idw", "knn.topk"),
    "regrid": ("resample.bilinear", "resample.med", "resample.composite_max", "stats.tile_stats"),
}
#: spans whose Spark counters are reported (the ones an open roadmap item targets)
COUNTED_SPANS = ("cells.register", "point_join.join", "sample.nearest", "sample.grouped",
                 "sample.idw", "knn.topk", "resample.bilinear", "resample.med",
                 "resample.composite_max", "stats.tile_stats", "terrain.hillshade")


def host_canary() -> float:
    """Seconds for a fixed single-threaded numpy workload (median of 3)."""
    a = np.random.default_rng(0).random(1_000_000)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        b = a
        for _ in range(20):
            b = np.tanh(b * 1.0001 + 0.1)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def cpu_ticks() -> list[int]:
    """Machine-wide CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) in clock ticks; empty off Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:]]
    except OSError:
        return []


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) > 0 else 0.0


def codec_rates(tiles_path) -> dict[str, float]:
    """Single-threaded in-process decode / encode throughput over the
    workload's own blobs; megabytes counted as w·h·4 per tile."""
    t = Tiles(pq.read_table(tiles_path))
    mb = float((t.w * t.h).sum()) * 4 / 1e6
    dec, enc = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        arrs = [t.decode(i) for i in range(t.n)]
        dec.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for a in arrs:
            codec.encode_tile(a, "raw")
        enc.append(time.perf_counter() - t0)
    return {"codec.decode_mb_per_s": mb / statistics.median(dec),
            "codec.encode_mb_per_s": mb / statistics.median(enc)}


def _pair_counts(left, right):
    """(Σ over cells of |left|·|right|, the largest single cell's term)."""
    lc = left.groupBy("cell_id").agg(F.count(F.lit(1)).alias("a"))
    rc = right.groupBy("cell_id").agg(F.count(F.lit(1)).alias("b"))
    r = lc.join(rc, "cell_id").select((F.col("a") * F.col("b")).alias("c")).agg(
        F.sum("c").alias("total"), F.max("c").alias("hot")).collect()[0]
    return int(r["total"] or 0), int(r["hot"] or 0)


def sweep(spark, tracer: Tracer, inp: Inputs, table_dir: str) -> tuple[dict, TableIO]:
    """Run every layer span once; returns the metrics and the table the
    hillshade tiles were committed to."""
    m: dict[str, float] = {}

    def timed(name, df):
        with tracer.span(name) as s:
            force(df)
        m[name + "_s"] = s.seconds

    def mat(name, df):
        with tracer.span("materialize." + name):
            return df.localCheckpoint()

    with tracer.span("trace") as root:
        timed("tiles.scan", inp.tiles)
        m["tiles.rows"] = inp.tiles.count()
        T, P = mat("tiles", inp.tiles), mat("points", inp.points)
        mi = Inputs(T, P, inp.idw_slice)

        registered = tiles_with_cells(T)
        timed("cells.register", registered)
        m["cells.rows_per_tile"] = registered.count() / m["tiles.rows"]

        timed("point_join.join", point_join.point_in_tile_join(P, T))
        J = mat("joined", point_join.point_in_tile_join(P, T))
        pairs = J.count()
        pts_cells = P.select(cells.cell_id(F.col("x"), F.col("y"), CELL_LEVEL).alias("cell_id"))
        cand, hot = _pair_counts(registered, pts_cells)
        m.update({"point_join.pairs": pairs, "point_join.candidate_pairs": cand,
                  "point_join.match_ratio": pairs / cand if cand else 0.0,
                  "point_join.hot_cell_share": hot / cand if cand else 0.0})

        timed("sample.nearest", sample.sample_nearest(J))
        nulls = sample.sample_nearest(J).filter(F.col("value").isNull()).count()
        m["sample.null_share"] = nulls / pairs if pairs else 0.0
        index = mat("index", point_join.point_in_tile_join(P, T, payload_cols=()))
        timed("sample.grouped", sample.sample_nearest_grouped(index, T))
        idw_in = mat("idw_pairs", point_join.point_in_tile_join(mi.points_slice, T)
                     .select("point_id", "image_id", "x", "y"))
        timed("sample.idw", sample.sample_idw(idw_in, tiles=T))

        Q = mat("knn_points", mi.points_slice)
        timed("knn.topk", knn.knn_tiles(Q, T, k=KNN_K, ring=KNN_RING))
        ring = T.select(F.explode(cells.ring_cells_bbox(F.col("bbox"), CELL_LEVEL, KNN_RING)).alias("cell_id"))
        q_cells = Q.select(cells.cell_id(F.col("x"), F.col("y"), CELL_LEVEL).alias("cell_id"))
        m["knn.candidate_pairs"] = _pair_counts(ring, q_cells)[0]

        R = mat("raw", mi.raw)
        timed("resample.bilinear", resample.to_grid_bilinear(R, TARGET))
        m["resample.cells_out"] = resample.to_grid_bilinear(R, TARGET).count()
        timed("resample.med", resample.to_grid_stat(R, TARGET, "med"))
        timed("resample.composite_max", resample.composite_max(R, TARGET, fmts=("raw",)))
        timed("stats.tile_stats", stats.tile_stats(T))

        timed("focal.lattice_remap", focal.lattice_remap(R, per_row=LATTICE_PER_ROW))
        lattice = mat("lattice", focal.lattice_remap(R, per_row=LATTICE_PER_ROW))
        timed("terrain.hillshade", terrain.hillshade_tiles(lattice))
        shaded = mat("hillshade", terrain.hillshade_tiles(lattice))
        table = TableIO(table_dir)
        with tracer.span("tableio.write") as s:
            entry = table.write(shaded, job_id="perfbench")
        m["tableio.write_s"] = s.seconds
        m["tableio.bytes_written"] = sum(f["bytes"] for f in entry["files"])
        m["tableio.files_written"] = len(entry["files"])
        m["tableio.bytes_per_tile"] = m["tableio.bytes_written"] / max(entry["row_count"], 1)
        timed("tableio.read", table.read(spark))
    m["trace.self_s"] = tracer.self_seconds(root)
    return m, table

