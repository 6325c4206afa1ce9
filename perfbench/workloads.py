"""The benchmark's workloads: the operations one pass runs, and the
check of each operation's output against the numpy reference."""

from __future__ import annotations

import math
import sys
from dataclasses import dataclass
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench.reference import KNN_K, KNN_RING, TARGET
from rasters_spark import codec
from rasters_spark.operators import knn, point_join, resample, sample, stats
from rasters_spark.tableio import TableIO
from rasters_spark.tiles import with_grid


@dataclass
class Inputs:
    """Registered input DataFrames of one run (any of them may be a
    materialized copy in the traced run)."""

    tiles: DataFrame
    points: DataFrame
    idw_slice: int

    @property
    def raw(self) -> DataFrame:
        return self.tiles.filter("fmt = 'raw'")

    @property
    def points_slice(self) -> DataFrame:
        return self.points.filter(F.col("point_id") < self.idw_slice)


def register(spark, tiles_path: str, points_path: str, idw_slice: int) -> Inputs:
    return Inputs(with_grid(spark.read.parquet(tiles_path)), spark.read.parquet(points_path), idw_slice)


def force(df: DataFrame) -> None:
    """Run a DataFrame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


@dataclass(frozen=True)
class Op:
    name: str
    build: Callable[[Inputs], DataFrame]
    key: Callable[[], object]       # Column the reference sample is keyed by
    cols: tuple[str, ...]           # compared output columns, after the key


def _flagship(i: Inputs) -> DataFrame:
    j = point_join.point_in_tile_join(i.points, i.tiles)
    return sample.sample_nearest(j).select("point_id", "image_id", "prow", "pcol", "value", "caption")


def _grouped(i: Inputs) -> DataFrame:
    j = point_join.point_in_tile_join(i.points, i.tiles, payload_cols=())
    return sample.sample_nearest_grouped(j, i.tiles).select(
        "point_id", "image_id", "prow", "pcol", "value", "caption")


def _idw(i: Inputs) -> DataFrame:
    j = point_join.point_in_tile_join(i.points_slice, i.tiles).select("point_id", "image_id", "x", "y")
    return sample.sample_idw(j, tiles=i.tiles).select("point_id", "image_id", "value")


_pid = lambda: F.col("point_id")  # noqa: E731
_img = lambda: F.col("image_id")  # noqa: E731

OPS = {
    "point_sampling": (
        Op("nearest", _flagship, _pid, ("image_id", "prow", "pcol", "value")),
        Op("nearest_grouped", _grouped, _pid, ("image_id", "prow", "pcol", "value")),
        Op("idw", _idw, _pid, ("image_id", "value")),
        Op("knn", lambda i: knn.knn_tiles(i.points_slice, i.tiles, k=KNN_K, ring=KNN_RING),
           _pid, ("image_id", "rank", "dist")),
    ),
    "regrid": (
        Op("bilinear", lambda i: resample.to_grid_bilinear(i.raw, TARGET),
           _img, ("trow", "tcol", "value")),
        Op("med", lambda i: resample.to_grid_stat(i.raw, TARGET, "med"),
           _img, ("trow", "tcol", "value", "n")),
        Op("composite_max", lambda i: resample.composite_max(i.raw, TARGET, fmts=("raw",)),
           lambda: F.col("trow") * TARGET["cols"] + F.col("tcol"), ("value", "epoch", "n_obs")),
        Op("tile_stats", lambda i: stats.tile_stats(i.tiles),
           _img, ("n_pixels", "n_valid", "vsum", "vmin", "vmax")),
    ),
}


# --- checks ------------------------------------------------------------------------

def _close(a, b) -> bool:
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _sort_key(row: tuple) -> tuple:
    return tuple(f"{v:.6e}" if isinstance(v, float) else repr(v) for v in row)


def collect_check(op: Op, df: DataFrame, ref: dict) -> tuple[int, dict]:
    """One Spark job: the output's row count and the rows of the
    reference's sampled keys, grouped by key."""
    keys = list(ref["sample"])
    key = op.key()
    row = df.select(F.count(F.lit(1)).alias("n"), F.collect_list(
        F.when(key.isin(keys), F.struct(key.alias("k"), *op.cols))).alias("rows")).collect()[0]
    got: dict = {k: [] for k in keys}
    for r in row["rows"]:
        got.setdefault(r["k"], []).append(tuple(r[c] for c in op.cols))
    return row["n"], got


def check(op: Op, df: DataFrame, ref: dict, corrupt: bool = False) -> bool:
    n, got = collect_check(op, df, ref)
    if corrupt:  # self-test hook: perturb one collected output value
        k = next(k for k, v in got.items() if v)
        first = list(got[k][0])
        j = next(j for j, v in enumerate(first) if isinstance(v, (int, float)) and v is not None)
        first[j] = first[j] + 1
        got[k][0] = tuple(first)
    if n != ref["rows"]:
        print(f"check {op.name}: {n} rows, reference {ref['rows']}", file=sys.stderr)
        return False
    for k, want in ref["sample"].items():
        have = sorted(got.get(k, []), key=_sort_key)
        want = sorted((tuple(w) for w in want), key=_sort_key)
        if not _close(have, want):
            print(f"check {op.name}: key {k!r}: got {have[:3]} want {want[:3]}", file=sys.stderr)
            return False
    return True


def check_hillshade(spark, table: TableIO, ref: dict) -> bool:
    """Read-back of the committed snapshot: the row count, and the
    interior pixels of the sampled tiles."""
    back = table.read(spark)
    keys = list(ref["sample"])
    row = back.select(F.count(F.lit(1)).alias("n"), F.collect_list(F.when(
        F.col("image_id").isin(keys), F.struct("image_id", "w", "h", "fmt", "bytes")))
        .alias("rows")).collect()[0]
    if row["n"] != ref["rows"]:
        print(f"check hillshade_write: {row['n']} rows read back, reference {ref['rows']}", file=sys.stderr)
        return False
    got = {r["image_id"]: r for r in row["rows"]}
    for k, want in ref["sample"].items():
        r = got.get(k)
        if r is None:
            print(f"check hillshade_write: tile {k} missing", file=sys.stderr)
            return False
        arr = codec.decode_tile(bytes(r["bytes"]), r["w"], r["h"], r["fmt"])[1:-1, 1:-1]
        if not np.allclose(arr, want, rtol=0, atol=1e-3, equal_nan=True):
            print(f"check hillshade_write: tile {k} interior differs", file=sys.stderr)
            return False
    return True
