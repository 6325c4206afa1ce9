"""Skew demonstration for the north rule (VERDICT r03 #6).

The fixture's pathological hot cell (20% of all tiles share one
footprint origin, fixtures.py HOT_X/HOT_Y) is joined against a point
set concentrated 30% on that same footprint — the worst case for a
SHUFFLED spatial equi-join: every hot-cell pair lands on the one
reducer that owns the hot cell_id.

Three runs at local[8], same input, same plan family:

  A. unsalted, AQE skew-join OFF  — the naive shuffle join; the hot
     reducer is the wall clock.
  B. unsalted, AQE skew-join ON   — Spark's runtime skew splitting
     (spark.sql.adaptive.skewJoin.*), the zero-code mitigation.
  C. salted (n_salts=8), AQE OFF  — the explicit composite-key spread
     (point_in_tile_join(n_salts=8)).

Broadcast is disabled throughout: the broadcast path has no shuffle and
therefore no skew — this benchmark exercises the large⋈large shape the
100-TB mandate requires (point side too big to broadcast).

Prints one JSON line; paste the numbers into BENCH.md.
Run on an IDLE machine (tmux), nothing concurrent.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_POINTS = int(os.environ.get("SKEW_POINTS", "400000"))
HOT_FRAC = 0.3
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def build_points(spark):
    """Deterministic synthetic point set: 30% uniform inside the hot
    1°×1° footprint, the rest spread over the fixture extent — pure SQL
    from spark.range, no driver data."""
    from pyspark.sql import functions as F

    from rasters_spark.fixtures import HOT_X, HOT_Y

    r = spark.range(N_POINTS).withColumnRenamed("id", "point_id")
    u1 = (F.pmod(F.xxhash64(F.col("point_id") * 2 + 1), F.lit(10**9))).cast("double") / 1e9
    u2 = (F.pmod(F.xxhash64(F.col("point_id") * 2 + 2), F.lit(10**9))).cast("double") / 1e9
    hot = (F.col("point_id") % 1000) < int(HOT_FRAC * 1000)
    x = F.when(hot, F.lit(HOT_X) + u1 * 0.999).otherwise(F.lit(-179.0) + u1 * 358.0)
    y = F.when(hot, F.lit(HOT_Y) - u2 * 0.999).otherwise(F.lit(-79.0) + u2 * 158.0)
    return r.select("point_id", x.alias("x"), y.alias("y"))


def force(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    from rasters_spark import fixtures, get_spark
    from rasters_spark.operators import point_join
    from rasters_spark.tiles import load_tiles, tiles_with_cells

    fixtures.ensure_fixtures(SF_DIR)
    spark = get_spark("bench-skew", master="local[8]", shuffle_partitions=8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    tiles = tiles_with_cells(load_tiles(spark, SF_DIR)).localCheckpoint(eager=True)
    pts = build_points(spark).localCheckpoint(eager=True)

    def run(n_salts, skew_join):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_join).lower())
        j = point_join.point_in_tile_join(
            pts, tiles, broadcast_points=False, n_salts=n_salts,
            payload_cols=())  # index-join cost only: the skewed exchange itself
        t0 = time.time()
        force(j.select("point_id", "image_id", "prow", "pcol"))
        return round(time.time() - t0, 3)

    # warm the worker pool / codegen once, untimed
    run(None, True)

    out = {
        "n_tiles": tiles.count(), "n_points": N_POINTS, "hot_frac": HOT_FRAC,
        "unsalted_aqe_off_s": run(None, False),
        "unsalted_aqe_skewjoin_s": run(None, True),
        "salted8_aqe_off_s": run(8, False),
        "master": "local[8]",
        "aqe_skew_conf": {
            "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor":
                spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
        },
    }
    out["salted_speedup_vs_naive"] = round(out["unsalted_aqe_off_s"] / out["salted8_aqe_off_s"], 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
