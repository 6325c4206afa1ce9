"""Flagship point-in-tile join + nearest/IDW sampling vs DuckDB oracle."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rasters_spark import fixtures, npref, codec
from rasters_spark.operators import point_join, sample
from rasters_spark.tiles import load_points, load_tiles, tiles_with_cells

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def fdir():
    return fixtures.ensure_fixtures(SF)


def _spark_result(spark, n_salts=None):
    tiles = tiles_with_cells(load_tiles(spark, SF))
    pts = load_points(spark, SF)
    j = point_join.point_in_tile_join(pts, tiles, n_salts=n_salts)
    out = sample.sample_nearest(j).select("point_id", "image_id", "prow", "pcol", "value", "caption")
    return out.toPandas().sort_values(["point_id", "image_id"]).reset_index(drop=True)


def _oracle_result(fdir):
    con = duckdb.connect()
    q = f"""
    with t as (select * from read_parquet('{fdir}/tiles.parquet')),
         p as (select * from read_parquet('{fdir}/points.parquet')),
         j as (
            select p.point_id, t.image_id,
                   cast(round_even((p.y - t.y_origin)/t.cell_height - 0.5, 0) as bigint) as prow,
                   cast(round_even((p.x - t.x_origin)/t.cell_width - 0.5, 0) as bigint) as pcol,
                   t.caption
            from p cross join t
            where cast(round_even((p.y - t.y_origin)/t.cell_height - 0.5, 0) as bigint) between 0 and t.h - 1
              and cast(round_even((p.x - t.x_origin)/t.cell_width - 0.5, 0) as bigint) between 0 and t.w - 1
         )
    select j.point_id, j.image_id, j.prow, j.pcol,
           case when isnan(px.value) then NULL else cast(px.value as double) end as value,
           j.caption
    from j join read_parquet('{fdir}/pixels.parquet') px
      on px.image_id = j.image_id and px.prow = j.prow and px.pcol = j.pcol
    order by j.point_id, j.image_id
    """
    return con.sql(q).df().reset_index(drop=True)


def test_flagship_join_matches_oracle(spark, fdir):
    got = _spark_result(spark)
    exp = _oracle_result(fdir)
    assert len(got) == len(exp) and len(got) > 0
    pd.testing.assert_frame_equal(
        got.astype({"prow": "int64", "pcol": "int64"}),
        exp.astype({"prow": "int64", "pcol": "int64"}),
        check_exact=True,
    )
    # captions round-trip byte-identical (BASELINE.json per-row invariant)
    assert (got["caption"] == exp["caption"]).all()


def test_flagship_salted_same_result(spark, fdir):
    got = _spark_result(spark)
    salted = _spark_result(spark, n_salts=8)
    pd.testing.assert_frame_equal(got, salted, check_exact=True)


def test_idw_matches_numpy_reference(spark, fdir):
    tiles = tiles_with_cells(load_tiles(spark, SF))
    pts = load_points(spark, SF).limit(200)
    j = point_join.point_in_tile_join(pts, tiles)
    out = sample.sample_idw(j, tiles=load_tiles(spark, SF))
    assert "bytes" not in out.columns  # payload never re-attaches
    got = out.select(
        "point_id", "image_id", "x", "y", "value",
        F.col("grid.x_origin").alias("x0"), F.col("grid.y_origin").alias("y0"),
        F.col("grid.cell_width").alias("cw"), F.col("grid.cell_height").alias("ch"),
        "w", "h", "fmt",
    ).toPandas()
    assert len(got) > 0
    blobs = {r["image_id"]: r["bytes"] for r in
             load_tiles(spark, SF).select("image_id", "bytes")
             .filter(F.col("image_id").isin([str(i) for i in got["image_id"].head(50)]))
             .collect()}
    for _, r in got.head(50).iterrows():
        arr = codec.decode_tile(blobs[r["image_id"]], int(r["w"]), int(r["h"]), r["fmt"])
        hh, ww = arr.shape
        px, py = np.meshgrid(r["x0"] + r["cw"] * (np.arange(ww) + 0.5),
                             r["y0"] + r["ch"] * (np.arange(hh) + 0.5))
        expected = npref.idw(arr, px, py, r["x"], r["y"])
        if np.isnan(expected):
            assert r["value"] is None or np.isnan(r["value"])
        else:
            assert r["value"] == pytest.approx(expected, rel=1e-9)


def test_idw_legacy_single_arg_matches_two_arg(spark, fdir):
    """The tiles=None fallback (payload recovered from the joined rows
    via first()-agg) must produce identical values."""
    tiles = tiles_with_cells(load_tiles(spark, SF))
    pts = load_points(spark, SF).limit(100)
    j = point_join.point_in_tile_join(pts, tiles)
    a = (sample.sample_idw(j).select("point_id", "image_id", "value")
         .toPandas().sort_values(["point_id", "image_id"]).reset_index(drop=True))
    b = (sample.sample_idw(j, tiles=load_tiles(spark, SF))
         .select("point_id", "image_id", "value")
         .toPandas().sort_values(["point_id", "image_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_idw_no_blob_through_point_fanout(spark, fdir):
    """VERDICT r02 #2 'done' criterion: in the physical plan, no
    Exchange that carries point rows also carries the tile blob — the
    blob crosses the shuffle only on the payload side (once per tile)."""
    tiles = tiles_with_cells(load_tiles(spark, SF))
    pts = load_points(spark, SF)
    j = point_join.point_in_tile_join(pts, tiles)
    out = sample.sample_idw(j, tiles=load_tiles(spark, SF))
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    blocks = plan.split("\n\n")
    detail = next(b for b in blocks if "Exchange" in b)
    import re
    for node in re.split(r"\n(?=\(\d+\) )", detail):
        if node.lstrip().startswith("(") and "Exchange" in node.splitlines()[0]:
            if "point_id" in node:
                assert "bytes#" not in node, f"blob in point-side exchange:\n{node}"


def test_out_of_extent_points_drop(spark, fdir):
    got = _spark_result(spark)
    # fixture points 6 & 7 are north of 80° / south of −80° → outside all tiles
    assert not set(got["point_id"]).intersection({6, 7})


def test_sample_auto_dtype_dispatch(spark):
    """raster.py:1295-1322 dispatch: integer tiles sample NEAREST even
    when the float path would IDW. A mixed stack (half the raw tiles
    cast to i32) routed through sample_auto must give: int rows ==
    nearest values (exact ints), float rows == sample_idw values."""
    from rasters_spark.operators import rastermath as rm
    from rasters_spark.tiles import with_grid

    t = load_tiles(spark, SF).filter("fmt = 'raw'")
    ti = with_grid(rm.astype_tiles(t.filter("image_id < 'img000000000050'"), "i32", rm.mul(4.0)))
    tf = t.filter("image_id >= 'img000000000050'")
    mixed = ti.unionByName(tf.select(*ti.columns))
    pts = load_points(spark, SF).filter("point_id < 3000")
    j = point_join.point_in_tile_join(pts, mixed)
    out = sample.sample_auto(j).select("point_id", "image_id", "fmt", "value").toPandas()
    assert set(out["fmt"]) == {"i32", "raw"}
    # integer rows: values are exact ints (nearest pixel ×4), never interpolated
    iv = out[out["fmt"] == "i32"]["value"].dropna()
    assert len(iv) and (iv == iv.round()).all()
    # float rows: equal the dedicated IDW path bit-for-bit
    jf = point_join.point_in_tile_join(pts, tf)
    idw = sample.sample_idw(jf.select("point_id", "image_id", "x", "y"), tiles=tf) \
        .select("point_id", "image_id", "value").toPandas()
    got_f = out[out["fmt"] == "raw"][["point_id", "image_id", "value"]] \
        .sort_values(["point_id", "image_id"]).reset_index(drop=True)
    exp_f = idw.sort_values(["point_id", "image_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_f, exp_f, check_exact=True)
    # integer rows: equal the dedicated nearest path
    jn = point_join.point_in_tile_join(pts, ti)
    near = sample.sample_nearest(jn).select("point_id", "image_id", "value").toPandas()
    got_i = out[out["fmt"] == "i32"][["point_id", "image_id", "value"]] \
        .sort_values(["point_id", "image_id"]).reset_index(drop=True)
    exp_i = near.sort_values(["point_id", "image_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_i, exp_i, check_exact=True)


def test_sample_nearest_grouped_equals_broadcast_path(spark):
    """The huge-point-side grouped-fetch strategy must be value-identical
    to the flagship broadcast path (same oracle certifies both), and its
    plan must keep pixel bytes out of every Exchange (the IDW invariant
    applied to nearest)."""
    tiles = load_tiles(spark, SF)
    pts = load_points(spark, SF)
    a = sample.sample_nearest(point_join.point_in_tile_join(pts, tiles)) \
        .select("point_id", "image_id", "prow", "pcol", "value", "caption").toPandas()
    g_df = sample.sample_nearest_grouped(
        point_join.point_in_tile_join(pts, tiles, payload_cols=()), tiles) \
        .select("point_id", "image_id", "prow", "pcol", "value", "caption")
    plan = g_df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "bytes" not in line, line
    b = g_df.toPandas()
    a = a.sort_values(["point_id", "image_id"]).reset_index(drop=True)
    b = b.sort_values(["point_id", "image_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b[a.columns], check_exact=True)


def test_grouped_hot_tile_shards_spread_and_match(spark):
    """On a hot-tile join the grouped strategy is value-identical to the
    flagship path, and the per-tile cogroup helper IDW uses
    (``_sharded_tile_agg``) spreads the hot tile's matched points over
    ceil(n/shard_target) bounded shard rows (VERDICT r04 weak #1)."""
    tiles = load_tiles(spark, SF)
    # synthesize a hot cluster: 400 extra points inside ONE tile's
    # footprint (the skew bench scenario — one footprint concentrates a
    # large share of all matches), unioned with the fixture points
    t0 = tiles.select("image_id", F.col("grid.x_origin").alias("x0"),
                      F.col("grid.y_origin").alias("y0"),
                      F.col("grid.cell_width").alias("cw"),
                      F.col("grid.cell_height").alias("ch"),
                      "w", "h").orderBy("image_id").first()
    hot_pts = spark.range(400).select(
        (F.col("id") + 1_000_000).alias("point_id"),
        (F.lit(t0.x0) + (F.pmod(F.col("id") * 37, F.lit(100)) + 0.5) / 100.0
         * F.lit(t0.cw * t0.w)).alias("x"),
        (F.lit(t0.y0) + (F.pmod(F.col("id") * 61, F.lit(100)) + 0.5) / 100.0
         * F.lit(t0.ch * t0.h)).alias("y"))
    pts = load_points(spark, SF).select("point_id", "x", "y").unionByName(hot_pts)
    idx = point_join.point_in_tile_join(pts, tiles, payload_cols=())
    cols = ["point_id", "image_id", "prow", "pcol", "value", "caption"]
    flagship = (sample.sample_nearest(point_join.point_in_tile_join(pts, tiles))
                .select(*cols).toPandas()
                .sort_values(["point_id", "image_id"]).reset_index(drop=True))
    grouped = (sample.sample_nearest_grouped(idx, tiles)
               .select(*cols).toPandas()
               .sort_values(["point_id", "image_id"]).reset_index(drop=True))
    assert len(flagship) > 0
    pd.testing.assert_frame_equal(flagship, grouped, check_exact=True)
    # white-box: the internal aggregate spreads hot tiles over shards
    per_tile = idx.groupBy("image_id").count().toPandas()
    hot = per_tile[per_tile["count"] > 50]
    assert len(hot) > 0
    keep = [c for c in idx.columns
            if c not in ("bytes", "w", "h", "fmt", "grid", "bbox", "caption", "phash",
                         "x_origin", "y_origin", "cell_width", "cell_height", "crs")]
    payload = tiles.select(F.col("image_id").alias("_img"), "bytes", "w", "h", "fmt")
    withp = sample._sharded_tile_agg(idx.select(*keep), keep, payload, 50, 8)
    sizes = withp.select(F.size("_rows").alias("n")).toPandas()
    # more aggregate rows than matched tiles → at least one tile sharded
    assert len(sizes) > len(per_tile)
    # no aggregate row reaches the hottest tile's full match count
    assert sizes["n"].max() < per_tile["count"].max()
