"""Cell index: Spark SQL vs numpy mirror, ring/parent/bbox coverage."""

import numpy as np
from pyspark.sql import functions as F

from rasters_spark import cells, npref

LEVEL = 7


def test_cell_id_matches_numpy(spark):
    rng = np.random.default_rng(11)
    lons = np.concatenate([rng.uniform(-180, 180, 300), [-180.0, 180.0, 0.0, -1e-12]])
    lats = np.concatenate([rng.uniform(-90, 90, 300), [90.0, -90.0, 0.0, 1e-12]])
    df = spark.createDataFrame([(float(a), float(b)) for a, b in zip(lons, lats)], "lon double, lat double")
    got = df.select(cells.cell_id("lon", "lat", LEVEL).alias("c")).toPandas()["c"].to_numpy()
    np.testing.assert_array_equal(got, npref.np_cell_id(lons, lats, LEVEL))


def test_cell_id_sql_matches_duckdb():
    import duckdb

    rng = np.random.default_rng(12)
    lons, lats = rng.uniform(-180, 180, 200), rng.uniform(-90, 90, 200)
    con = duckdb.connect()
    con.register("t", __import__("pandas").DataFrame({"lon": lons, "lat": lats}))
    sql = cells.cell_id_sql("lon", "lat", LEVEL)
    got = con.sql(f"select {sql} as c from t").fetchnumpy()["c"]
    np.testing.assert_array_equal(got, npref.np_cell_id(lons, lats, LEVEL))


def test_cells_for_bbox(spark):
    from rasters_spark.grid import bbox_struct

    df = spark.range(1)
    bb = bbox_struct(F.lit(10.0), F.lit(40.0), F.lit(12.5), F.lit(42.5))
    got = sorted(df.select(cells.cells_for_bbox(bb, LEVEL).alias("a")).collect()[0].a)
    assert got == sorted(npref.np_cells_for_bbox(10.0, 40.0, 12.5, 42.5, LEVEL))


def test_ring_and_parent(spark):
    df = spark.range(1).select(cells.cell_id(F.lit(10.5), F.lit(45.5), LEVEL).alias("cid"))
    row = df.select(
        "cid",
        cells.ring_cells("cid", LEVEL, 1).alias("ring"),
        cells.parent("cid", LEVEL, LEVEL - 2).alias("par"),
    ).collect()[0]
    assert len(row.ring) == 9 and row.cid in row.ring
    # the parent must contain the child's centroid cell at the coarser level
    assert row.par == int(npref.np_cell_id(10.5, 45.5, LEVEL - 2))
    # rings at the pole clamp + dedup
    pole = spark.range(1).select(cells.cell_id(F.lit(0.0), F.lit(89.9), LEVEL).alias("cid"))
    pr = pole.select(cells.ring_cells("cid", LEVEL, 1).alias("r")).collect()[0].r
    assert len(pr) == 6  # 3x3 minus 3 clamped duplicates


def test_ring_cells_bbox_equals_union_of_rings(spark):
    """Property: ``ring_cells_bbox`` is exactly the distinct union of
    ``ring_cells`` over the bbox's registered cells — ``cells_for_bbox``
    for ordinary bboxes, ``cells_for_bbox_am`` for wrapped ones
    (``xmin > xmax``) — and has no duplicates. A coarse level (16×8
    cells) makes seam wraps, full-width rings and pole clamps common;
    the fixed rows pin full-wrap-width, pole-adjacent and wrapped
    bboxes."""
    from rasters_spark.grid import bbox_struct

    level = 3
    rng = np.random.default_rng(23)
    rows = [(-180.0, -10.0, 180.0, 10.0), (-180.0, -90.0, 180.0, 90.0),
            (10.0, 85.0, 30.0, 90.0), (10.0, -90.0, 30.0, -85.0),
            (170.0, 0.0, -170.0, 10.0), (10.1, 0.0, 10.05, 5.0),
            (180.0, 80.0, -180.0, 90.0), (-179.0, -89.0, 179.0, -80.0)]
    for _ in range(300):
        x0, x1 = rng.uniform(-180.0, 180.0, 2)
        y0, y1 = np.sort(rng.uniform(-90.0, 90.0, 2))
        rows.append((float(x0), float(y0), float(x1), float(y1)))
    bb = bbox_struct(F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"))
    df = (spark.createDataFrame(rows, "xmin double, ymin double, xmax double, ymax double")
          .select("*", cells.cells_for_bbox_am(bb, level).alias("cover_am"),
                  cells.cells_for_bbox(bb, level).alias("cover")))

    def ring_union(cover, ring):
        # the ring text's cell id is the SQL lambda variable ``_c``
        return F.expr(f"array_sort(array_distinct(flatten(transform({cover}, _c -> "
                      f"{cells.ring_cells_sql('_c', level, ring)}))))")

    bad = F.lit(False)
    for ring in (0, 1, 2, 3):
        got = cells.ring_cells_bbox(bb, level, ring)
        bad = (bad
               | (F.size(got) != F.size(F.array_distinct(got)))
               | (F.array_sort(got) != ring_union("cover_am", ring))
               | ((F.col("xmin") <= F.col("xmax"))
                  & (F.array_sort(got) != ring_union("cover", ring))))
    assert df.filter(bad).collect() == []


def test_z_cell_id_interleave_and_locality(spark):
    """Morton id: bit-exact vs an independent per-bit python interleave,
    and the locality property that justifies it — any aligned 2^k×2^k
    cell block occupies ONE contiguous id range (that's what parquet
    min-max pruning consumes)."""
    def spread(v):
        out = 0
        for i in range(28):
            out |= ((v >> i) & 1) << (2 * i)
        return out

    import math

    def ref(lon, lat, L):
        size = 180.0 / (1 << L)
        ix = max(0, min(2 * (1 << L) - 1, int(math.floor((lon + 180.0) / size))))
        iy = max(0, min((1 << L) - 1, int(math.floor((90.0 - lat) / size))))
        return (L << 57) | (spread(iy) << 1) | spread(ix)

    pts = [(10.3, 45.2), (-120.0, -33.0), (179.9, 89.9), (-180.0, -90.0), (0.015, 0.02)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    got = [r.z for r in df.select(cells.z_cell_id("lon", "lat", 8).alias("z")).collect()]
    assert got == [ref(a, b, 8) for a, b in pts]

    # locality: the 4 cells of any aligned 2x2 block are consecutive ids
    L = 8
    size = 180.0 / (1 << L)
    base_lon, base_lat = -180.0 + 40 * size, 90.0 - 40 * size  # aligned: ix=40, iy=40 (both even)
    block = [(base_lon + dx * size + size / 2, base_lat - dy * size - size / 2)
             for dy in (0, 1) for dx in (0, 1)]
    bdf = spark.createDataFrame(block, "lon double, lat double")
    ids = sorted(r.z for r in bdf.select(cells.z_cell_id("lon", "lat", L).alias("z")).collect())
    assert ids == list(range(ids[0], ids[0] + 4))


def test_xyz_tile_known_anchors(spark):
    """OSM slippy-map anchors: (0,0) at z=1 → (1,1); lon −180 → x=0;
    the Web-Mercator clip latitude lands in the edge rows."""
    from rasters_spark import cells

    df = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, -180.0, 0.0), (3, 179.999, 0.0),
         (4, 0.0, 85.0), (5, 0.0, -85.0), (6, 13.4, 52.52)],  # Berlin
        "id long, x double, y double")
    xt, yt = cells.xyz_tile("x", "y", 1)
    got = {r.id: (r.xt, r.yt) for r in df.select("id", xt.alias("xt"), yt.alias("yt")).collect()}
    assert got[1] == (1, 1)
    assert got[2] == (0, 1)
    assert got[3] == (1, 1)
    # Berlin at z=10 is tile (550, 335) — the canonical OSM example
    xt10, yt10 = cells.xyz_tile("x", "y", 10)
    b = df.filter("id = 6").select(xt10.alias("xt"), yt10.alias("yt")).collect()[0]
    assert (b.xt, b.yt) == (550, 335)
    # clip band: z=4 edge rows
    xt4, yt4 = cells.xyz_tile("x", "y", 4)
    e = {r.id: r.yt for r in df.select("id", yt4.alias("yt")).collect()}
    assert e[4] == 0 and e[5] == 15


def test_save_xyz_tiles_renders_decodable_pyramid(spark, sf_dir):
    """The XYZ pyramid sink writes one decodable 256-square grayscale
    PNG per non-empty z/x/y path, executor-side; pixel means composite
    into the raster (spot-checked by decoding a tile back and finding
    the expected non-zero coverage)."""
    import tempfile
    from pathlib import Path

    from rasters_spark.functions import xyz as xyzfn
    from rasters_spark.functions.render import decode_png
    from rasters_spark.tiles import load_tiles

    t = load_tiles(spark, sf_dir).filter("fmt = 'raw' and image_id < 'img000000000100'")
    with tempfile.TemporaryDirectory(prefix="xyz-") as d:
        res = {(r.xtile, r.ytile): (r.n_px, r.n_bytes)
               for r in xyzfn.save_xyz_tiles(t, z=4, out_dir=d).collect()}
        assert res
        files = list(Path(d).glob("4/*/*.png"))
        assert len(files) == len(res)
        xt, yt = next(iter(res))
        img = decode_png((Path(d) / "4" / str(xt) / f"{yt}.png").read_bytes())
        assert img.shape == (256, 256)
        assert (img > 0).sum() > 0  # composited pixels landed
    # stats core agrees with the sink's group count
    stats_n = xyzfn.xyz_pyramid_stats(t, z=4).count()
    assert stats_n == len(res)
