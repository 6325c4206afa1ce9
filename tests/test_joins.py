"""PIP join / rasterize / semi-anti / kNN vs independent numpy checks."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from rasters_spark import fixtures, npref
from rasters_spark.operators import joins, knn
from rasters_spark.tiles import load_points, load_polygons, load_tiles

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _fixtures():
    fixtures.ensure_fixtures(SF)


def test_pip_rect_half_open(spark):
    polys = load_polygons(spark, SF).filter("is_rect")
    pts = load_points(spark, SF)
    got = joins.points_in_polygons(pts, polys).select("point_id", "poly_id").toPandas()
    p = pts.toPandas()
    rects = polys.select("poly_id", "xmin", "ymin", "xmax", "ymax").toPandas()
    expected = set()
    for _, r in rects.iterrows():
        m = (p.x >= r.xmin) & (p.x < r.xmax) & (p.y >= r.ymin) & (p.y < r.ymax)
        expected |= {(int(pid), int(r.poly_id)) for pid in p.loc[m, "point_id"]}
    assert set(map(tuple, got.itertuples(index=False))) == expected


def test_pip_convex_and_concave(spark):
    polys = load_polygons(spark, SF).filter("not is_rect")
    rng = np.random.default_rng(21)
    # dense probe cloud over the convex pentagon (center 20,20 r=3) and arrow
    xs = np.concatenate([rng.uniform(15, 25, 400), rng.uniform(39, 45, 400)])
    ys = np.concatenate([rng.uniform(15, 25, 400), rng.uniform(9, 15, 400)])
    pts = spark.createDataFrame(
        [(i, float(x), float(y)) for i, (x, y) in enumerate(zip(xs, ys))],
        "point_id long, x double, y double",
    )
    got = joins.points_in_polygons(pts, polys).select("point_id", "poly_id").toPandas()
    gotset = set(map(tuple, got.itertuples(index=False)))

    # convex pentagon: strict interior via cross products (skip near-edge pts)
    ang = np.linspace(0, 2 * np.pi, 6)[:-1]
    vx, vy = 20 + 3 * np.cos(ang), 20 + 3 * np.sin(ang)
    for i, (x, y) in enumerate(zip(xs, ys)):
        cr = [(vx[(j + 1) % 5] - vx[j]) * (y - vy[j]) - (vy[(j + 1) % 5] - vy[j]) * (x - vx[j]) for j in range(5)]
        if min(cr) > 1e-9:       # strictly inside
            assert (i, 25) in gotset, (i, x, y)
        elif max(cr) < -1e-9 or min(np.abs(cr)) > 1e-9 and (min(cr) < 0 < max(cr)):
            assert (i, 25) not in gotset, (i, x, y)

    # concave arrow (40,10)-(44,10)-(42,12)-(44,14)-(40,14): notch points out
    assert all((i, 26) not in gotset or not (43.2 < xs[i] < 44.0 and 11.8 < ys[i] < 12.2)
               for i in range(len(xs)))
    # deep interior of the arrow shaft is in
    deep = [i for i in range(len(xs)) if 40.2 < xs[i] < 41.5 and 10.5 < ys[i] < 13.5]
    assert deep and all((i, 26) in gotset for i in deep)


def test_rasterize_matches_numpy_burn(spark):
    polys = load_polygons(spark, SF).filter("is_rect")
    target = dict(x_origin=-180.0, y_origin=90.0, cell_width=0.5, cell_height=-0.5,
                  rows=360, cols=720, crs="EPSG:4326")
    got = joins.rasterize(polys, target, merge_alg="add").toPandas()
    rects = polys.select("poly_id", "xmin", "ymin", "xmax", "ymax", "burn_value").toPandas()
    acc = {}
    for _, r in rects.iterrows():
        rs, cs, re_, ce, oob = npref.window_for_bbox(
            r.xmin, r.ymin, r.xmax, r.ymax, -180.0, 90.0, 0.5, -0.5, 360, 720)
        assert not oob
        for row in range(rs, re_):
            for col in range(cs, ce):
                cx, cy = npref.cell_center(row, col, -180.0, 90.0, 0.5, -0.5)
                if r.xmin <= cx < r.xmax and r.ymin <= cy < r.ymax:
                    acc[(row, col)] = acc.get((row, col), 0.0) + r.burn_value
    gotmap = {(int(r.row), int(r.col)): r.value for r in got.itertuples(index=False)}
    assert gotmap == pytest.approx(acc)


def test_rasterize_replace_later_wins(spark):
    rows = [
        (1, [{"x": 0.0, "y": 0.0}, {"x": 2.0, "y": 0.0}, {"x": 2.0, "y": 2.0}, {"x": 0.0, "y": 2.0}, {"x": 0.0, "y": 0.0}], 10.0),
        (2, [{"x": 1.0, "y": 0.0}, {"x": 3.0, "y": 0.0}, {"x": 3.0, "y": 2.0}, {"x": 1.0, "y": 2.0}, {"x": 1.0, "y": 0.0}], 20.0),
    ]
    polys = spark.createDataFrame(rows, "poly_id long, ring array<struct<x:double,y:double>>, burn_value double")
    polys = (polys.withColumn("xmin", F.expr("aggregate(ring, cast('inf' as double), (a, v) -> least(a, v.x))"))
                  .withColumn("xmax", F.expr("aggregate(ring, cast('-inf' as double), (a, v) -> greatest(a, v.x))"))
                  .withColumn("ymin", F.expr("aggregate(ring, cast('inf' as double), (a, v) -> least(a, v.y))"))
                  .withColumn("ymax", F.expr("aggregate(ring, cast('-inf' as double), (a, v) -> greatest(a, v.y))")))
    target = dict(x_origin=0.0, y_origin=2.0, cell_width=1.0, cell_height=-1.0, rows=2, cols=3, crs="EPSG:4326")
    got = {(r.row, r.col): r.value for r in joins.rasterize(polys, target, "replace").collect()}
    # col 0 → only poly 1; col 1 → overlap, poly 2 (later) wins; col 2 → poly 2
    assert got[(0, 0)] == 10.0 and got[(0, 1)] == 20.0 and got[(0, 2)] == 20.0


def test_semi_anti_partition(spark):
    tiles = load_tiles(spark, SF)
    polys = load_polygons(spark, SF)
    semi = joins.tiles_intersecting_polygons(tiles, polys, semi=True)
    anti = joins.tiles_intersecting_polygons(tiles, polys, semi=False)
    n, ns, na = tiles.count(), semi.count(), anti.count()
    assert ns + na == n and ns > 0
    assert not set(r.image_id for r in semi.select("image_id").collect()) & set(
        r.image_id for r in anti.select("image_id").collect())


def test_knn_matches_bruteforce_within_radius(spark):
    tiles = load_tiles(spark, SF)
    pts = load_points(spark, SF).limit(150)
    got = knn.knn_tiles(pts, tiles, k=3, ring=2).toPandas()
    t = tiles.select("image_id", "x_origin", "y_origin", "cell_width", "cell_height", "w", "h").toPandas()
    t["cx"] = t.x_origin + t.cell_width * t.w / 2.0
    t["cy"] = t.y_origin + t.cell_height * t.h / 2.0
    p = pts.toPandas()
    size = 180.0 / (1 << fixtures.CELL_LEVEL)
    for pid, grp in got.groupby("point_id"):
        px, py = p.loc[p.point_id == pid, ["x", "y"]].iloc[0]
        d = np.hypot(t.cx - px, t.cy - py)
        # contract: every tile within 1 ring-width (cells the tile is
        # registered in are a superset of its centroid cell) must rank
        near = t.image_id[np.argsort(d, kind="stable")].to_numpy()
        dd = np.sort(d.to_numpy())
        k_found = len(grp)
        # ranks must be sorted by distance and distances must match brute force
        grp = grp.sort_values("rank")
        assert (np.diff(grp.dist.to_numpy()) >= -1e-12).all()
        # the top-1 within the guaranteed radius must agree
        if dd[0] <= size:  # centroid within one cell of the point
            assert grp.iloc[0].dist == pytest.approx(dd[0], abs=1e-9)


def test_rasterize_huge_polygon_sharded(spark):
    # one polygon covering >1e5 candidate cells must still burn exactly
    # (the kernel key shards by 256x256 block so no single task holds it)
    ring = [{"x": 0.0, "y": 0.0}, {"x": 4.0, "y": 0.0}, {"x": 4.0, "y": 4.0},
            {"x": 0.0, "y": 4.0}, {"x": 0.0, "y": 0.0}]
    polys = spark.createDataFrame(
        [(1, ring, True, 7.0, 0.0, 0.0, 4.0, 4.0)],
        "poly_id long, ring array<struct<x double, y double>>, is_rect boolean, "
        "burn_value double, xmin double, ymin double, xmax double, ymax double")
    target = dict(x_origin=0.0, y_origin=4.0, cell_width=0.01, cell_height=-0.01,
                  rows=400, cols=400, crs="EPSG:4326")
    out = joins.rasterize(polys, target, merge_alg="add")
    # every cell center x=0.005+0.01k in [0,4) half-open → all 400x400
    assert out.count() == 160_000
    agg = out.agg(F.sum("value").alias("s"), F.min("value").alias("mn"),
                  F.max("value").alias("mx")).collect()[0]
    assert agg.mn == 7.0 and agg.mx == 7.0 and agg.s == 7.0 * 160_000


def test_zonal_stats_triangle_vs_numpy(spark):
    """Zonal statistics through the EXACT ray-cast path (a non-rect
    triangle zone), recomputed brute-force in numpy over the decoded
    fixture pixels — count, sum, min, max, mean all equal (sums exact:
    quarter-integer raw pixels)."""
    from rasters_spark import codec
    from rasters_spark.operators import stats
    from rasters_spark.operators.joins import ray_cast_inside

    t = load_tiles(spark, SF).filter("fmt = 'raw'")
    rows = t.select("image_id", "bytes", "w", "h", "fmt",
                    "x_origin", "y_origin", "cell_width", "cell_height").collect()
    # a triangle spanning the fixture tile band, edges off the lattice
    tri = [(-170.3, 46.1), (-100.7, 79.2), (-30.9, 46.1), (-170.3, 46.1)]
    rx = np.array([p[0] for p in tri])
    ry = np.array([p[1] for p in tri])
    n = 0
    vs = []
    for r in rows:
        arr = codec.decode_tile(r.bytes, r.w, r.h, r.fmt)
        h, w = arr.shape
        xs = r.x_origin + r.cell_width * (np.arange(w) + 0.5)
        ys = r.y_origin + r.cell_height * (np.arange(h) + 0.5)
        gx = np.broadcast_to(xs, (h, w)).ravel()
        gy = np.repeat(ys, w)
        v = arr.ravel()
        m = np.isfinite(v)
        keep = ray_cast_inside(gx[m], gy[m], rx, ry)
        vs.append(v[m][keep].astype(np.float64))
    expect = np.concatenate(vs)
    zones = spark.createDataFrame(
        [(0, float(rx.min()), float(ry.min()), float(rx.max()), float(ry.max()),
          [{"x": float(a), "y": float(b)} for a, b in tri], False)],
        "poly_id long, xmin double, ymin double, xmax double, ymax double, "
        "ring array<struct<x:double,y:double>>, is_rect boolean")
    got = stats.zonal_stats(t, zones).collect()
    assert len(got) == 1 and expect.size > 0
    g = got[0]
    assert g.n_valid == expect.size
    assert g.vsum == expect.sum()
    assert g.vmin == expect.min() and g.vmax == expect.max()
    assert g.vmean == g.vsum / g.n_valid
    # plan shape: map-only over the payload — the ONLY exchange is the
    # final 4-double partial agg; tile bytes never shuffle, no join
    plan = stats.zonal_stats(t, zones)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1 and "Join" not in plan
