"""Vector scalar functions: bbox accessors, point buffer, raster→vector.

All pure SQL except pixel_centroids' decode pass (Arrow). Reference:
bbox accessors bbox.py:110-248, Point.buffer point.py:184-238,
pixel_centroids/outlines raster_geometry.py:1111-1144 + value-attached
frames raster.py:1487-1492.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rasters_spark.grid import _col
from rasters_spark.tiles import cell_rows, map_tiles


# --- bbox accessors (bbox.py:110-248) -------------------------------------------

def bbox_width(bbox: Column) -> Column:
    return bbox["xmax"] - bbox["xmin"]


def bbox_height(bbox: Column) -> Column:
    return bbox["ymax"] - bbox["ymin"]


def bbox_centroid_x(bbox: Column) -> Column:
    return (bbox["xmin"] + bbox["xmax"]) / 2.0


def bbox_centroid_y(bbox: Column) -> Column:
    return (bbox["ymin"] + bbox["ymax"]) / 2.0


def bbox_buffer(bbox: Column, d) -> Column:
    dd = _col(d)
    return F.struct(
        (bbox["xmin"] - dd).alias("xmin"), (bbox["ymin"] - dd).alias("ymin"),
        (bbox["xmax"] + dd).alias("xmax"), (bbox["ymax"] + dd).alias("ymax"),
    )


def bbox_round(bbox: Column, decimals: int = 0) -> Column:
    """bbox.py:214-231 — round each bound (reference uses np.round =
    half-even → bround)."""
    return F.struct(
        F.bround(bbox["xmin"], decimals).alias("xmin"), F.bround(bbox["ymin"], decimals).alias("ymin"),
        F.bround(bbox["xmax"], decimals).alias("xmax"), F.bround(bbox["ymax"], decimals).alias("ymax"),
    )


def bbox_polygon_ring(bbox: Column) -> Column:
    """bbox → closed 5-point exterior ring (bbox.py:233-248)."""
    def pt(x, y):
        return F.struct(x.alias("x"), y.alias("y"))

    return F.array(
        pt(bbox["xmin"], bbox["ymin"]), pt(bbox["xmax"], bbox["ymin"]),
        pt(bbox["xmax"], bbox["ymax"]), pt(bbox["xmin"], bbox["ymax"]),
        pt(bbox["xmin"], bbox["ymin"]),
    )


def ring_bbox(ring: Column) -> Column:
    """Polygon.bbox (polygon.py:121-141): nan-safe min/max over the ring
    — an aggregate() HOF fold, no UDF."""
    r = _col(ring)

    def fold(field, fn, init):
        return F.aggregate(r, F.lit(init).cast("double"),
                           lambda acc, v: fn(acc, F.nanvl(v[field], acc)))

    return F.struct(
        fold("x", F.least, float("inf")).alias("xmin"),
        fold("y", F.least, float("inf")).alias("ymin"),
        fold("x", F.greatest, float("-inf")).alias("xmax"),
        fold("y", F.greatest, float("-inf")).alias("ymax"),
    )


def bbox_width_am(bbox: Column) -> Column:
    """Width with the antimeridian +360 fixup
    (raster_geolocation.py:220-236): a WRAPPED bbox (xmin > xmax, the
    reference's crossing convention) measures across the seam."""
    return F.when(
        bbox["xmin"] > bbox["xmax"], (bbox["xmax"] + F.lit(360.0)) - bbox["xmin"]
    ).otherwise(bbox["xmax"] - bbox["xmin"])


def ring_bbox_am(ring: Column) -> Column:
    """Polygon bbox with the reference's antimeridian split
    (raster_geometry.py:505-521): when the ring crosses the seam,
    ``xmin`` = min of the POSITIVE x (east side), ``xmax`` = max of the
    NEGATIVE x (west side) — a wrapped bbox with xmin > xmax, which
    cells_for_bbox_am splits into two seam-bounded ranges. Non-crossing
    rings fall back to the plain nan-safe fold."""
    from rasters_spark.functions.crs import crosses_antimeridian_ring

    r = _col(ring)
    plain = ring_bbox(r)

    def fold(fn, init, pred):
        return F.aggregate(
            r, F.lit(init).cast("double"),
            lambda acc, v: fn(acc, F.when(pred(v["x"]), F.nanvl(v["x"], acc)).otherwise(acc)))

    wrapped = F.struct(
        fold(F.least, float("inf"), lambda x: x > 0).alias("xmin"),
        plain["ymin"].alias("ymin"),
        fold(F.greatest, float("-inf"), lambda x: x < 0).alias("xmax"),
        plain["ymax"].alias("ymax"),
    )
    return F.when(crosses_antimeridian_ring(r), wrapped).otherwise(plain)


def point_buffer_ring(x, y, radius, segments: int = 16) -> Column:
    """Circular buffer polygon as an n-gon ring (point.py:184-238,
    default resolution 16 quarter-segments) — cos/sin by column math."""
    xx, yy, r = _col(x), _col(y), _col(radius)
    n = segments
    two_pi = 2.0 * 3.141592653589793
    ring = F.transform(
        F.sequence(F.lit(0), F.lit(n)),
        lambda k: F.struct(
            (xx + r * F.cos(k.cast("double") * two_pi / n)).alias("x"),
            (yy + r * F.sin(k.cast("double") * two_pi / n)).alias("y"),
        ),
    )
    return ring


# --- GeoJSON (vector_geometry.py:116-123, wrap_geometry.py:19-81) ---------------

def ring_coords_json(ring: Column, decimals: int = 6) -> Column:
    """One ring's ``[[x,y],...]`` coordinate text (printf-formatted for
    engine-portable float rendering) — shared by the Polygon and
    MultiPolygon writers."""
    fmt = f"%.{decimals}f"
    return F.concat(
        F.lit("["),
        F.concat_ws(
            ",",
            F.transform(_col(ring), lambda p: F.format_string(f"[{fmt},{fmt}]", p["x"], p["y"])),
        ),
        F.lit("]"),
    )


def ring_to_geojson(ring: Column, decimals: int = 6) -> Column:
    """Polygon ring → GeoJSON string."""
    return F.concat(F.lit('{"type": "Polygon", "coordinates": ['),
                    ring_coords_json(ring, decimals), F.lit("]}"))


def rings_to_geojson(rings: Column, decimals: int = 6) -> Column:
    """Array of exterior rings → MultiPolygon GeoJSON string
    (multi_polygon.py via wrap_geometry.py:76-79 — each member polygon
    is one exterior ring; the engine's geometries carry no holes)."""
    parts = F.concat_ws(
        ",",
        F.transform(_col(rings), lambda r: F.concat(F.lit("["), ring_coords_json(r, decimals), F.lit("]"))),
    )
    return F.concat(F.lit('{"type": "MultiPolygon", "coordinates": ['), parts, F.lit("]}"))


def point_to_geojson(x, y, decimals: int = 6) -> Column:
    fmt = f"%.{decimals}f"
    return F.format_string(f'{{"type": "Point", "coordinates": [{fmt},{fmt}]}}', _col(x), _col(y))


GEOJSON_SCHEMA = "struct<type:string, coordinates:array<array<array<double>>>>"
GEOJSON_POINT_SCHEMA = "struct<type:string, coordinates:array<double>>"


def geojson_to_ring(js) -> Column:
    """wrap_geometry analogue: parse a GeoJSON Polygon string into the
    engine's ring array (exterior ring only)."""
    parsed = F.from_json(_col(js), GEOJSON_SCHEMA)
    # try_element_at: malformed / empty / wrong-type input → NULL, never throws
    ring = F.try_element_at(parsed["coordinates"], F.lit(1))
    return F.transform(
        ring,
        lambda c: F.struct(F.try_element_at(c, F.lit(1)).alias("x"),
                           F.try_element_at(c, F.lit(2)).alias("y")),
    )


def geojson_to_point(js) -> Column:
    parsed = F.from_json(_col(js), GEOJSON_POINT_SCHEMA)
    return F.struct(
        F.try_element_at(parsed["coordinates"], F.lit(1)).alias("x"),
        F.try_element_at(parsed["coordinates"], F.lit(2)).alias("y"),
    )


GEOJSON_MULTIPOLY_SCHEMA = "struct<type:string, coordinates:array<array<array<array<double>>>>>"
GEOJSON_MULTIPOINT_SCHEMA = "struct<type:string, coordinates:array<array<double>>>"


def geojson_to_rings(js) -> Column:
    """wrap_geometry's Polygon/MultiPolygon dispatch
    (wrap_geometry.py:74-79) relationally: GeoJSON string → array of
    exterior rings (one per member polygon; a Polygon yields a 1-array)
    so callers ``posexplode`` into (geom_id, part, ring) rows — a
    MultiPolygon IS just more rows through every downstream join.
    Unknown/malformed types → NULL, never a throw."""
    j = _col(js)
    typ = F.from_json(j, "struct<type:string>")["type"]
    multi = F.transform(
        F.from_json(j, GEOJSON_MULTIPOLY_SCHEMA)["coordinates"],
        lambda poly: F.transform(
            F.try_element_at(poly, F.lit(1)),  # exterior ring of the member
            lambda c: F.struct(F.try_element_at(c, F.lit(1)).alias("x"),
                               F.try_element_at(c, F.lit(2)).alias("y")),
        ),
    )
    return (F.when(typ == "MultiPolygon", multi)
             .when(typ == "Polygon", F.array(geojson_to_ring(j))))


def geojson_to_points(js) -> Column:
    """Point/MultiPoint dispatch (wrap_geometry.py:72-75): GeoJSON →
    array of point structs (a Point yields a 1-array)."""
    j = _col(js)
    typ = F.from_json(j, "struct<type:string>")["type"]
    multi = F.transform(
        F.from_json(j, GEOJSON_MULTIPOINT_SCHEMA)["coordinates"],
        lambda c: F.struct(F.try_element_at(c, F.lit(1)).alias("x"),
                           F.try_element_at(c, F.lit(2)).alias("y")),
    )
    return (F.when(typ == "MultiPoint", multi)
             .when(typ == "Point", F.array(geojson_to_point(j))))


# --- raster → vector (raster_geometry.py:1111-1144) -----------------------------

def latlon_matrices(tiles: DataFrame) -> DataFrame:
    """RasterGeometry.latlon_matrices (raster_geometry.py:333-351) in
    long form: per-pixel lat/lon with the reference's out-of-range
    guards (lat outside ±90 / lon outside ±180 → NaN, here SQL NULL).

    Geographic grids take the ``xy`` branch (lon/lat = pixel centroid
    x/y, pure SQL guards — no Python); projected CRSs route their
    pixel centroids through transform_xy to WGS84 first
    (raster_geometry.py:340-342) — the kernel's geographic-destination
    clip IS the range guard. The two branches are split relationally
    and unioned so the common all-geographic case never pays the Arrow
    hop (ADVICE r02 medium). → (image_id, prow, pcol, lon, lat)."""
    from rasters_spark.functions.crs import GEOGRAPHIC_CRS, transform_xy

    crs_map = tiles.select("image_id", "crs")
    pc = pixel_centroids(tiles).join(F.broadcast(crs_map), "image_id")
    is_geo = F.col("crs").isin(*GEOGRAPHIC_CRS)
    geo = pc.filter(is_geo)
    lon = F.when((F.col("x") >= -180.0) & (F.col("x") <= 180.0), F.col("x"))
    lat = F.when((F.col("y") >= -90.0) & (F.col("y") <= 90.0), F.col("y"))
    out_geo = geo.select("image_id", "prow", "pcol", lon.alias("lon"), lat.alias("lat"))
    proj = pc.filter(~is_geo)
    out_proj = transform_xy(proj, src="crs", dst="EPSG:4326").select(
        "image_id", "prow", "pcol",
        F.col("x_t").alias("lon"), F.col("y_t").alias("lat"))
    return out_geo.unionByName(out_proj)


def pixel_centroids(tiles: DataFrame, drop_nodata: bool = True) -> DataFrame:
    """Every pixel as a value-attached point — THE raster→vector
    operator: (image_id, prow, pcol, x, y, value). One Arrow pass per
    tile; at scale this is the long-form handoff to vector joins."""
    def kernel(arr, hh, ww, x0, y0, cw, ch):
        v = arr.astype(np.float64)
        keep = np.isfinite(v) if drop_nodata else np.ones(v.shape, bool)
        return cell_rows(keep,
                         np.broadcast_to(x0 + cw * (np.arange(ww) + 0.5), (hh, ww)),
                         np.broadcast_to(y0 + ch * (np.arange(hh) + 0.5)[:, None], (hh, ww)),
                         np.where(np.isfinite(v), v, np.nan))

    return map_tiles(tiles, kernel,
                     "image_id string, prow int, pcol int, x double, y double, value double",
                     meta=("x_origin", "y_origin", "cell_width", "cell_height"))


def pixel_outlines(tiles: DataFrame, drop_nodata: bool = True) -> DataFrame:
    """Every pixel as its square outline corners (flat columns for
    relational friendliness): (image_id, prow, pcol, x0, y0, x1, y1,
    value) where (x0,y0)=top-left corner, (x1,y1)=bottom-right."""
    pc = pixel_centroids(tiles, drop_nodata)
    # centroid ± half cell — recompute cell size from the tile table
    sizes = tiles.select("image_id", "cell_width", "cell_height")
    j = pc.join(F.broadcast(sizes), "image_id")
    return j.select(
        "image_id", "prow", "pcol",
        (F.col("x") - F.col("cell_width") / 2).alias("x0"),
        (F.col("y") - F.col("cell_height") / 2).alias("y0"),
        (F.col("x") + F.col("cell_width") / 2).alias("x1"),
        (F.col("y") + F.col("cell_height") / 2).alias("y1"),
        "value",
    )


def area_centroid(polys: DataFrame) -> DataFrame:
    """Shoelace signed area + centroid for every polygon ring (Gauss's
    area formula — EXTENSION beyond the reference's bbox accessors):
    → (poly_id, area, cx, cy). The cross-term sums run through a
    SEQUENTIAL HOF fold (``F.aggregate`` ≡ DuckDB ``list_reduce`` —
    both left folds), so even the inexact products accumulate in the
    IDENTICAL order on both engines and the doubles hash bit-for-bit
    (the doc_fingerprint precedent). Degenerate (zero-area) rings
    report NULL centroid. Scan-side, no shuffle at all."""
    from pyspark.sql import functions as F

    r = F.col("ring")
    idx = F.sequence(F.lit(0), F.size(r) - 2)
    terms = F.transform(idx, lambda i: F.struct(
        (r[i]["x"] * r[i + 1]["y"] - r[i + 1]["x"] * r[i]["y"]).alias("cr"),
        ((r[i]["x"] + r[i + 1]["x"])
         * (r[i]["x"] * r[i + 1]["y"] - r[i + 1]["x"] * r[i]["y"])).alias("cx"),
        ((r[i]["y"] + r[i + 1]["y"])
         * (r[i]["x"] * r[i + 1]["y"] - r[i + 1]["x"] * r[i]["y"])).alias("cy")))
    zero = F.struct(F.lit(0.0).alias("a"), F.lit(0.0).alias("x"),
                    F.lit(0.0).alias("y"))
    acc = F.aggregate(
        terms, zero,
        lambda a, t: F.struct((a["a"] + t["cr"]).alias("a"),
                              (a["x"] + t["cx"]).alias("x"),
                              (a["y"] + t["cy"]).alias("y")))
    return polys.select(
        "poly_id",
        (acc["a"] / 2.0).alias("area"),
        F.when(acc["a"] != 0.0, acc["x"] / (3.0 * acc["a"])).alias("cx"),
        F.when(acc["a"] != 0.0, acc["y"] / (3.0 * acc["a"])).alias("cy"))


#: IUGG mean Earth radius (meters) — inlined into BOTH engines' SQL.
EARTH_R_MEAN = 6371008.8


def geodesic_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> tuple[str, str]:
    """(distance_m, bearing_deg) expression TEXT — haversine great
    circle + initial forward azimuth on the IUGG mean sphere. The text
    is evaluated verbatim by Spark SQL and DuckDB (shared-text rule),
    so the only cross-engine drift is last-ulp libm, absorbed by the
    caller's printf quantization."""
    dlat2 = f"(radians({lat2}) - radians({lat1})) / 2.0"
    dlon2 = f"(radians({lon2}) - radians({lon1})) / 2.0"
    h = (f"(sin({dlat2}) * sin({dlat2}) + cos(radians({lat1})) * "
         f"cos(radians({lat2})) * sin({dlon2}) * sin({dlon2}))")
    dist = f"(2.0 * {EARTH_R_MEAN!r} * asin(least(1.0, sqrt({h}))))"
    dlon = f"(radians({lon2}) - radians({lon1}))"
    brg = (f"(((degrees(atan2(sin({dlon}) * cos(radians({lat2})), "
           f"cos(radians({lat1})) * sin(radians({lat2})) - "
           f"sin(radians({lat1})) * cos(radians({lat2})) * cos({dlon}))) "
           f"% 360.0) + 360.0) % 360.0)")
    return dist, brg
