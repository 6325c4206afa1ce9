"""Grid-descriptor struct + closed-form cell math as pure Spark SQL.

The reference's ``RasterGrid`` (rasters/raster_grid.py:37-78) is a
north-oriented uniform grid: 6-param affine ``(cw, 0, x0, 0, ch, y0)``
with ``cell_width > 0``, ``cell_height < 0``, plus ``rows, cols, crs``.
Here it is a plain ``StructType`` column — pure data, no class
hierarchy — and every indexing rule is a closed-form column expression,
so Catalyst folds/pushes it and whole-stage codegen executes it
JVM-side with zero Python.

Correctness-critical transcriptions (cited against /root/reference):

- cell assignment = inverse *center* affine + banker's rounding
  (raster_grid.py:717-735; affine_center at :380-387):
      col = round_half_even((x - x0)/cw - 0.5)
      row = round_half_even((y - y0)/ch - 0.5)
  Spark ``bround`` is HALF_EVEN, matching Python/NumPy ``round``.
  (DuckDB oracle side uses ``round_even`` — see __spark_entry__.py.)
- window from bbox (raster_grid.py:737-815): start index from
  ``(xmin, ymax)``, end from ``(xmax, ymin)`` then ``+1``; optional
  ±buffer; clamp to ``[0, rows/cols]``; *disjoint* → OutOfBounds,
  surfaced here as an ``oob`` boolean column instead of an
  executor-side exception (engine decision, SURVEY §4.2(4)).
- subset origin shift: ``x0 + col_off*cw, y0 + row_off*ch``
  (raster_grid.py:80-113; pinned by tests/test_subsetting.py:38-41).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

GRID_FIELDS = ("x_origin", "y_origin", "cell_width", "cell_height", "rows", "cols", "crs")


def _col(c) -> Column:
    return c if isinstance(c, Column) else (F.col(c) if isinstance(c, str) else F.lit(c))


def grid_struct(x_origin, y_origin, cell_width, cell_height, rows, cols, crs="EPSG:4326") -> Column:
    """Build a grid-descriptor struct column from scalar/column inputs.

    ``crs`` given as a string is treated as a LITERAL when it looks like a
    CRS identifier ("EPSG:4326", proj4 with spaces) — otherwise a column
    name, like every other argument.
    """
    if isinstance(crs, str) and (":" in crs or " " in crs):
        crs = F.lit(crs)
    return F.struct(
        _col(x_origin).cast("double").alias("x_origin"),
        _col(y_origin).cast("double").alias("y_origin"),
        _col(cell_width).cast("double").alias("cell_width"),
        _col(cell_height).cast("double").alias("cell_height"),
        _col(rows).cast("int").alias("rows"),
        _col(cols).cast("int").alias("cols"),
        _col(crs).cast("string").alias("crs"),
    )


# --- cell assignment (raster_grid.py:717-735) --------------------------------

def _rint(c: Column) -> Column:
    """IEEE round-half-even via Math.rint — identical results to
    bround(x, 0)/np.round/DuckDB round_even at scale 0, but pure FP:
    bround constructs a java BigDecimal (through Double.toString!) per
    row and dominated the join hot path in profiles."""
    return F.call_function("rint", c)


def point_col(grid: Column, x) -> Column:
    """Point x → fractional col via inverse center affine, banker's-rounded."""
    return _rint((_col(x) - grid["x_origin"]) / grid["cell_width"] - 0.5).cast("long")


def point_row(grid: Column, y) -> Column:
    return _rint((_col(y) - grid["y_origin"]) / grid["cell_height"] - 0.5).cast("long")


def in_bounds(grid: Column, row, col) -> Column:
    r, c = _col(row), _col(col)
    return (r >= 0) & (r < grid["rows"]) & (c >= 0) & (c < grid["cols"])


# The same rules as SQL text for hot plans (one parsed expression, not a
# Column tree of py4j round trips). The Column forms stay for grids built
# as Columns: PySpark renders Column arithmetic as unparseable ``+(a, b)``.

def point_index_sql(g: str, v: str, axis: str) -> str:
    """:func:`point_col` (``axis`` 'x') / :func:`point_row` ('y') of
    coordinate text ``v`` in grid struct text ``g``."""
    step = "cell_width" if axis == "x" else "cell_height"
    return f"cast(rint(({v} - {g}.{axis}_origin) / {g}.{step} - 0.5E0) as bigint)"


def in_bounds_sql(g: str, row: str, col: str) -> str:
    return f"({row} >= 0 AND {row} < {g}.rows AND {col} >= 0 AND {col} < {g}.cols)"


def double_sql(x: float) -> str:
    """A DOUBLE literal in Spark SQL and DuckDB (E-notation): a plain
    ``0.5`` parses as DECIMAL, whose coercion slows Spark's analysis."""
    r = repr(float(x))
    return r if "e" in r else f"{r}E0"


def sql_text(c) -> str:
    """SQL text of a column argument: a str is SQL already (a column
    name or an expression); a Column renders through its own SQL form,
    which parses back exactly for column references, field paths,
    literals and ``F.expr`` columns — pass anything else as SQL text."""
    return c if isinstance(c, str) else c._jc.toString()


def struct_sql(s) -> str:
    """SQL text of a struct argument, ready for ``.field`` access."""
    s = sql_text(s)
    return s if s.replace("_", "").replace(".", "").isalnum() else f"({s})"


# --- cell centers (affine_center × index, raster_grid.py:687-715) ------------

def cell_center_x(grid: Column, col) -> Column:
    return grid["x_origin"] + grid["cell_width"] * (_col(col).cast("double") + 0.5)


def cell_center_y(grid: Column, row) -> Column:
    return grid["y_origin"] + grid["cell_height"] * (_col(row).cast("double") + 0.5)


# --- cell size / metric radius (raster_geometry.py:667-693, kdtree.py:27) -----

EQUATOR_CIRCUMFERENCE = 40075017.0


def is_geographic(grid: Column) -> Column:
    """Geographic-CRS test on the descriptor's crs string (the reference
    delegates to pyproj's CRS.is_geographic; here: EPSG:4326 or a
    +proj=longlat proj4)."""
    return (F.upper(grid["crs"]) == "EPSG:4326") | F.upper(grid["crs"]).contains("+PROJ=LONGLAT")


def cell_size(grid: Column) -> Column:
    """MIN(cell_width, |cell_height|) — raster_geometry.py:667-668
    (min, not max — transcribed as written)."""
    return F.least(grid["cell_width"], F.abs(grid["cell_height"]))


def cell_size_meters(grid: Column) -> Column:
    """raster_geometry.py:683-693 transcribed VERBATIM, including the
    ``cell_size / 180 * 40,075,017`` factor (2× the physical
    meters-per-degree — copy the code, not the physics, SURVEY §1.3(7)).
    Non-geographic grids return cell_size unchanged (projected units
    are already meters)."""
    return F.when(
        is_geographic(grid),
        cell_size(grid) / F.lit(180.0) * F.lit(EQUATOR_CIRCUMFERENCE),
    ).otherwise(cell_size(grid))


def _cell_size_meters_py(g: dict) -> float:
    """Driver-side twin of cell_size_meters for grid dicts."""
    cs = min(g["cell_width"], abs(g["cell_height"]))
    crs = str(g.get("crs", "")).upper()
    if crs == "EPSG:4326" or "+PROJ=LONGLAT" in crs:
        return cs / 180.0 * EQUATOR_CIRCUMFERENCE
    return cs


def kdtree_radius_meters(source: dict | None, target: dict | None) -> float:
    """Default KD-tree radius of influence (kdtree.py:27,168-179):
    CELL_SIZE_TO_SEARCH_DISTANCE_FACTOR (= 2.0) × nanmax of the
    geometries' cell_size_meters."""
    vals = [_cell_size_meters_py(g) for g in (source, target) if g is not None]
    if not vals:
        raise ValueError("kdtree_radius_meters: need at least one geometry")
    return 2.0 * max(vals)


def meters_to_crs_units(meters: float, g: dict) -> float:
    """Invert the cell_size_meters quirk so metric radii can bound the
    engine's CRS-unit Euclidean distances: degrees = m · 180 / C for
    geographic grids, identity otherwise."""
    crs = str(g.get("crs", "")).upper()
    if crs == "EPSG:4326" or "+PROJ=LONGLAT" in crs:
        return meters * 180.0 / EQUATOR_CIRCUMFERENCE
    return meters


# --- extent -------------------------------------------------------------------

def grid_bbox(grid: Column) -> Column:
    """Grid extent as struct<xmin,ymin,xmax,ymax> (raster_grid.py:519-552)."""
    return F.struct(
        grid["x_origin"].alias("xmin"),
        (grid["y_origin"] + grid["cell_height"] * grid["rows"].cast("double")).alias("ymin"),
        (grid["x_origin"] + grid["cell_width"] * grid["cols"].cast("double")).alias("xmax"),
        grid["y_origin"].alias("ymax"),
    )


def bbox_struct(xmin, ymin, xmax, ymax) -> Column:
    return F.struct(
        _col(xmin).cast("double").alias("xmin"),
        _col(ymin).cast("double").alias("ymin"),
        _col(xmax).cast("double").alias("xmax"),
        _col(ymax).cast("double").alias("ymax"),
    )


# --- window from bbox (raster_grid.py:737-815) --------------------------------

def window_for_bbox(grid: Column, bbox: Column, buffer=None) -> Column:
    """bbox → struct<row_start,col_start,row_end,col_end,oob>.

    Start from (xmin, ymax), end from (xmax, ymin) + 1, optional ±buffer,
    clamp to [0, rows/cols]. ``oob`` true iff the geometry is disjoint
    from the grid (reference raises OutOfBoundsError, raster_grid.py:757).
    Buffer is applied BEFORE the disjoint test in `window` but the
    reference tests disjointness pre-buffer (raster_grid.py:790-801):
    we replicate: oob computed on unbuffered indices.
    """
    row_start = point_row(grid, bbox["ymax"])
    col_start = point_col(grid, bbox["xmin"])
    row_end = point_row(grid, bbox["ymin"]) + 1
    col_end = point_col(grid, bbox["xmax"]) + 1
    rows = grid["rows"].cast("long")
    cols = grid["cols"].cast("long")
    oob = (row_end < 0) | (col_end < 0) | (row_start > rows) | (col_start > cols)
    if buffer is not None:
        b = _col(buffer).cast("long")
        row_start, col_start = row_start - b, col_start - b
        row_end, col_end = row_end + b, col_end + b
    return F.struct(
        F.greatest(row_start, F.lit(0).cast("long")).alias("row_start"),
        F.greatest(col_start, F.lit(0).cast("long")).alias("col_start"),
        F.least(row_end, rows).alias("row_end"),
        F.least(col_end, cols).alias("col_end"),
        oob.alias("oob"),
    )


# --- grid transforms (struct arithmetic, no data movement) --------------------

def subset_grid(grid: Column, window: Column) -> Column:
    """Window → sub-grid: origin shift + new shape (raster_grid.py:80-113)."""
    return grid_struct(
        grid["x_origin"] + window["col_start"].cast("double") * grid["cell_width"],
        grid["y_origin"] + window["row_start"].cast("double") * grid["cell_height"],
        grid["cell_width"],
        grid["cell_height"],
        (window["row_end"] - window["row_start"]).cast("int"),
        (window["col_end"] - window["col_start"]).cast("int"),
        grid["crs"],
    )


def buffer_grid(grid: Column, pixels) -> Column:
    """Expand by ±pixels on every side (raster_grid.py:835-852)."""
    p = _col(pixels)
    return grid_struct(
        grid["x_origin"] - p.cast("double") * grid["cell_width"],
        grid["y_origin"] - p.cast("double") * grid["cell_height"],
        grid["cell_width"],
        grid["cell_height"],
        grid["rows"] + (p * 2).cast("int"),
        grid["cols"] + (p * 2).cast("int"),
        grid["crs"],
    )


def shift_xy_grid(grid: Column, x_shift, y_shift) -> Column:
    """Translate origin by CRS units (raster_grid.py:854-866)."""
    return grid_struct(
        grid["x_origin"] + _col(x_shift).cast("double"),
        grid["y_origin"] + _col(y_shift).cast("double"),
        grid["cell_width"], grid["cell_height"], grid["rows"], grid["cols"], grid["crs"],
    )


def resize_grid_shape(grid: Column, rows, cols, keep_square: bool = True) -> Column:
    """RasterGrid.resize (raster_grid.py:602-630): scale cell sizes to a
    new shape; with ``keep_square`` the reference FORCES
    ``cell_height = -cell_width`` whenever they disagree — i.e. the
    height is overwritten by the width-derived size (transcribed
    verbatim; note the extent is NOT preserved in that branch)."""
    r, c = _col(rows).cast("double"), _col(cols).cast("double")
    ch = grid["cell_height"] * (grid["rows"].cast("double") / r)
    cw = grid["cell_width"] * (grid["cols"].cast("double") / c)
    if keep_square:
        ch = F.when(F.abs(ch) != cw, -cw).otherwise(ch)
    return grid_struct(grid["x_origin"], grid["y_origin"], cw, ch,
                       _col(rows).cast("int"), _col(cols).cast("int"), grid["crs"])


def shift_distance_grid(grid: Column, distance, direction) -> Column:
    """RasterGrid.shift_distance (raster_grid.py:851-866): polar →
    cartesian translation, direction in degrees."""
    d = _col(distance).cast("double")
    a = F.radians(_col(direction).cast("double"))
    return shift_xy_grid(grid, d * F.cos(a), d * F.sin(a))


def rescale_grid(grid: Column, cell_size) -> Column:
    """New cell size, same extent; shape = ceil(extent/cell)
    (raster_grid.py:576-615 `resolution`)."""
    cs = _col(cell_size).cast("double")
    width = grid["cell_width"] * grid["cols"].cast("double")
    height = -grid["cell_height"] * grid["rows"].cast("double")
    return grid_struct(
        grid["x_origin"], grid["y_origin"], cs, -cs,
        F.ceil(height / cs).cast("int"), F.ceil(width / cs).cast("int"), grid["crs"],
    )


def geographic_grid_from_bbox(bbox: Column, cell_size, snap: bool = True, crs="EPSG:4326") -> Column:
    """Target-grid derivation from a bbox (raster_geometry.py:758-796):
    rows/cols = max(trunc(extent/cs), 1); with ``snap`` the origin is
    pulled onto the cell lattice via trunc-toward-ZERO (the reference
    uses Python int(), NOT floor — negative origins differ,
    raster_geometry.py:779-782)."""
    cs = _col(cell_size).cast("double")
    width = bbox["xmax"] - bbox["xmin"]
    height = bbox["ymax"] - bbox["ymin"]
    rows = F.greatest((height / cs).cast("long"), F.lit(1).cast("long")).cast("int")
    cols = F.greatest((width / cs).cast("long"), F.lit(1).cast("long")).cast("int")
    if snap:
        y0 = (bbox["ymax"] / cs).cast("long").cast("double") * cs
        x0 = (bbox["xmin"] / cs).cast("long").cast("double") * cs
    else:
        y0, x0 = bbox["ymax"], bbox["xmin"]
    return grid_struct(x0, y0, cs, -cs, rows, cols, crs)


GRID_JSON_SCHEMA = ("struct<x_origin:double, y_origin:double, cell_width:double, "
                    "cell_height:double, rows:int, cols:int, crs:string>")


def grid_to_json(grid: Column) -> Column:
    """RasterGrid.to_dict serialization (raster_grid.py:1044-1072) as a
    JSON string column."""
    return F.to_json(grid)


def grid_from_json(js) -> Column:
    """RasterGeometry.from_dict parse (raster_geometry.py:943-1044,
    'grid' variant) — fixed StructType, malformed input → NULL struct."""
    return F.from_json(_col(js), GRID_JSON_SCHEMA)


def merge_grids_agg(grid: Column) -> list[Column]:
    """Aggregate expressions for RasterGrid.merge (raster_grid.py:324-348):
    union bbox + min cell size. Use inside .agg(*merge_grids_agg(col))
    then rebuild with ``merged_grid_from_agg``."""
    bb = grid_bbox(grid)
    return [
        F.min(bb["xmin"]).alias("_xmin"), F.min(bb["ymin"]).alias("_ymin"),
        F.max(bb["xmax"]).alias("_xmax"), F.max(bb["ymax"]).alias("_ymax"),
        F.min(grid["cell_width"]).alias("_cw"), F.max(grid["cell_height"]).alias("_ch"),
        F.first(grid["crs"]).alias("_crs"),
    ]


def merged_grid_from_agg() -> Column:
    cw, ch = F.col("_cw"), F.col("_ch")
    return grid_struct(
        F.col("_xmin"), F.col("_ymax"), cw, ch,
        F.ceil((F.col("_ymax") - F.col("_ymin")) / -ch).cast("int"),
        F.ceil((F.col("_xmax") - F.col("_xmin")) / cw).cast("int"),
        F.col("_crs"),
    )
