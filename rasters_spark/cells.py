"""Hierarchical global cell index — the engine's spatial join key.

H3/S2-style but hand-rolled on a lat/lon quad hierarchy so that the whole
index is closed-form integer math: pure Spark SQL (codegen'd JVM-side,
foldable, pushdown-friendly) and byte-for-byte reproducible in the DuckDB
oracle. No UDFs anywhere in this module.

Scheme: at level ``L`` the cell size is ``180/2**L`` degrees; the world is
``2·2**L × 2**L`` cells. A cell id packs ``(level, iy, ix)`` into an
int64: ``(L << 56) | (iy << 28) | ix`` (valid for L ≤ 26).

Scale notes (100 TB / 10^12 tiles):
- the id is the shuffle/partition key for every spatial join; parent/child
  arithmetic gives a free two-level coarse/fine scheme for skew splitting;
- tiles *register* into every cell their footprint bbox covers
  (``cells_for_bbox`` — `sequence`+`transform`+`flatten`, exploded), so a
  point↔tile join is a pure equi-join on ``cell_id`` plus a residual bbox
  refinement — the idiomatic Spark reduction of a spatial theta-join;
- hot cells (the fixture injects 20% of tiles into one footprint per
  FIXTURES.md) are handled by salting (``point_in_tile_join(n_salts=S)``):
  the big side takes ``pmod(hash(id), S)``, the small side explodes all
  S salts. AQE skew-join splitting is ALSO enabled in session.py;
  salting covers the pathological single-key case AQE can't split below
  task granularity.

All math is SQL text rendered once (``*_sql``, cached on their
parameters) and applied via ``F.expr``/``selectExpr``: the Spark plan and
the DuckDB oracles read the same characters, and a plan costs one parse,
not a Column tree of py4j round trips (``cells_for_bbox`` took 82–165 ms
that way before any DataFrame existed).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column
from pyspark.sql import functions as F

from rasters_spark.grid import double_sql, sql_text, struct_sql

LEVEL_SHIFT = 56
IY_SHIFT = 28


def cell_size_deg(level: int) -> float:
    return 180.0 / (1 << level)


@lru_cache(maxsize=None)
def _ix_sql(lon: str, level: int) -> str:
    """lon → x cell index, clamped to [0, 2·2^L − 1]."""
    size = double_sql(cell_size_deg(level))
    return f"greatest(0, least({2 * (1 << level) - 1}, cast(floor((({lon}) + 180.0E0) / {size}) as bigint)))"


@lru_cache(maxsize=None)
def _iy_sql(lat: str, level: int) -> str:
    """lat → y cell index (north→south, like raster rows), clamped."""
    size = double_sql(cell_size_deg(level))
    return f"greatest(0, least({(1 << level) - 1}, cast(floor((90.0E0 - ({lat})) / {size}) as bigint)))"


def _pack_sql(level: int, iy: str, ix: str) -> str:
    return f"({level} * {1 << LEVEL_SHIFT} + ({iy}) * {1 << IY_SHIFT} + ({ix}))"


@lru_cache(maxsize=None)
def cell_id_sql(lon_expr: str, lat_expr: str, level: int) -> str:
    """(lon, lat) SQL text → the int64 cell id at ``level`` as ANSI-SQL
    text — the one form, shared verbatim by :func:`cell_id` and the
    DuckDB oracles."""
    return _pack_sql(level, _iy_sql(lat_expr, level), _ix_sql(lon_expr, level))


def cell_id(lon, lat, level: int) -> Column:
    """(lon, lat) → int64 cell id at ``level``: ``F.expr`` of
    :func:`cell_id_sql` (SQL text or Columns, ``grid.sql_text``)."""
    return F.expr(cell_id_sql(sql_text(lon), sql_text(lat), level))


def _unpack_sql(cid: str) -> tuple[str, str]:
    """(iy, ix) text of a cell id — pure integer ops: ids exceed 2^53,
    double division would lose bits."""
    return (f"pmod(shiftright({cid}, {IY_SHIFT}), {1 << (LEVEL_SHIFT - IY_SHIFT)})",
            f"pmod({cid}, {1 << IY_SHIFT})")


def parent(cid, level: int, parent_level: int) -> Column:
    """Coarser ancestor — two-level partitioning for skew splitting."""
    shift = level - parent_level
    iy, ix = _unpack_sql(sql_text(cid))
    return F.expr(_pack_sql(parent_level, f"shiftright({iy}, {shift})", f"shiftright({ix}, {shift})"))


def bbox_fields(bbox) -> tuple[str, str, str, str]:
    """(xmin, ymin, xmax, ymax) SQL text of a bbox struct argument."""
    b = struct_sql(bbox)
    return tuple(f"{b}.{f}" for f in ("xmin", "ymin", "xmax", "ymax"))


@lru_cache(maxsize=None)
def _rect_sql(lo_y: str, hi_y: str, lo_x: str, hi_x: str, level: int, wrap: bool = False) -> str:
    """Every cell of the index rectangle [lo_y..hi_y]×[lo_x..hi_x] →
    array<long> text (``sequence`` → ``transform`` → ``flatten``);
    ``wrap`` takes x modulo the world width."""
    ix = f"pmod(_cix, {2 * (1 << level)})" if wrap else "_cix"
    return (f"flatten(transform(sequence({lo_y}, {hi_y}), _ciy -> "
            f"transform(sequence({lo_x}, {hi_x}), _cix -> {_pack_sql(level, '_ciy', ix)})))")


@lru_cache(maxsize=None)
def cells_for_bbox_sql(xmin: str, ymin: str, xmax: str, ymax: str, level: int) -> str:
    """SQL text of every cell id whose footprint intersects the bbox
    (y axis north→south: ymax → the smaller iy)."""
    return _rect_sql(_iy_sql(ymax, level), _iy_sql(ymin, level),
                     _ix_sql(xmin, level), _ix_sql(xmax, level), level)


def cells_for_bbox(bbox, level: int) -> Column:
    """All cell ids whose footprint intersects bbox → array<long>.

    Pure higher-order-function SQL (sequence → transform → flatten):
    no UDF, no explode yet — caller explodes. Cost is O(cells covered);
    choose ``level`` so typical footprints cover O(1..10) cells.
    ``bbox`` is a struct column name or a Column (``grid.sql_text``).
    """
    return F.expr(cells_for_bbox_sql(*bbox_fields(bbox), level))


def cells_for_bbox_am(bbox, level: int) -> Column:
    """Antimeridian-aware cell registration: a WRAPPED bbox (the
    reference's crossing convention, raster_geometry.py:512-516 —
    ``x_min`` on the east side of the seam is positive, ``x_max``
    negative, so ``xmin > xmax``) splits into [xmin, 180] ∪ [-180, xmax]
    instead of spanning the world. A seam-straddling footprint thus
    registers O(1) cells, not O(world) (VERDICT r01 missing #6).
    Non-wrapped bboxes pass through to ``cells_for_bbox``."""
    x0, y0, x1, y1 = bbox_fields(bbox)
    east = cells_for_bbox_sql(x0, y0, "180.0E0", y1, level)
    west = cells_for_bbox_sql("-180.0E0", y0, x1, y1, level)
    return F.expr(f"CASE WHEN {x0} > {x1} THEN array_distinct(concat({east}, {west})) "
                  f"ELSE {cells_for_bbox_sql(x0, y0, x1, y1, level)} END")


@lru_cache(maxsize=None)
def ring_cells_sql(cid: str, level: int, ring: int) -> str:
    """SQL text of :func:`ring_cells`."""
    nx, ny = 2 * (1 << level), 1 << level
    iy, ix = _unpack_sql(cid)
    cell = _pack_sql(level, f"greatest(0, least({ny - 1}, {iy} + _cdy))", f"pmod({ix} + _cdx, {nx})")
    return (f"array_distinct(flatten(transform(sequence({-ring}, {ring}), _cdy -> "
            f"transform(sequence({-ring}, {ring}), _cdx -> {cell}))))")


def ring_cells(cid, level: int, ring: int) -> Column:
    """Chebyshev-ring neighborhood of a cell (incl. itself) → array<long>.

    Longitude wraps (pmod); latitude clamps then dedups via array_distinct.
    Drives kNN candidate generation (cell-ring expansion, SURVEY §2.3).
    """
    return F.expr(ring_cells_sql(sql_text(cid), level, ring))


@lru_cache(maxsize=None)
def ring_cells_bbox_sql(xmin: str, ymin: str, xmax: str, ymax: str,
                        level: int, ring: int) -> str:
    """SQL text of :func:`ring_cells_bbox`."""
    nx, ny = 2 * (1 << level), 1 << level
    ix0 = _ix_sql(xmin, level)
    # a wrapped bbox unwraps its x range by one world width
    ix1 = f"{_ix_sql(xmax, level)} + IF({xmin} > {xmax}, {nx}, 0)"
    lo_x = f"{ix0} - {ring}"
    return _rect_sql(f"greatest(0, {_iy_sql(ymax, level)} - {ring})",
                     f"least({ny - 1}, {_iy_sql(ymin, level)} + {ring})",
                     lo_x,
                     # never wrap past a full circle
                     f"least({ix1} + {ring}, {lo_x} + {nx - 1})",
                     level, wrap=True)


def ring_cells_bbox(bbox, level: int, ring: int) -> Column:
    """Union of Chebyshev-``ring`` neighborhoods around EVERY cell a
    bbox covers → array<long> of DISTINCT cells, generated directly as
    the padded index rectangle (round-6 kNN optimization).

    ``cells_for_bbox`` covers the contiguous clamped range
    [iy0..iy1]×[ix0..ix1]; the union of rings around those cells is
    exactly [iy0−R..iy1+R]×[ix0−R..ix1+R] with latitude clamped and
    longitude wrapped — so generating the padded rectangle yields the
    identical candidate set as exploding per-cell rings, WITHOUT the
    ~4× duplicate rows a multi-cell footprint produces (adjacent cells'
    rings overlap). Distinctness is by construction: each iy appears
    once, and the ix sequence is capped at nx values before the pmod
    wrap.

    A wrapped bbox (``xmin > xmax``, the ``cells_for_bbox_am`` seam
    convention) unwraps its x range by one world width, so the result
    is the ring union over ``cells_for_bbox_am``'s two-sided
    registration — Spark's ``sequence`` would otherwise descend and
    yield the cells BETWEEN the seam sides."""
    return F.expr(ring_cells_bbox_sql(*bbox_fields(bbox), level, ring))


# --- Z-order (Morton) ids: file-level spatial clustering ----------------------
#
# The (level, iy, ix) packing above is the JOIN key; its row-major layout
# gives contiguous id ranges only along x. For DATA LAYOUT at 10^12 rows
# — sorting/bucketing the tile table so parquet/Iceberg min-max stats
# prune spatial range scans — interleave the bits instead: Morton order
# keeps any 2-D neighborhood inside O(1) short id ranges (the same
# trick as Delta/Iceberg Z-ORDER clustering). Pure integer magic-mask
# math → identical in Spark SQL and the DuckDB oracle, no UDFs.

_SPREAD_MASKS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


@lru_cache(maxsize=None)
def z_cell_id_sql(lon_expr: str, lat_expr: str, level: int) -> str:
    """(lon, lat) SQL text → the Morton-interleaved cell id at ``level``
    as ANSI-SQL text, shared verbatim by :func:`z_cell_id` and the DuckDB
    oracle: ``(level << 57) | interleave(iy, ix)`` (x in even bits, y in
    odd; 56 interleaved bits + 5 level bits fit a signed int64)."""
    def spread(e: str) -> str:
        # spread the low 28 bits into the even bit positions (classic
        # magic-mask bit dilation, public domain)
        for shift, mask in _SPREAD_MASKS:
            e = f"((({e}) << {shift} | ({e})) & {mask})"
        return e

    return (f"({level} * {1 << 57} + (({spread(_iy_sql(lat_expr, level))}) << 1 | "
            f"{spread(_ix_sql(lon_expr, level))}))")


def z_cell_id(lon, lat, level: int) -> Column:
    """(lon, lat) → Morton id at ``level``: ``F.expr`` of
    :func:`z_cell_id_sql` (``lon``/``lat`` as in :func:`cell_id`)."""
    return F.expr(z_cell_id_sql(sql_text(lon), sql_text(lat), level))


# --- XYZ (slippy-map) tiles: the Web-Mercator pyramid scheme ------------------
#
# The de-facto web tiling standard (OSM/Google "z/x/y"): zoom z splits
# the EPSG:3857 square into 2^z × 2^z tiles. Pairs with the
# functions.crs Web-Mercator kernel for rendering pyramids; as a JOIN
# key it is an alternative quad hierarchy whose y axis is conformal
# (Mercator) instead of equirectangular. Pure SQL — the formula TEXT is
# shared verbatim between the Spark expression and the DuckDB oracle
# (CLAUDE.md parity rule for transcendental-bearing expressions).

#: Web-Mercator clip latitude: atan(sinh(pi)) — tiles exist only inside
WEBMERC_LAT_MAX = 85.05112877980659


def xyz_tile_sql(lon_expr: str, lat_expr: str, z: int) -> tuple[str, str]:
    """SQL text for ``struct/row (xtile, ytile)`` at zoom ``z`` —
    identical characters fed to Spark and DuckDB so both engines
    evaluate the same ln/tan expression tree."""
    n = 1 << z
    x = f"cast(floor((({lon_expr}) + 180.0) / 360.0 * {n}) as bigint)"
    mercfrac = (f"(1.0 - ln(tan(radians({lat_expr})) + 1.0 / cos(radians({lat_expr}))) "
                f"/ pi()) / 2.0")
    y = f"cast(floor({mercfrac} * {n}) as bigint)"
    # the +180/-180 seam and the poles clamp into the edge tiles
    xc = f"least(greatest({x}, 0), {n - 1})"
    yc = f"least(greatest({y}, 0), {n - 1})"
    return xc, yc


def xyz_tile(lon, lat, z: int) -> tuple[Column, Column]:
    """(xtile, ytile) columns at zoom ``z`` (OSM slippy-map scheme)."""
    assert isinstance(lon, str) and isinstance(lat, str), \
        "xyz_tile takes column NAMES so the SQL text can be shared with the oracle"
    xs, ys = xyz_tile_sql(lon, lat, z)
    return F.expr(xs), F.expr(ys)
