"""Tile/point/polygon table loaders — fixture parquet → engine DataFrames.

Engine-wide conventions:
- a tile row = one raster: pixel block in ``bytes`` + grid descriptor
  struct ``grid`` (grid.rows = h, grid.cols = w — ~1°×1° footprints);
- nodata crosses the relational boundary as SQL ``NULL`` (Spark-native
  null discipline ≙ the reference's NaN propagation, raster.py:97-104);
  NaN exists only inside Arrow pixel kernels;
- spatial join key = ``cell_id`` (cells.py); tiles register into every
  covered cell via ``explode(cells_for_bbox)`` — at 10^12 rows this is
  the partition key the table would be written bucketed/z-ordered by,
  giving Iceberg/Parquet min-max pruning on cell ranges for free;
- every whole-tile pixel kernel runs through ONE runner,
  :func:`map_groups`: one mapInArrow whose batches decode through
  ``codec.decode_grouped``, with a kernel per (w, h, fmt) decode group
  (resample's candidate and cell-binning kernels, ``tile_stats``, the
  focal strip cutter) or, through :func:`map_tiles`, per tile (the
  raster→raster kernels, the multimodal resizes, the PNG/JPEG/GeoTIFF
  encoders); band stacks (``operators/bands.py``) run beside it on
  :func:`map_stacks`, one grouped applyInArrow per ``stack_id`` that
  decodes through the same decoder — operators write only the numpy
  kernel, never a decode loop.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType

from rasters_spark import cells, codec, fixtures, grid

#: raster→raster kernels keep these input columns and replace the
#: pixels with one raw grid (``raw_tile``), giving ``TILE_SCHEMA``.
TILE_KEEP = ("image_id", "x_origin", "y_origin", "cell_width",
             "cell_height", "crs", "w", "h")
TILE_SCHEMA = ("image_id string, x_origin double, y_origin double, "
               "cell_width double, cell_height double, crs string, "
               "w int, h int, fmt string, bytes binary")


def with_grid(df: DataFrame) -> DataFrame:
    """Attach the derived ``grid``/``bbox`` structs to any tile-shaped
    DataFrame (flat x_origin/y_origin/cell_width/cell_height/w/h/crs
    columns) — pure projection, re-derivable after any tile transform
    that strips them (e.g. rastermath.astype_tiles)."""
    g = grid.grid_struct("x_origin", "y_origin", "cell_width", "cell_height", F.col("h"), F.col("w"), "crs")
    df = df.withColumn("grid", g)
    return df.withColumn("bbox", grid.grid_bbox(F.col("grid")))


def load_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    fdir = fixtures.ensure_fixtures(sf_dir)
    return with_grid(spark.read.parquet(str(fdir / "tiles.parquet")))


def tiles_with_cells(tiles: DataFrame, level: int = fixtures.CELL_LEVEL) -> DataFrame:
    """Register each tile into every cell its footprint covers."""
    cover = cells.cells_for_bbox_sql(*cells.bbox_fields("bbox"), level)
    return tiles.selectExpr("*", f"explode({cover}) AS cell_id")


def open_tiles(spark: SparkSession, path: str) -> DataFrame:
    """Multi-driver tile open, mirroring the reference's extension
    dispatch in Raster.open (raster.py:634-771): ``.parquet`` →
    columnar scan, ``.nc`` (or a directory of them) → the classic
    NetCDF-3 ingest driver (functions/netcdf3.py). Either way the
    result is the engine tile table with grid/bbox attached."""
    from pathlib import Path

    p = Path(path)
    if p.suffix == ".parquet":
        return with_grid(spark.read.parquet(path))
    if p.suffix == ".nc" or (p.is_dir() and any(p.glob("*.nc"))):
        from rasters_spark.functions import netcdf3

        return with_grid(netcdf3.load_netcdf_tiles(spark, path))
    raise ValueError(f"no ingest driver for {path!r} (parquet / classic NetCDF-3)")


def load_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    fdir = fixtures.ensure_fixtures(sf_dir)
    return spark.read.parquet(str(fdir / "points.parquet"))


def load_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    fdir = fixtures.ensure_fixtures(sf_dir)
    return spark.read.parquet(str(fdir / "polygons.parquet"))


def load_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Independently materialized decoded pixels (oracle-parity table)."""
    fdir = fixtures.ensure_fixtures(sf_dir)
    return spark.read.parquet(str(fdir / "pixels.parquet"))


def _flat(parts):
    """Column parts → one column: numpy parts concatenate, the rest
    (Python sequences) flatten into one list."""
    if isinstance(parts[0], np.ndarray):
        return np.concatenate(parts)
    return [v for p in parts for v in p]


def _group_batch(batch, kernel, out: StructType, keep, meta):
    """One Arrow batch through :func:`map_groups`' kernel → one
    ``RecordBatch`` in input-row order (None when no rows come out)."""
    import pyarrow as pa

    parts = []
    for pos, ww, hh, _, pix in codec.decode_grouped(
            *(batch.column(c).to_numpy(zero_copy_only=False)
              for c in ("bytes", "w", "h", "fmt", "image_id"))):
        at = pa.array(pos)
        got = kernel(pos, pix, hh, ww, *(batch.column(c).take(at) for c in meta))
        if len(got[0]):
            parts.append(got)
    if not parts:
        return None
    rows, *made = zip(*parts)
    rows = np.concatenate(rows)
    take, made = pa.array(rows), iter(made)
    cols = []
    for f in out.fields:
        t = to_arrow_type(f.dataType)
        # NaN becomes NULL: the pandas conversion rule the kernels always had
        cols.append(batch.column(f.name).take(take).cast(t) if f.name in keep else
                    pa.array(_flat(next(made)), type=t, from_pandas=True))
    rb = pa.RecordBatch.from_arrays(cols, names=out.names)
    if (np.diff(rows) < 0).any():
        rb = rb.take(pa.array(np.argsort(rows, kind="stable")))
    return rb


def map_groups(src: DataFrame, kernel, schema: str,
               keep: tuple[str, ...] = ("image_id",),
               meta: tuple[str, ...] = ()) -> DataFrame:
    """The one whole-tile runner: ONE mapInArrow over ``src`` (which
    carries ``image_id, bytes, w, h, fmt``). Each Arrow batch decodes
    once through ``codec.decode_grouped`` with ``image_id`` as ids (a
    bad blob fails naming its image_id), and every (w, h, fmt) decode
    group is handed to ``kernel(pos, pixels, h, w, *meta)``: ``pos``
    are the group's batch rows (ascending), ``pixels`` their
    ``(len(pos), h, w)`` decode (possibly a read-only view — never
    write into it) and each ``meta`` column comes as the Arrow array of
    its values at ``pos``.

    The kernel returns ``(rows, *columns)``: ``rows`` is the batch row
    of each output row (any order, repeats allowed) and ``columns`` are
    the DDL ``schema``'s columns not in ``keep``, in schema order, as
    numpy arrays or sequences of ``len(rows)`` (with zero rows the
    columns are not read). The ``keep`` columns are taken from the
    input rows and cast to the schema; NaN becomes NULL. Each batch
    yields one RecordBatch, ordered by input row (a row's own outputs
    keep the kernel's order).

    ``sample.sample_idw`` decodes through ``codec.decode_grouped`` on its
    own: its output rows are the flattened point structs of each tile,
    not tile rows. So does ``rastermath._decode_b``, the second tile of
    a pair."""
    out = StructType.fromDDL(schema)
    src = src.select(*dict.fromkeys((*keep, "image_id", "bytes", "w", "h", "fmt", *meta)))

    def run(batches):
        for batch in batches:
            rb = _group_batch(batch, kernel, out, keep, meta)
            if rb is not None:
                yield rb

    return src.mapInArrow(run, schema=out)


def map_tiles(src: DataFrame, kernel, schema: str,
              keep: tuple[str, ...] = ("image_id",),
              meta: tuple[str, ...] = ()) -> DataFrame:
    """:func:`map_groups` one tile at a time: every tile is handed to
    ``kernel(pixels, h, w, *meta values)`` (``pixels`` may be a
    read-only view; the meta values are Python scalars). The kernel
    returns the columns of ``schema`` that are not in ``keep``, in
    schema order, as equal-length sequences — one output row per
    element, zero rows allowed; the ``keep`` columns are copied from the
    tile's input row. Rows come out in input tile order."""
    def per_tile(pos, pix, h, w, *metas):
        metas = [m.to_pylist() for m in metas]
        rows, got = [], []
        for k, i in enumerate(pos):
            g = kernel(pix[k], h, w, *(m[k] for m in metas))
            if len(g[0]):
                rows += [i] * len(g[0])
                got.append(g)
        return (np.array(rows, dtype=np.int64), *(_flat(c) for c in zip(*got)))

    return map_groups(src, per_tile, schema, keep, meta)


def map_stacks(stacked: DataFrame, n: int, kernel, schema: str) -> DataFrame:
    """The band-stack runner beside :func:`map_groups`: ONE
    ``groupBy("stack_id").applyInArrow`` over ``stacked`` (which carries
    ``stack_id, band, image_id, bytes, w, h, fmt``). Only complete
    stacks run — exactly ``n`` rows, the oracles' ``HAVING count(*) =
    n``. A stack's rows are put in ``band`` order and decode through
    ``codec.decode_grouped`` with ``image_id`` as ids (a bad blob fails
    naming its image_id); tiles that differ in ``(w, h)`` fail naming
    the ``stack_id``.

    ``kernel(pixels, bands)`` gets the band-ordered float64 ``(n, h, w)``
    stack and the sorted ``band`` values, and returns the DDL
    ``schema``'s columns after its leading ``stack_id``, as equal-length
    numpy arrays or sequences (zero rows allowed); NaN becomes NULL."""
    import pyarrow as pa

    out = StructType.fromDDL(schema)
    types = [to_arrow_type(f.dataType) for f in out.fields]
    empty = pa.schema(list(zip(out.names, types))).empty_table()

    def run(key, table):
        if table.num_rows != n:
            return empty
        t = table.sort_by("band")
        ws, hs = (t.column(c).to_numpy() for c in ("w", "h"))
        if (ws != ws[0]).any() or (hs != hs[0]).any():
            raise ValueError(f"stack_id {key[0].as_py()}: tiles differ in (w, h)")
        pix = np.empty((n, hs[0], ws[0]))
        for pos, _, _, _, p in codec.decode_grouped(
                *(t.column(c).to_numpy() for c in ("bytes", "w", "h", "fmt", "image_id"))):
            pix[pos] = p
        made = kernel(pix, t.column("band").to_numpy())
        sid = pa.array(np.full(len(made[0]), key[0].as_py(), np.int64), types[0])
        return pa.table([sid, *(pa.array(c, type=ty, from_pandas=True)
                                for c, ty in zip(made, types[1:]))], names=out.names)

    return (stacked.select("stack_id", "band", "image_id", "bytes", "w", "h", "fmt")
            .groupBy("stack_id").applyInArrow(run, schema=out))


def raw_tile(values: np.ndarray):
    """A raster→raster kernel's one output row (``fmt``, ``bytes``):
    the grid as a raw float32 blob."""
    return ["raw"], [values.astype(np.float32).tobytes()]


def cell_rows(mask: np.ndarray, *grids: np.ndarray):
    """A per-cell kernel's output columns: ``prow``, ``pcol`` (int32)
    of every ``mask`` cell in row-major order, then each grid's value
    there."""
    rows, cols = np.nonzero(mask)
    return (rows.astype(np.int32), cols.astype(np.int32),
            *(g[rows, cols] for g in grids))
