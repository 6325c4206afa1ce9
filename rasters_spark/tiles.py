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
  :func:`map_tiles`: one mapInArrow whose batches decode through
  ``codec.decode_grouped`` — operators write only the per-tile numpy
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
    return tiles.withColumn("cell_id", F.explode(cells.cells_for_bbox(F.col("bbox"), level)))


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


def _arrow_types(schema: StructType):
    return [to_arrow_type(f.dataType) for f in schema.fields]


def _concat(parts, typ):
    """Per-tile column parts → one Arrow array. Numeric parts are numpy
    arrays, the rest Python sequences; NaN becomes NULL (the pandas
    conversion rule the Arrow kernels always had)."""
    import pyarrow as pa

    if isinstance(parts[0], np.ndarray):
        return pa.array(np.concatenate(parts), type=typ, from_pandas=True)
    return pa.array([v for p in parts for v in p], type=typ, from_pandas=True)


def map_tiles(src: DataFrame, kernel, schema: str,
              keep: tuple[str, ...] = ("image_id",),
              meta: tuple[str, ...] = ()) -> DataFrame:
    """The one whole-tile kernel runner: ONE mapInArrow over ``src``
    (which carries ``image_id, bytes, w, h, fmt``). Each Arrow batch
    decodes through ``codec.decode_grouped`` with ``image_id`` as ids
    (a bad blob fails naming its image_id) and every tile is handed to
    ``kernel(pixels, h, w, *meta values)``. ``pixels`` may be a
    read-only view: kernels never write into it. The kernel returns the
    columns of the DDL ``schema`` that are not in ``keep``, in schema
    order, as equal-length sequences — one output row per element,
    zero rows allowed; the ``keep`` columns are copied from the tile's
    input row and cast to the schema. Rows come out in input tile
    order."""
    out = StructType.fromDDL(schema)
    types = _arrow_types(out)
    made = {n: j for j, n in enumerate(n for n in out.names if n not in keep)}
    src = src.select(*dict.fromkeys((*keep, "image_id", "bytes", "w", "h", "fmt", *meta)))

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            metas = [batch.column(c).to_pylist() for c in meta]
            got = [None] * batch.num_rows
            for pos, ww, hh, _, pix in codec.decode_grouped(
                    *(batch.column(c).to_numpy(zero_copy_only=False)
                      for c in ("bytes", "w", "h", "fmt", "image_id"))):
                for k, i in enumerate(pos):
                    got[i] = kernel(pix[k], hh, ww, *(m[i] for m in metas))
            rows = [i for i in range(batch.num_rows) if len(got[i][0])]
            if not rows:
                continue
            take = pa.array(np.repeat(rows, [len(got[i][0]) for i in rows]))
            yield pa.RecordBatch.from_arrays(
                [batch.column(n).take(take).cast(t) if n in keep else
                 _concat([got[i][made[n]] for i in rows], t)
                 for n, t in zip(out.names, types)],
                names=out.names)

    return src.mapInArrow(run, schema=out)


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
