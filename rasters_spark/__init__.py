"""rasters_spark — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query semantics of the single-node ``rasters`` toolkit
(reference: /root/reference, studied for behavior only) as lazy Catalyst
plans over DataFrames of image tiles:

- a *raster* is a row in a tiles table ``(image_id, bytes, w, h, fmt,
  caption, phash)`` plus a derived grid-descriptor struct column;
- grid/cell math (point→cell, bbox→window, subset/buffer/shift) is pure
  Spark SQL column arithmetic — zero UDFs (see ``grid.py``);
- spatial predicates reduce to equi-joins on hierarchical cell ids
  (``cells.py``) with residual refinement, broadcast for small sides;
- point reads decode in the JVM; whole-tile pixel kernels run as
  ``mapInArrow`` stages over ``codec.decode_grouped`` through the one
  runner ``tiles.map_groups`` — the resample, ``tile_stats`` and focal
  strip kernels once per (w, h, fmt) decode group, the rest per tile
  through ``tiles.map_tiles`` (halo operators through
  ``operators.focal.map_halo`` on top of it) — no per-row Python
  anywhere (``codec.py``, ``tiles.py``, ``operators/``).
"""

__version__ = "0.1.0"

from rasters_spark.session import get_spark  # noqa: F401
