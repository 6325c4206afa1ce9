"""Plan guards for the point-sampling operators.

- Codegen: under ``spark.sql.codegen.fallback=false`` a whole-stage
  method that janino cannot compile fails the query instead of running
  the stage interpreted behind an ``ERROR CodeGenerator`` log line, so
  an oversized decode expression fails here.
- Plan build: the py4j commands issued while building each plan (no
  action) stay bounded, so Python-built Column trees and ``withColumn``
  chains — several driver round trips per node — do not creep back.
"""

from __future__ import annotations

import gc
from contextlib import contextmanager

import pytest

from rasters_spark.datapipe import multimodal
from rasters_spark.operators import knn, point_join, rastermath as rm, sample
from rasters_spark.tiles import load_points, load_tiles, with_grid

SF = "/root/testdata/sf0.001"
OUT = ("point_id", "image_id", "prow", "pcol", "value", "caption")


def _nearest(t, p):
    return sample.sample_nearest(point_join.point_in_tile_join(p, t)).select(*OUT)


def _grouped(t, p):
    j = point_join.point_in_tile_join(p, t, payload_cols=())
    return sample.sample_nearest_grouped(j, t).select(*OUT)


def _idw(t, p):
    j = point_join.point_in_tile_join(p, t).select("point_id", "image_id", "x", "y")
    return sample.sample_idw(j, tiles=t).select("point_id", "image_id", "value")


def _knn(t, p):
    return knn.knn_tiles(p, t, k=3, ring=2)


OPS = {"nearest": _nearest, "nearest_grouped": _grouped, "idw": _idw, "knn": _knn}

#: ~1.5x the non-memory py4j commands measured when the plans were
#: rebuilt from SQL text (nearest 155, nearest_grouped 196, idw 208,
#: knn 56); the Column-tree plans before took 1,094 / 1,179 / 1,742 / 1,250
MAX_COMMANDS = {"nearest": 233, "nearest_grouped": 294, "idw": 312, "knn": 84}


@pytest.fixture(scope="module")
def inputs(spark):
    return load_tiles(spark, SF), load_points(spark, SF)


@contextmanager
def _no_codegen_fallback(spark):
    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


@pytest.mark.parametrize("name", OPS)
def test_point_sampling_compiles(spark, inputs, name):
    """collect(), not count(): every output column stays in the plan, so
    the pixel decode is compiled too."""
    with _no_codegen_fallback(spark):
        assert len(OPS[name](*inputs).collect()) > 0


@pytest.mark.parametrize("fmt,kernel", [("i32", rm.mul(4.0)), ("b1", rm.gt(0.0))])
def test_int_tile_nearest_compiles(spark, inputs, fmt, kernel):
    t, p = inputs
    it = with_grid(rm.astype_tiles(t.filter("fmt = 'raw'"), fmt, kernel))
    with _no_codegen_fallback(spark):
        rows = _nearest(it, p).collect()
    assert rows and {r.value for r in rows if r.value is not None} - {None}


def test_resize_bilinear_long_compiles(spark, inputs):
    t = inputs[0].filter("image_id < 'img000000000020'")
    with _no_codegen_fallback(spark):
        assert len(multimodal.resize_bilinear_long(t, 8, 8).collect()) == 20 * 64


def test_nearest_null_filter_compiles(spark, inputs):
    """A filter on the decoded value is pushed below the decode
    projections, which inlines the whole decode into one filter method;
    with the 4x-hex decode that method failed to compile and the stage
    ran interpreted (the ``sample.null_share`` layer of perfbench)."""
    j = point_join.point_in_tile_join(inputs[1], inputs[0]).localCheckpoint()
    with _no_codegen_fallback(spark):
        sample.sample_nearest(j).filter("value IS NULL").count()


def _plan_commands(spark, build) -> int:
    """py4j commands sent while ``build()`` runs, less the memory
    (object release) commands, which follow Python's GC, not the plan."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = 0

    def counting(command, *args, **kwargs):
        nonlocal n
        n += not command.startswith("m\n")
        return send(command, *args, **kwargs)

    gc.collect()
    gc.disable()
    client.send_command = counting
    try:
        build()
    finally:
        del client.send_command
        gc.enable()
    return n


@pytest.mark.parametrize("name", OPS)
def test_plan_build_py4j_commands_bounded(spark, inputs, name):
    OPS[name](*inputs)  # first build fills the SQL-text caches
    n = _plan_commands(spark, lambda: OPS[name](*inputs))
    assert n <= MAX_COMMANDS[name], (name, n)
