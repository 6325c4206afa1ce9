"""The one whole-tile runner, ``tiles.map_groups``: one kernel call per
(w, h, fmt) decode group, ``keep`` columns taken by the returned rows,
NaN → NULL, output in input-row order; the band-stack runner
``tiles.map_stacks`` beside it — and the design guards that no other
module keeps its own batch → decode → kernel loop."""

import ast
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.types import StructType

from rasters_spark import codec
from rasters_spark.tiles import _group_batch, map_groups, map_stacks, map_tiles

ROOT = Path(__file__).resolve().parent.parent

#: (w, h, fmt) per row: four decode groups, interleaved
SHAPES = [(4, 3, "raw"), (2, 2, "q8"), (4, 3, "raw"), (3, 5, "b1"),
          (2, 2, "q8"), (2, 2, "i32"), (4, 3, "raw")]
SCHEMA = "image_id string, label string, n long, v double"


def _batch():
    rng = np.random.default_rng(7)
    ids, blobs = [], []
    for i, (w, h, fmt) in enumerate(SHAPES):
        arr = (rng.integers(0, 40, size=(h, w)) * 0.25).astype(np.float32)
        if fmt == "b1":
            arr = (arr > 5).astype(np.float32)
        elif fmt == "i32":
            arr = np.rint(arr)
        ids.append(f"t{i}")
        blobs.append(codec.encode_tile(arr, fmt))
    return pa.RecordBatch.from_arrays(
        [pa.array(ids), pa.array(blobs, pa.binary()),
         pa.array([s[0] for s in SHAPES], pa.int32()), pa.array([s[1] for s in SHAPES], pa.int32()),
         pa.array([s[2] for s in SHAPES]), pa.array([f"L{i}" for i in range(len(SHAPES))]),
         pa.array([10 * i for i in range(len(SHAPES))], pa.int64())],
        names=["image_id", "bytes", "w", "h", "fmt", "label", "tag"])


def _kernel(calls):
    """Tile i (tag 10·i) comes out i % 4 times, in DESCENDING row order inside the
    group; ``n`` numbers the copies and ``v`` is the tile's pixel sum,
    NaN on odd copies. The q8 group (rows 1, 4) returns zero rows."""
    def kernel(pos, pix, h, w, tag):
        calls.append((tuple(pos), h, w, pix.shape, tag.to_pylist()))
        if pix.dtype == np.float32 and h == 2:
            return np.array([], np.int64), np.array([], np.int64), np.array([])
        cnt = (np.array(tag.to_pylist()) // 10 % 4)[::-1]
        rows, k = np.repeat(pos[::-1], cnt), np.repeat(np.arange(len(pos))[::-1], cnt)
        rep = np.concatenate([np.arange(n) for n in cnt]).astype(np.int64)
        v = pix.reshape(len(pos), -1).sum(axis=1)[k].astype(np.float64)
        return rows, rep, np.where(rep % 2 == 1, np.nan, v)
    return kernel


def test_group_batch_calls_once_per_group_and_keeps_row_order(spark):
    batch, calls = _batch(), []
    out = _group_batch(batch, _kernel(calls), StructType.fromDDL(SCHEMA),
                       ("image_id", "label"), ("tag",))
    groups = {}
    for i, s in enumerate(SHAPES):
        groups.setdefault(s, []).append(i)
    assert len(calls) == len(groups) == 4
    for pos, h, w, shape, tags in calls:
        assert list(pos) in groups.values()
        assert shape == (len(pos), h, w)
        assert tags == [10 * i for i in pos]
    # rows 1, 4 (q8: zero rows) and 0 are absent, the rest repeat; the
    # groups come back i32, b1, raw — the output is in input-row order,
    # each row's copies in kernel order
    got = out.to_pydict()
    assert got["image_id"] == ["t2", "t2", "t3", "t3", "t3", "t5", "t6", "t6"]
    assert got["label"] == ["L2", "L2", "L3", "L3", "L3", "L5", "L6", "L6"]
    assert got["n"] == [0, 1, 0, 1, 2, 0, 0, 1]
    dec = {i: codec.decode_tile(b, w, h, f).astype(np.float64).sum()
           for i, (b, (w, h, f)) in enumerate(zip(batch.column("bytes").to_pylist(), SHAPES))}
    # NaN → NULL
    assert got["v"] == [dec[2], None, dec[3], None, dec[3], dec[5], dec[6], None]
    assert out.schema.field("n").type == pa.int64()


def test_group_batch_hands_the_decoded_pixels(spark):
    batch, seen = _batch(), {}

    def kernel(pos, pix, h, w):
        for k, i in enumerate(pos):
            seen[int(i)] = pix[k]
        return pos, np.zeros(len(pos), np.int64), np.zeros(len(pos))

    out = _group_batch(batch, kernel, StructType.fromDDL(SCHEMA), ("image_id", "label"), ())
    assert out.column("image_id").to_pylist() == [f"t{i}" for i in range(len(SHAPES))]
    for i, (w, h, fmt) in enumerate(SHAPES):
        np.testing.assert_array_equal(
            seen[i], codec.decode_tile(batch.column("bytes")[i].as_py(), w, h, fmt))


def test_group_batch_zero_rows(spark):
    batch = _batch()
    out = StructType.fromDDL(SCHEMA)
    calls = []

    def none(pos, pix, h, w):
        calls.append(pos)
        return (pos[:0],)

    assert _group_batch(batch, none, out, ("image_id", "label"), ()) is None
    assert len(calls) == 4
    assert _group_batch(batch.slice(0, 0), none, out, ("image_id", "label"), ()) is None
    assert len(calls) == 4  # an empty batch decodes no group


def test_map_groups_and_map_tiles_on_spark(spark):
    batch = _batch()
    df = spark.createDataFrame(batch.to_pandas())
    got = map_groups(df, _kernel([]), SCHEMA, ("image_id", "label"), ("tag",)).collect()
    assert [(r.image_id, r.n) for r in got] == [
        ("t2", 0), ("t2", 1), ("t3", 0), ("t3", 1), ("t3", 2), ("t5", 0), ("t6", 0), ("t6", 1)]
    assert [r.v is None for r in got] == [False, True, False, True, False, False, False, True]

    def per_tile(pix, h, w, label, ww):
        # map_tiles hands Python scalars, as it always has
        return [f"{type(label).__name__}/{type(ww).__name__}/{pix.shape}"] * (h % 3),

    rows = map_tiles(df, per_tile, "image_id string, s string", meta=("label", "w")).collect()
    want = [(f"t{i}", f"str/int/{(h, w)}") for i, (w, h, _) in enumerate(SHAPES)
            for _ in range(h % 3)]
    assert [(r.image_id, r.s) for r in rows] == want


STACK_COLS = "image_id string, bytes binary, w int, h int, fmt string, band int, stack_id long"


def _stack_rows(stack_id, values, fmt="raw", shape=(3, 2)):
    """One stack: band ``b`` is a ``shape`` tile filled with ``values[b]``."""
    h, w = shape
    return [(f"s{stack_id}b{b}", codec.encode_tile(np.full((h, w), v, np.float32), fmt),
             w, h, fmt, b, stack_id) for b, v in enumerate(values)]


def _firsts():
    """A stack kernel: one row per band, its band value and its first pixel."""
    def kernel(pix, bands):
        return bands.astype(np.int32), pix[:, 0, 0]
    return kernel


def test_map_stacks_band_order_and_complete_stacks(spark):
    rows = _stack_rows(0, [1.0, 2.0, 3.0]) + _stack_rows(1, [5.0, 6.0, 7.0]) \
        + _stack_rows(2, [8.0, 9.0])  # stack 2 is incomplete: it emits nothing
    schema = "stack_id long, band int, v double"

    def run(rs):
        df = spark.createDataFrame(rs, STACK_COLS)
        return sorted(tuple(r) for r in map_stacks(df, 3, _firsts(), schema).collect())

    want = [(0, 0, 1.0), (0, 1, 2.0), (0, 2, 3.0), (1, 0, 5.0), (1, 1, 6.0), (1, 2, 7.0)]
    assert run(rows) == want
    # rows arriving in shuffled band order come out the same
    assert run([rows[i] for i in (2, 0, 5, 1, 4, 3, 7, 6)]) == want


def test_map_stacks_nan_to_null_and_i32_nodata(spark):
    arr = np.array([[7, codec.I32_NODATA]], np.int32)
    rows = [(f"b{b}", codec.encode_tile(arr, "i32"), 2, 1, "i32", b, 4) for b in range(2)]
    df = spark.createDataFrame(rows, STACK_COLS)

    def kernel(pix, bands):
        # the sentinel pixel arrives as NaN; band 1's value is NaN on purpose
        return bands.astype(np.int32), pix[:, 0, 1] + np.array([100.0, np.nan]), pix[:, 0, 0]

    got = sorted(tuple(r) for r in
                 map_stacks(df, 2, kernel, "stack_id long, band int, v double, w double").collect())
    assert got == [(4, 0, None, 7.0), (4, 1, None, 7.0)]


def test_map_stacks_errors_name_the_stack_and_the_tile(spark):
    from rasters_spark.operators import bands

    rows = _stack_rows(7, [1.0, 2.0]) + _stack_rows(7, [3.0], shape=(2, 2))
    df = spark.createDataFrame(rows, STACK_COLS)
    with pytest.raises(Exception, match=r"stack_id 7: tiles differ in \(w, h\)"):
        map_stacks(df, 3, _firsts(), "stack_id long, band int, v double").collect()
    # a short blob in a complete 4-band stack: pansharpen_brovey names it
    rows = _stack_rows(0, [1.0, 2.0, 3.0, 4.0])
    rows[2] = (rows[2][0], rows[2][1][:-4], *rows[2][2:])
    with pytest.raises(Exception, match="image_id 's0b2'"):
        bands.pansharpen_brovey(spark.createDataFrame(rows, STACK_COLS)).collect()


def _calls_of(tree, attr):
    """Top-level function names whose bodies reference ``.attr``/``attr``."""
    out = set()
    for node in tree.body:
        for sub in ast.walk(node):
            name = (sub.attr if isinstance(sub, ast.Attribute) else
                    sub.id if isinstance(sub, ast.Name) else None)
            if name == attr:
                out.add(getattr(node, "name", "<module>"))
    return out


def test_only_the_runner_decodes_tile_batches():
    """One batch → decode → kernel loop: ``codec.decode_grouped`` runs
    only in the tiles.py runners (``map_groups``' batches and
    ``map_stacks``' band stacks), ``sample.sample_idw`` (point-struct
    rows) and ``rastermath._decode_b`` (the second tile of a pair)."""
    users = set()
    for path in sorted((ROOT / "rasters_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]:
        if path.name == "codec.py":
            continue
        for fn in _calls_of(ast.parse(path.read_text()), "decode_grouped"):
            users.add(f"{path.relative_to(ROOT)}:{fn}")
    assert users == {"rasters_spark/tiles.py:_group_batch",
                     "rasters_spark/tiles.py:map_stacks",
                     "rasters_spark/operators/sample.py:sample_idw",
                     "rasters_spark/operators/rastermath.py:_decode_b"}


@pytest.mark.parametrize("module", ["resample", "stats", "focal", "bands"])
def test_tile_operators_run_no_map_of_their_own(module):
    tree = ast.parse((ROOT / "rasters_spark" / "operators" / f"{module}.py").read_text())
    for attr in ("mapInArrow", "mapInPandas", "applyInPandas"):
        assert not _calls_of(tree, attr), (module, attr)


def test_decode_tile_only_in_the_codec_and_the_media_path():
    """Per-row ``codec.decode_tile`` stays in the codec, the fixture
    writer, the media path (``multimodal._decode_media``: PNG/JPEG and
    per-row quarantine) and the one-container-per-partition NetCDF
    sink; every other tile operator decodes through a runner."""
    users = set()
    for path in sorted((ROOT / "rasters_spark").rglob("*.py")):
        tree = ast.parse(path.read_text())
        calls = {f"{path.relative_to(ROOT)}:{fn}" for fn in _calls_of(tree, "decode_tile")}
        if path.name not in ("codec.py", "fixtures.py"):
            users |= calls
    assert users == {"rasters_spark/datapipe/multimodal.py:_decode_media",
                     "rasters_spark/functions/netcdf3.py:save_netcdf_tiles"}


def test_multimodal_maps_only_its_media_kernels():
    """The resizes run on ``tiles.map_tiles``; ``mapInPandas`` is left
    to the audio, media-feature and video-frame stages."""
    tree = ast.parse((ROOT / "rasters_spark" / "datapipe" / "multimodal.py").read_text())
    assert _calls_of(tree, "mapInPandas") == {"audio_features", "extract_features", "frame_sample"}
    assert not _calls_of(tree, "mapInArrow")


def test_one_nearest_candidate_path():
    """Target-grid candidates come only from ``resample._tile_candidates``:
    in resample.py the JVM point read ``sample_nearest`` serves only
    the point-target branch of ``to_geometry`` and the persisted index
    (``resample_with_index``), and no ``target_candidates`` remains
    anywhere in the package."""
    tree = ast.parse((ROOT / "rasters_spark" / "operators" / "resample.py").read_text())
    assert _calls_of(tree, "sample_nearest") == {"to_geometry", "resample_with_index"}
    for path in sorted((ROOT / "rasters_spark").rglob("*.py")):
        assert "target_candidates" not in path.read_text(), path


def test_no_global_pixel_sort():
    """The cell-binning reducers group by key with a stable integer sort
    and sort values inside segments (``resample._sorted_segments``):
    no lexsort or scattered ``add.at`` over a decode group's pixels."""
    tree = ast.parse((ROOT / "rasters_spark" / "operators" / "resample.py").read_text())
    assert not _calls_of(tree, "lexsort")
    assert not [n for n in ast.walk(tree) if isinstance(n, ast.Attribute) and n.attr == "at"
                and isinstance(n.value, ast.Attribute) and n.value.attr == "add"]
