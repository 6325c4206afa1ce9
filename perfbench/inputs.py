"""Seeded benchmark inputs, generated once per (workload, sizes, seed)
and version of the code that generates them.

Run as a script in its own process so that generation never counts
toward the benchmark process's set-up time or peak memory::

    python3 perfbench/inputs.py DATA_DIR WORKLOAD SEED N_TILES N_POINTS IDW_SLICE

Writes ``tiles.parquet`` and ``points.parquet`` (``fixtures.make_tiles`` /
``make_points``) plus ``reference.pkl`` (the numpy reference of every
checked operation), then a ``.complete`` marker. The cache directory
name carries a hash of ``SOURCES``, so a change to any of them generates
the inputs and their reference anew instead of reusing older ones.
"""

from __future__ import annotations

import hashlib
import pickle
import shutil
import sys
from pathlib import Path

KEEP_SEEDS = 24  # cached seed directories kept per (workload, sizes, sources)
ROOT = Path(__file__).resolve().parents[1]
#: the files the inputs and the reference are generated by (the modules
#: ``fixtures`` and ``reference`` use, and this one)
SOURCES = ("rasters_spark/fixtures.py", "rasters_spark/npref.py", "rasters_spark/codec.py",
           "rasters_spark/cells.py", "rasters_spark/operators/terrain.py",
           "perfbench/reference.py", "perfbench/inputs.py")


def source_hash() -> str:
    h = hashlib.sha256()
    for rel in SOURCES:
        h.update(rel.encode() + b"\0" + (ROOT / rel).read_bytes())
    return h.hexdigest()[:12]


def input_dir(data_root: Path, workload: str, seed: int, n_tiles: int, n_points: int) -> Path:
    return data_root / f"{workload}-t{n_tiles}-p{n_points}-src{source_hash()}" / f"seed-{seed}"


def generate(out: Path, workload: str, seed: int, n_tiles: int, n_points: int, idw_slice: int) -> None:
    import pyarrow.parquet as pq

    from perfbench import reference
    from rasters_spark import fixtures

    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    tiles, _ = fixtures.make_tiles(n_tiles, seed=seed)
    points = fixtures.make_points(n_points, seed=seed + 1)
    pq.write_table(tiles, tmp / "tiles.parquet", row_group_size=fixtures.TILE_ROW_GROUP)
    pq.write_table(points, tmp / "points.parquet", row_group_size=65_536)
    ref = reference.build(tiles, points, workload, seed, idw_slice)
    (tmp / "reference.pkl").write_bytes(pickle.dumps(ref))
    (tmp / ".complete").touch()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    # bound the cache: drop the least recently generated seeds
    seeds = sorted((d for d in out.parent.iterdir() if (d / ".complete").exists()),
                   key=lambda d: (d / ".complete").stat().st_mtime)
    for d in seeds[:-KEEP_SEEDS]:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    data_root, workload = Path(sys.argv[1]), sys.argv[2]
    seed, n_tiles, n_points, idw_slice = (int(a) for a in sys.argv[3:7])
    generate(input_dir(data_root, workload, seed, n_tiles, n_points),
             workload, seed, n_tiles, n_points, idw_slice)
