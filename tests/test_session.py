"""Session wiring: the ``rasters_spark.pyworker`` daemon module and its
guarded ``zipimporter.invalidate_caches`` (see session.py / pyworker.py)."""

import importlib
import json
import os
import shutil
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from rasters_spark import pyworker

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the zip re-read is lazy from Python 3.12 on")


@pytest.fixture
def guard():
    """The guard installed in this process for one test, stdlib restored after."""
    saved = zipimport.zipimporter.invalidate_caches
    pyworker._read_stamps.clear()
    assert pyworker.install()
    yield
    zipimport.zipimporter.invalidate_caches = saved
    pyworker._read_stamps.clear()


@pytest.fixture
def directory_reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``, in call order."""
    calls = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path: Path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@needs_guard
def test_unchanged_archive_is_not_reread(tmp_path, guard, directory_reads):
    z = tmp_path / "lib.zip"
    _write_zip(z, {"rs_guard_a": "X = 1\n"})
    imp = zipimport.zipimporter(str(z))
    assert directory_reads == [str(z)]          # the constructor's read
    imp.invalidate_caches()                     # no stamp yet: one re-read
    assert directory_reads == [str(z)] * 2
    for _ in range(3):
        imp.invalidate_caches()
        zipimport.zipimporter(str(z)).invalidate_caches()
    assert directory_reads == [str(z)] * 2
    assert imp.find_spec("rs_guard_a") is not None


@needs_guard
def test_rewritten_archive_is_reread_and_its_new_module_imports(tmp_path, guard,
                                                                directory_reads):
    z = tmp_path / "lib.zip"
    _write_zip(z, {"rs_guard_b": "X = 1\n"})
    sys.path.insert(0, str(z))
    try:
        importlib.invalidate_caches()
        assert importlib.import_module("rs_guard_b").X == 1
        importlib.invalidate_caches()           # stamps the new importer's archive
        n = len(directory_reads)
        importlib.invalidate_caches()
        assert len(directory_reads) == n
        _write_zip(z, {"rs_guard_b": "X = 1\n", "rs_guard_c": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(directory_reads) == n + 1
        assert importlib.import_module("rs_guard_c").Y == 2
        z.unlink()                              # a missing archive: stdlib behaviour
        importlib.invalidate_caches()
        assert sys.path_importer_cache[str(z)]._files == {}
    finally:
        sys.path.remove(str(z))
        sys.path_importer_cache.pop(str(z), None)
        for m in ("rs_guard_b", "rs_guard_c"):
            sys.modules.pop(m, None)


@needs_guard
def test_workers_run_with_the_guard_installed(spark):
    import pyarrow as pa

    assert spark.conf.get("spark.python.daemon.module") == "rasters_spark.pyworker"

    def report(batches):
        from rasters_spark import pyworker

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"guard": [pyworker.installed()]})

    got = spark.range(0, 10, 1, 2).mapInArrow(report, "guard boolean").collect()
    assert [r.guard for r in got] == [True, True]


def test_spark_submit_py_files_smoke(tmp_path):
    """``spark-submit --py-files rasters_spark.zip`` from a directory
    outside the repo, with the zip built as tools/bench_scaling.py
    builds it: the daemon module imports from the zip and the workers
    run a codec kernel."""
    from tools.bench_scaling import make_pyfiles_zip

    pyfiles = make_pyfiles_zip(tmp_path)
    job = tmp_path / "smoke_job.py"
    job.write_text(
        "import json\n"
        "import pyarrow as pa\n"
        "from rasters_spark.session import get_spark\n"
        "spark = get_spark('smoke', master='inherit')\n"
        "def run(batches):\n"
        "    import numpy as np\n"
        "    import rasters_spark\n"
        "    from rasters_spark import codec, pyworker\n"
        "    for b in batches:\n"
        "        px = codec.decode_tile(codec.encode_tile(np.ones((2, 2))), 2, 2)\n"
        "        yield pa.RecordBatch.from_pydict({\n"
        "            'n': [len(b) * int(px.sum())], 'guard': [pyworker.installed()],\n"
        "            'origin': [rasters_spark.__file__]})\n"
        "rows = spark.range(0, 10, 1, 2).mapInArrow(\n"
        "    run, 'n long, guard boolean, origin string').collect()\n"
        "print('SMOKE ' + json.dumps([r.asDict() for r in rows]))\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    spark_submit = shutil.which("spark-submit") or os.path.join(
        os.environ.get("SPARK_HOME", ""), "bin", "spark-submit")
    out = subprocess.run(
        [spark_submit, "--master", "local[2]", "--conf", "spark.driver.memory=1g",
         "--py-files", str(pyfiles), str(job)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("SMOKE ")]
    assert out.returncode == 0 and lines, out.stderr[-3000:]
    rows = json.loads(lines[0][len("SMOKE "):])
    assert sum(r["n"] for r in rows) == 40
    assert all(str(pyfiles) in r["origin"] for r in rows)
    assert all(r["guard"] for r in rows) == (sys.version_info < (3, 12))
