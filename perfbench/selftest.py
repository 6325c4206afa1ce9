"""Self-test of the benchmark's correctness gate.

    python3 perfbench/selftest.py

Runs the ``regrid`` workload at the smoke size twice: once clean, which
must exit 0 with ``ok_ops_share`` 1.0, and once with one output value of
``tile_stats`` corrupted after it is collected, which must exit nonzero
with ``ok_ops_share`` below 1.0. Exits nonzero if either expectation
fails.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def smoke(*extra: str) -> tuple[int, float]:
    p = subprocess.run(
        [sys.executable, str(RUN), "--workload", "regrid", "--seed", "1", "--seconds", "1",
         "--trace", "0", "--smoke", *extra],
        capture_output=True, text=True, timeout=600, cwd=RUN.parent.parent)
    last = json.loads(p.stdout.strip().splitlines()[-1])
    return p.returncode, last["metrics"]["ok_ops_share"]["value"]


def main() -> int:
    clean = smoke()
    corrupted = smoke("--corrupt", "tile_stats")
    print(f"clean: exit {clean[0]}, ok_ops_share {clean[1]}")
    print(f"tile_stats corrupted: exit {corrupted[0]}, ok_ops_share {corrupted[1]}")
    ok = clean == (0, 1.0) and corrupted[0] != 0 and corrupted[1] < 1.0
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
