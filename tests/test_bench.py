"""bench.py's surviving scaling path, end to end in a subprocess."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _porcelain() -> str:
    return subprocess.run(["git", "status", "--porcelain"], cwd=REPO,
                          capture_output=True, text=True, check=True).stdout


def test_bench_scaling_prints_one_line_and_writes_nothing_in_repo():
    before = _porcelain()
    out = subprocess.run(
        [sys.executable, "bench.py", "--scaling"], cwd=REPO,
        env=dict(os.environ, SPARK_GRAFT_BENCH_TURNS="2000", SPARK_GRAFT_DRIVER_MEM="1g"),
        capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    assert len(lines) == 1, out.stdout
    res = json.loads(lines[0])["scaling"]
    assert res["turns"] == 2000 and res["cores"] == [1, 4]
    assert res["efficiency_N_to_4N"] > 0
    assert _porcelain() == before
