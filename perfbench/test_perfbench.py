"""Self-tests of the benchmark harness (no Spark):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from intuition_spark.corpus import generate_transcripts  # noqa: E402
from intuition_spark.oracle.bm25_oracle import build_oracle_index  # noqa: E402
from perfbench import checks  # noqa: E402
from perfbench import workloads as W  # noqa: E402


def _dicts(rows, analyzers=("standard", "ws")):
    return {a: W.FieldDict.build(build_oracle_index(rows, a), rows, a) for a in analyzers}


@pytest.fixture(scope="module")
def small():
    rows = generate_transcripts(600, seed=5).to_pylist()
    return rows, _dicts(rows)


@pytest.fixture(scope="module")
def full():
    rows = W.corpus(5).to_pylist()
    return rows, _dicts(rows, ("standard",))


def test_same_seed_same_query_stream(small):
    rows, dicts = small
    a = W.narrow_stream(7, dicts, rows, 150)
    b = W.narrow_stream(7, dicts, rows, 150)
    assert [W.query_to_dict(q) for q in a] == [W.query_to_dict(q) for q in b]
    c = W.narrow_stream(8, dicts, rows, 150)
    assert [W.query_key(q) for q in a] != [W.query_key(q) for q in c]


def test_same_seed_same_delta_batches():
    base = generate_transcripts(600, seed=5)
    a, b = W.deltas(3, base), W.deltas(3, base)
    assert len(a) == W.N_COMMITS
    for x, y in zip(a, b):
        assert x.table.equals(y.table)
        assert x.superseded == y.superseded and x.markers == y.markers
    superseded = [k for d in a for k in d.superseded]
    assert len(superseded) == len(set(superseded))  # each base turn replaced once


def test_streams_run_whole_cycles_of_the_reference_mix(small):
    rows, dicts = small
    n = W.STREAM_LEN["serve_narrow"]
    assert n % sum(W.NARROW_MIX.values()) == 0
    assert W.STREAM_LEN["serve_broad"] % sum(W.BROAD_MIX.values()) == 0
    assert W.STREAM_LEN["ingest"] % sum(W.INGEST_MIX.values()) == 0
    qs = W.narrow_stream(7, dicts, rows, n)
    fams = {f: sum(W.family(q) == f for q in qs) for f in W.NARROW_MIX}
    per_cycle = n // sum(W.NARROW_MIX.values())
    assert fams == {f: c * per_cycle for f, c in W.NARROW_MIX.items()}


def test_path_classes():
    from perfbench.run import FORBIDDEN_PATH, path_class

    assert path_class("driver_wand") == path_class("driver_multiterm_spill") == "driver"
    assert path_class("wand_distributed") == path_class("exhaustive_distributed") == "distributed"
    assert path_class("result_cache") == "result_cache"
    assert path_class("empty_no_atoms") == "empty"
    assert set(FORBIDDEN_PATH.values()) == {"driver", "distributed"}


def test_narrow_stream_is_driver_admitted(small):
    rows, dicts = small
    assert all(W.driver_admitted(q, dicts) for q in W.narrow_stream(7, dicts, rows, 150))


def test_broad_stream_exceeds_driver_bound(full):
    rows, dicts = full
    qs = W.broad_stream(11, dicts, rows, 20)
    assert len({W.query_key(q) for q in qs}) == len(qs)  # every query distinct
    for q in qs:  # SearchEngine._small_enough: Σdf, and Σcf when positional
        stats = W.candidate_stats(q, dicts)
        assert any(
            df > W.SMALL_POSTINGS or (pos and cf > W.SMALL_POSITIONS) for df, cf, pos in stats
        ), q


def test_percentile_needs_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert checks.percentile(xs, 90) == 90.0
    assert checks.percentile(xs[:99], 90) is None
    assert checks.percentile(xs[:20], 50) == 10.0
    assert checks.percentile(xs[:19], 50) is None
    assert checks.tail(xs[:69]) == (100 * 59 / 69, 59.0)
    assert checks.tail(xs[:10]) is None


def test_checker_rejects_swapped_ranks_and_score_drift():
    exp = [["c:1", 2.0], ["c:2", 1.0]]
    assert checks.compare_ranked([("c:1", 2.0), ("c:2", 1.0 + 5e-7)], exp) is None
    assert checks.compare_ranked([("c:2", 1.0), ("c:1", 2.0)], exp) is not None
    assert checks.compare_ranked([("c:1", 2.0), ("c:2", 1.0 + 1e-5)], exp) is not None
    assert checks.compare_ranked([("c:1", 2.0)], exp) is not None


def test_checker_rejects_superseded_doc():
    live = ["d00_c:0", "c:7"]
    assert checks.compare_live([("c:7", 3.0), ("d00_c:0", 1.0)], live) is None
    assert checks.compare_live([("c:7", 3.0), ("d00_c:0", 1.0), ("c:9", 0.5)], live) is not None
    assert checks.compare_live([("c:7", 3.0)], live) is not None
    assert checks.compare_live([("c:9", 0.5)], []) is not None  # stale probe hit


def test_fails_without_engine_package(tmp_path):
    """Copied alone (BENCHMARK.json plus perfbench/), the harness exits
    non-zero quickly and prints no result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", "out", "__pycache__"))
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_narrow", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert r.returncode != 0 and r.stdout.strip() == ""
