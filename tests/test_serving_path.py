"""Serving fast-path routing contract: auto mode runs small queries on the
driver and routes head-term / filtered queries to the distributed engine.
Either way the result is a LocalTableScan of the finished top-k; the
distributed kernel's plan is read from its captured kernel stage. Result
identity between the paths is covered by test_engine_oracle; this pins the
ROUTING."""

from __future__ import annotations

import os

import pytest

from intuition_spark.corpus import generate_transcripts
from intuition_spark.index.builder import build_index
from intuition_spark.oracle.bm25_oracle import build_oracle_index, oracle_search
from intuition_spark.query.ast import Query
from intuition_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def engine(spark, tmp_root):
    import pyarrow.parquet as pq

    src = os.path.join(tmp_root, "serving_corpus.parquet")
    pq.write_table(generate_transcripts(1500, max_tokens=40), src)
    ix = os.path.join(tmp_root, "serving_ix")
    build_index(spark, spark.read.parquet(src), ix, analyzer="standard", n_segments=4)
    return SearchEngine(spark, {"standard": ix, "ws": ix})


@pytest.fixture(scope="module")
def oracle(engine, tmp_root):
    import pyarrow.parquet as pq

    rows = pq.read_table(os.path.join(tmp_root, "serving_corpus.parquet")).to_pylist()
    return build_oracle_index(rows, "standard")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(autouse=True)
def _fresh_result_cache(engine):
    """These tests pin the ROUTING (plan shape), which the query-result cache
    deliberately hides for repeated semantic queries — clear it per test."""
    engine._result_cache.clear()
    yield


def test_small_query_runs_on_driver(engine):
    q = Query("s1", "and", [["braf"], ["v600e"]], k=10)
    plan = _plan(engine.search(q, mode="auto"))
    assert "LocalTableScan" in plan  # results computed in-process


def test_head_term_stays_distributed(engine, monkeypatch, kernel_stages):
    monkeypatch.setattr(engine, "SMALL_QUERY_POSTINGS", 1)  # everything is "big"
    q = Query("s2", "and", [["braf"], ["v600e"]], k=10)
    plan = _plan(engine.search(q, mode="auto"))
    assert engine.last_path == "distributed"
    assert "LocalTableScan" in plan  # the collected, hydrated top-k
    assert "FlatMapGroupsInPandas" in _plan(kernel_stages[-1])  # per-segment WAND scorer


def test_filtered_query_stays_distributed(engine, monkeypatch):
    """filter_docs is an fq predicate like any other: it never bars the
    driver path, and it never admits a query whose postings exceed the
    bound."""
    q = Query("s3", "and", [["braf"], ["v600e"]], k=10, filter_docs=["conv_00000001:0"])
    engine.search(q, mode="auto")
    assert engine.last_path in ("driver", "empty")
    engine._result_cache.clear()
    monkeypatch.setattr(engine, "SMALL_QUERY_POSTINGS", 1)
    engine.search(q, mode="auto")
    assert engine.last_path == "distributed"


def test_forced_modes_ignore_driver_path(engine, kernel_stages):
    q = Query("s4", "and", [["braf"], ["v600e"]], k=10)
    for mode in ("wand", "exhaustive"):
        assert "LocalTableScan" in _plan(engine.search(q, mode=mode))
        assert engine.last_path == "distributed"
    assert len(kernel_stages) == 2


def test_multiterm_driver_expansion_matches_spark(engine):
    """Cached-dictionary wildcard/fuzzy expansion == distributed dictionary scan."""
    for kind, pat in [("wildcard", "inhib*"), ("fuzzy", "barf"), ("regex", "bra.")]:
        cached = engine._expand_cached("ws", pat, kind)
        scan = engine.expand_dictionary("ws", pat, kind)
        assert cached is not None
        assert sorted(cached) == sorted(scan), (kind, pat)


def test_refresh_is_lazy_and_cheap(engine, oracle):
    """refresh() must return without re-running warm-up scans (the sharded
    server refreshes N shards; eager re-warm cost N× startup). The caches
    rebuild on the first query, and results stay correct."""
    import time

    q = Query("s_refresh", "and", [["braf"], ["v600e"]], k=10)
    before = [(r["doc"], r["score"]) for r in engine.search(q).collect()]
    t0 = time.time()
    engine.refresh()
    refresh_s = time.time() - t0
    assert refresh_s < 0.2, f"refresh should defer warm-up, took {refresh_s:.2f}s"
    assert engine._needs_warm  # warm-up deferred, not skipped
    assert not engine._dict_cache and not engine._result_cache
    after = [(r["doc"], r["score"]) for r in engine.search(q).collect()]
    assert after == before
    # first search re-warmed the ROUTED analyzer lazily; others stay pending
    assert "standard" not in engine._needs_warm
    # the driver query read postings locally: nothing built Spark's reader
    assert not engine._postings_reader
    got = [(r["doc"], r["score"]) for r in engine.search(q, mode="wand").collect()]
    exp = oracle_search(oracle, q)
    assert engine.last_path == "distributed" and engine._postings_reader
    assert [d for d, _ in got] == [d for d, _ in exp]
    assert all(abs(g - e) < 1e-6 for (_, g), (_, e) in zip(got, exp))


def _job_ids(spark, fn) -> list[int]:
    """Spark job ids launched while ``fn`` runs (its own job group)."""
    import uuid

    sc = spark.sparkContext
    group = f"zero_job_guard_{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "q",
    [
        Query("zj_term", "term", [["inhibitor"]], k=10),
        Query("zj_phrase", "phrase", [["braf v600e"]], k=10),
        Query("zj_field", "term", [["braf"]], k=10, field_eq={"role": "user"}),
    ],
    ids=lambda q: q.query_id,
)
def test_warm_driver_query_launches_no_spark_job(spark, engine, q):
    """Once the engine is warm, a driver-admitted query's search + collect
    runs in-process: postings from the driver-local reader (block cache
    cold here), hydration by the local docs reader, a LocalTableScan
    result."""
    for a in engine.paths:
        engine._ensure_warm(a)
    engine._block_cache.clear()
    engine._block_cache_postings = 0
    rows: list = []
    jobs = _job_ids(spark, lambda: rows.extend(engine.search(q).collect()))
    assert engine.last_path == "driver"
    assert rows, f"{q.query_id}: vacuous (no hits)"
    assert jobs == []


def test_cached_distributed_result_launches_no_spark_job(spark, engine):
    """A result-cache hit of a distributed query holds its finished hits,
    like any other: its search + collect runs nothing."""
    q = Query("zj_wand", "and", [["braf"], ["v600e"]], k=10)
    want = engine.search(q, mode="wand").collect()
    rows: list = []
    jobs = _job_ids(spark, lambda: rows.extend(engine.search(q, mode="wand").collect()))
    assert engine.last_path == "result_cache"
    assert want and rows == want and jobs == []


@pytest.mark.parametrize(
    "q",
    [
        Query("zj_absent", "term", [["zzzabsentterm"]], k=10),  # driver, no candidates
        Query("zj_stop", "term", [["the"]], k=10),  # analyzes to nothing
    ],
    ids=lambda q: q.query_id,
)
def test_empty_result_launches_no_spark_job(spark, engine, q):
    for a in engine.paths:
        engine._ensure_warm(a)
    got: dict = {}

    def run():
        got["df"] = engine.search(q)
        got["rows"] = got["df"].collect()

    jobs = _job_ids(spark, run)
    assert engine.last_path in ("driver", "empty")
    assert got["rows"] == [] and jobs == []
    assert "LocalTableScan" in _plan(got["df"])


def test_driver_query_hydrates_locally_without_spark_job(spark, engine):
    """Hydration is a local point lookup of the hits' doc rows
    (docs/seg=N, row groups pruned on doc_id), not a job."""
    ix = engine.paths["standard"].root
    eng = SearchEngine(spark, {"standard": ix})  # warms in the constructor
    q = Query("zj_nodoc", "and", [["braf"], ["v600e"]], k=10)
    want = [(r["doc"], r["score"]) for r in engine.search(q).collect()]
    rows: list = []
    jobs = _job_ids(spark, lambda: rows.extend(eng.search(q).collect()))
    assert eng.last_path == "driver"
    assert want and [(r["doc"], r["score"]) for r in rows] == want
    assert jobs == []


def test_driver_fq_query_after_refresh_builds_no_spark_docs_frame(spark, engine, monkeypatch):
    """After refresh(), a driver-admitted role-filtered query re-warms,
    resolves its fq and hydrates through the local docs reader only: it
    never builds the Spark docs frame."""
    eng = SearchEngine(spark, {"standard": engine.paths["standard"].root})
    q = Query("zj_fq_refresh", "term", [["braf"]], k=10, field_eq={"role": "user"})
    want = [(r["doc"], r["score"]) for r in engine.search(q).collect()]
    eng.refresh()

    def no_docs(self, a):
        raise AssertionError("SearchEngine._docs called on the driver path")

    monkeypatch.setattr(SearchEngine, "_docs", no_docs)
    got = [(r["doc"], r["score"]) for r in eng.search(q).collect()]
    assert eng.last_path == "driver"
    assert want and got == want
