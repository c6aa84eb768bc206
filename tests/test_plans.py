"""Physical-plan quality gates (SURVEY.md §4): filters must reach the parquet
scan, a Spark-side top-k must lower to TakeOrderedAndProject, and the scan
must prune to the columns actually read. These are assertions on .explain
output, so a regression in plan shape fails CI even when results stay
correct. Distributed results are collected LocalTableScans; their kernel's
plan is read from the captured kernel stage (``kernel_stages``)."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from intuition_spark.corpus import generate_transcripts
from intuition_spark.index.builder import build_index
from intuition_spark.query.ast import Query
from intuition_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def engine(spark, tmp_root):
    import pyarrow as pa

    tbl = generate_transcripts(600, max_tokens=30)
    src = os.path.join(tmp_root, "plans_corpus.parquet")
    pq.write_table(tbl, src)
    ix = build_index(
        spark, spark.read.parquet(src), os.path.join(tmp_root, "ix_plans"), n_segments=2
    )
    return SearchEngine(spark, {"standard": ix.root})


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_term_filter_pushed_to_postings_scan(spark, engine):
    blocks = engine._blocks("standard", ["braf", "spark"])
    plan = _plan(blocks)
    assert "PushedFilters" in plan
    assert "In(term" in plan, plan


def test_topk_uses_take_ordered(spark, engine, kernel_stages, precuts, monkeypatch):
    """The distributed placement collects its kernel stage, which reads no
    docs file (no hydration join), and returns a LocalTableScan. Past the
    collect bound Spark cuts the scored rows first, in one TakeOrdered."""
    q = Query("p1", "and", [["spark"], ["braf"]], k=10)
    assert "LocalTableScan" in _plan(engine.search(q, mode="wand"))
    files = kernel_stages[-1].inputFiles()
    assert files and not [f for f in files if "/docs/" in f], files
    assert precuts == []
    monkeypatch.setattr(engine, "SMALL_QUERY_POSTINGS", 1)
    engine._result_cache.clear()
    assert "LocalTableScan" in _plan(engine.search(q, mode="wand"))
    assert len(precuts) == 1 and "TakeOrderedAndProject" in _plan(precuts[0]), precuts


def test_docs_scan_prunes_columns(spark, engine):
    docs = engine._docs("standard").select("doc_id", "doc")
    plan = _plan(docs)
    # ReadSchema must not include the heavy text column
    rs = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert rs and "text" not in rs[0], rs


def test_exhaustive_plan_is_one_segment_kernel(spark, engine, kernel_stages):
    """Exhaustive mode is the segment kernel with pruning off: one
    per-segment pandas scorer and no per-doc score aggregation."""
    q = Query("p2", "and", [["spark"], ["braf"]], k=10)
    engine.search(q, mode="exhaustive")
    plan = kernel_stages[-1]._jdf.queryExecution().sparkPlan().toString()
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert not [ln for ln in plan.splitlines() if "HashAggregate" in ln and "doc_id" in ln], plan


def test_as_of_prunes_seg_partitions(spark, engine):
    """Time travel must be PARTITION pruning, not a post-scan filter: the
    as-of seg predicate lands in PartitionFilters on both the postings and
    docs scans (seg is the partition column), so an as-of read never lists
    or reads files from newer commits."""
    asof = SearchEngine(spark, engine.paths["standard"].root, as_of=1)
    for df in (asof._blocks("standard", ["spark"]), asof._docs("standard")):
        plan = _plan(df)
        pf = [line for line in plan.splitlines() if "PartitionFilters" in line]
        assert pf and "seg" in pf[0] and "<" in pf[0], plan
