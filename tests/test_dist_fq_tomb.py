"""Distributed fq under WAND (r4 verdict #1) + distributed tombstone
exclusion above TOMB_MAX_IDS (r4 verdict #4/#5).

At 10^12 turns even `role:assistant` matches more docs than any driver-side
id bound, so filtered queries must KEEP block-max pruning with the predicate
resolved distributed (per-segment id partitions cogrouped with the posting
blocks — Solr semantics: fq is cached AND ranked under, filter-then-rank).
Likewise a tenant deleting 10% of the corpus between compactions must not
materialize the tombstone set on the driver. Both regimes are pinned here by
forcing tiny bounds (FQ_MAX_IDS / TOMB_MAX_IDS) on a corpus where the
default-bound engine still takes the driver-side paths, and asserting
result identity across every executor."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from intuition_spark.corpus import generate_transcripts
from intuition_spark.index.builder import IndexPaths, build_index
from intuition_spark.index.incremental import merge_delta
from intuition_spark.oracle.bm25_oracle import build_oracle_index, oracle_search
from intuition_spark.query.ast import Query
from intuition_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def plain_ix(spark, tmp_root):
    """Fresh index with no tombstones (fq-path tests) + its oracle rows."""
    tbl = generate_transcripts(1500, max_tokens=40)
    src = os.path.join(tmp_root, "distfq_corpus.parquet")
    pq.write_table(tbl, src)
    ix = build_index(
        spark, spark.read.parquet(src), os.path.join(tmp_root, "ix_distfq"),
        analyzer="standard", n_segments=4,
    )
    return ix.root, tbl.to_pylist()


@pytest.fixture(scope="module")
def tomb_ix(spark, tmp_root):
    """Index where a delta tombstoned 80 docs (tombstone-path tests) + the
    live rows' oracle."""
    tbl = generate_transcripts(1200, max_tokens=40).to_pandas()
    base = tbl.iloc[:1000].copy()
    updated = base.iloc[:80].copy()
    updated["text"] = "braf kinase rewrite " + updated["turn_idx"].astype(str)
    base_src = os.path.join(tmp_root, "disttomb_base.parquet")
    delta_src = os.path.join(tmp_root, "disttomb_delta.parquet")
    pq.write_table(pa.Table.from_pandas(base, preserve_index=False), base_src)
    pq.write_table(pa.Table.from_pandas(updated, preserve_index=False), delta_src)
    ix_dir = os.path.join(tmp_root, "ix_disttomb")
    build_index(spark, spark.read.parquet(base_src), ix_dir,
                analyzer="standard", n_segments=4)
    res = merge_delta(spark, IndexPaths(ix_dir), spark.read.parquet(delta_src))
    assert res["n_tombstoned"] == 80
    live = pd.concat([updated, base.iloc[80:]]).to_dict("records")
    return ix_dir, build_oracle_index(live, "standard")


def _rows(df):
    return [(r["doc"], round(r["score"], 9), r["conv_id"], r["turn_idx"])
            for r in df.collect()]


def _cogrouped(stages) -> bool:
    """The last kernel stage received distributed id partitions (oversize fq
    or tombstones) through the cogroup."""
    return "FlatMapCoGroupsInPandas" in stages[-1]._jdf.queryExecution().executedPlan().toString()


def _docs_files(df) -> set[str]:
    return {f for f in df.inputFiles() if "/docs/" in f}


# ---------------------------------------------------------------- fq path
def _fq_engines(spark, plain_ix):
    root, rows = plain_ix
    ref = SearchEngine(spark, {"standard": root})  # default bounds
    sml = SearchEngine(spark, {"standard": root})
    sml.FQ_MAX_IDS = 5  # every real predicate here matches > 5 docs
    return ref, sml, rows


QUERIES = [
    Query("dq_role", "and", [["spark"], ["data"]], k=10, field_eq={"role": "user"}),
    Query("dq_tool", "term", [["query"]], k=10, require_no_tool=True),
    Query("dq_or", "or_groups", [["braf", "kras"], ["v600e", "g12c"]], k=10,
          field_eq={"role": "assistant"}),
]


def test_oversize_fq_keeps_wand(spark, plain_ix, kernel_stages):
    ref, sml, rows = _fq_engines(spark, plain_ix)
    oracle = build_oracle_index(rows, "standard")
    for q in QUERIES:
        exp = oracle_search(oracle, q)
        got_ref = _rows(ref.search(q, mode="auto"))
        df = sml.search(q, mode="wand")
        assert sml.last_path == "distributed" and _cogrouped(kernel_stages), q.query_id
        got_wand = _rows(df)
        got_ex = _rows(sml.search(q, mode="exhaustive"))
        assert got_wand == got_ex == got_ref, q.query_id
        assert [d for d, _, _, _ in got_wand] == [d for d, _ in exp], q.query_id


def test_oversize_fq_auto_routes_distfq(spark, plain_ix, kernel_stages):
    _, sml, _ = _fq_engines(spark, plain_ix)
    q = Query("dq_auto", "and", [["spark"], ["data"]], k=10,
              field_eq={"role": "user"})
    sml.search(q, mode="auto")
    assert sml.last_path == "distributed" and _cogrouped(kernel_stages)


def test_oversize_ts_range_fq(spark, plain_ix, kernel_stages):
    ref, sml, rows = _fq_engines(spark, plain_ix)
    mid_ts = sorted(r["ts"] for r in rows)[len(rows) // 2]
    q = Query("dq_ts", "term", [["spark"]], k=10, ts_after=mid_ts)
    df = sml.search(q, mode="wand")
    assert sml.last_path == "distributed" and _cogrouped(kernel_stages)
    got = _rows(df)
    assert got == _rows(ref.search(q, mode="auto"))
    assert got == _rows(sml.search(q, mode="exhaustive"))


def test_distfq_plan_is_cogrouped_wand(spark, plain_ix, kernel_stages):
    _, sml, _ = _fq_engines(spark, plain_ix)
    q = Query("dq_plan", "term", [["spark"]], k=10, field_eq={"role": "user"})
    sml.search(q, mode="wand")
    assert sml.last_path == "distributed"
    assert _cogrouped(kernel_stages)  # the kernel, fed the fq ids per segment
    # only the predicate's side reads docs: no hydration join in the stage
    pred = sml._fq_pred_df("standard", q)
    assert _docs_files(kernel_stages[-1]) == _docs_files(pred) != set()

    def docs_scans(df) -> int:
        # the physical plan before AQE: an executed stage prints it twice
        plan = df._jdf.queryExecution().sparkPlan().toString()
        return plan.count(sml.paths["standard"].docs + "]")

    assert docs_scans(kernel_stages[-1]) == docs_scans(pred) == 1


def test_distfq_respects_paging(spark, plain_ix):
    ref, sml, _ = _fq_engines(spark, plain_ix)
    base = Query("dq_pg", "term", [["data"]], k=5, field_eq={"role": "user"})
    pages = []
    for off in (0, 5, 10):
        pages += _rows(sml.page(base, offset=off))
        assert sml.last_path in ("distributed", "result_cache")
    onego = _rows(ref.search(Query("dq_pg15", "term", [["data"]], k=15,
                                   field_eq={"role": "user"})))
    assert pages == onego


def test_explain_reports_oversize_fq(spark, plain_ix):
    _, sml, _ = _fq_engines(spark, plain_ix)
    q = Query("dq_explain", "term", [["spark"]], k=10, field_eq={"role": "user"})
    rep = sml.explain(q, mode="wand")
    assert rep["path"] == "distributed"
    assert rep["fq"]["oversize_distributed"] is True
    assert rep["fq"]["resolved_n_ids"] is None
    assert rep["fields"][0]["admission"]["driver_eligible"] is False


# ---------------------------------------------------------- tombstone path
def _tomb_engines(spark, tomb_ix):
    ix_dir, _ = tomb_ix
    ref = SearchEngine(spark, {"standard": ix_dir})  # default bounds: array
    big = SearchEngine(spark, {"standard": ix_dir})
    big.TOMB_MAX_IDS = 10  # 80 tombstones > 10 → oversize regime
    return ref, big


TOMB_QUERIES = [
    Query("dt_and", "and", [["spark"], ["data"]], k=10),
    Query("dt_term", "term", [["query"]], k=10),
    Query("dt_or", "or_groups", [["braf", "kras"], ["v600e", "g12c"]], k=10),
    Query("dt_phrase", "phrase", [["braf v600e"]], k=10),  # 3 of its docs are deleted
]


def test_oversize_tombstones_never_materialize(spark, tomb_ix, kernel_stages):
    ref, big = _tomb_engines(spark, tomb_ix)
    _, oracle = tomb_ix
    for q in TOMB_QUERIES:
        got_ref = _rows(ref.search(q, mode="auto"))
        df = big.search(q, mode="wand")
        assert big.last_path == "distributed" and _cogrouped(kernel_stages), q.query_id
        assert not _docs_files(kernel_stages[-1]), q.query_id  # no docs join
        got_wand = _rows(df)
        got_ex = _rows(big.search(q, mode="exhaustive"))
        got_auto = _rows(big.search(q, mode="auto"))
        assert got_wand == got_ex == got_auto == got_ref, q.query_id
        # deleted docs count in N/avgdl until compaction, so the live-rows
        # oracle's scores differ; its ranked docs must not
        assert [r[0] for r in got_wand] == [d for d, _ in oracle_search(oracle, q)], q.query_id
    # the sentinel proves nothing was collected: every cached value is None
    assert big._tomb_cache and all(v is None for v in big._tomb_cache.values())
    # and the reference engine DID take the driver path for the same queries
    ref.search(TOMB_QUERIES[0], mode="auto")
    assert ref.last_path in ("driver", "result_cache")


def test_oversize_tombstones_auto_bars_driver(spark, tomb_ix, kernel_stages):
    _, big = _tomb_engines(spark, tomb_ix)
    q = Query("dt_auto", "term", [["kinase"]], k=10)
    big.search(q, mode="auto")
    assert big.last_path == "distributed" and _cogrouped(kernel_stages)


def test_oversize_tombstones_tf_sort_and_multiterm(spark, tomb_ix):
    ref, big = _tomb_engines(spark, tomb_ix)
    qt = Query("dt_tf", "tf_sort", [["data"]], k=10)
    assert _rows(big.search(qt)) == _rows(ref.search(qt))
    assert big.last_path == "distributed"
    qw = Query("dt_wc", "wildcard", [["kin*"]], k=10)
    assert _rows(big.search(qw)) == _rows(ref.search(qw))


def test_oversize_fq_and_tombstones_compose(spark, tomb_ix, kernel_stages):
    ref, big = _tomb_engines(spark, tomb_ix)
    big.FQ_MAX_IDS = 5
    q = Query("dt_both", "and", [["spark"], ["data"]], k=10,
              field_eq={"role": "user"})
    df = big.search(q, mode="wand")
    assert big.last_path == "distributed" and _cogrouped(kernel_stages)  # both ride
    got = _rows(df)
    assert got == _rows(ref.search(q, mode="auto"))
    assert got == _rows(big.search(q, mode="exhaustive"))


def test_deleted_docs_absent_in_oversize_regime(spark, tomb_ix):
    _, big = _tomb_engines(spark, tomb_ix)
    # superseded docs' old zipf text must not surface; rewritten docs carry
    # 'kinase rewrite' — querying it returns only live (rewritten) versions
    q = Query("dt_del", "and", [["kinase"], ["rewrite"]], k=100)
    hits = big.search(q, mode="wand").collect()
    assert len(hits) > 0
    live = {r["doc"] for r in big.get_by_id([h["doc"] for h in hits]).collect()}
    assert {h["doc"] for h in hits} <= live


def test_multifield_tombstones_stay_cached(spark, tomb_ix, monkeypatch):
    """A multi-field query reads every scored field's tombstones: each
    field keeps its own cache entry, so a repeat reads none again."""
    ix_dir, _ = tomb_ix
    eng = SearchEngine(spark, {"standard": ix_dir, "twin": ix_dir})
    q = Query("dt_mf", "and", [["spark"], ["data"]], k=10,
              fields={"standard": 1.0, "twin": 1.0})
    first = _rows(eng.search(q))
    reads: list = []
    tomb_df = eng._tomb_df
    monkeypatch.setattr(eng, "_tomb_df", lambda a: reads.append(a) or tomb_df(a))
    eng._result_cache.clear()
    assert _rows(eng.search(q)) == first and first
    assert eng.last_path == "driver" and reads == []
