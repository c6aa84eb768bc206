"""filterCache routes: (a) predicate resolution by the driver-local docs
scan, id for id equal to the Spark predicate `_fq_cond` that the oversize
side runs, and (b) the FQ_MAX_IDS oversize bound routing the query to the
distributed exhaustive path. Both must stay rank-identical to the oracle —
the bounds are performance dials, never semantics."""

import os
import time
from datetime import timedelta, timezone

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from intuition_spark.corpus import generate_transcripts
from intuition_spark.index.builder import build_index
from intuition_spark.oracle.bm25_oracle import build_oracle_index, oracle_search
from intuition_spark.query.ast import Query
from intuition_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def corpus_ix(spark, tmp_root):
    tbl = generate_transcripts(1200, max_tokens=30)
    src = os.path.join(tmp_root, "fb_corpus.parquet")
    pq.write_table(tbl, src)
    ix = os.path.join(tmp_root, "ix_fb")
    build_index(spark, spark.read.parquet(src), ix, analyzer="standard", n_segments=3)
    oracle = build_oracle_index(tbl.to_pylist(), "standard")
    return ix, oracle


_TS_MID = sorted(
    r["ts"] for r in generate_transcripts(1200, max_tokens=30).to_pylist()
)[600]

QS = [
    Query("fb_role", "term", [["data"]], k=10, field_eq={"role": "assistant"}),
    Query("fb_and", "and", [["query"], ["data"]], k=10, require_no_tool=True),
    Query("fb_both", "term", [["spark"]], k=15,
          field_eq={"role": "user"}, require_no_tool=True),
    # ts_after exercises the range branch of _fq_ids in both shapes: the
    # local `ts >= bound` scan and oversize routing
    Query("fb_ts", "term", [["data"]], k=10, ts_after=_TS_MID),
    Query("fb_ts_role", "term", [["query"]], k=10, ts_after=_TS_MID,
          field_eq={"role": "assistant"}),
]


def _check(eng, oracle, q, modes=("auto", "wand", "exhaustive")):
    exp = oracle_search(oracle, q)
    for mode in modes:
        eng._result_cache.clear()
        got = [(r["doc"], r["score"]) for r in eng.search(q, mode=mode).collect()]
        assert [d for d, _ in got] == [d for d, _ in exp], f"{q.query_id} [{mode}]"
        for (gd, gs), (ed, es) in zip(got, exp):
            assert abs(gs - es) < 1e-6


def test_fq_local_scan_rank_identical(spark, corpus_ix):
    """_fq_ids resolves each predicate by ONE local scan of its docs column;
    results identical to the oracle on every mode."""
    ix, oracle = corpus_ix
    eng = SearchEngine(spark, {"standard": ix})
    for q in QS:
        _check(eng, oracle, q)


_SOME_DOCS = [f"{r['conv_id']}:{r['turn_idx']}" for r in
              generate_transcripts(1200, max_tokens=30).to_pylist()[::20]] + ["no_such:0"]
FQ_SHAPES = [
    Query("fq_role", "term", [["data"]], field_eq={"role": "assistant"}),
    Query("fq_no_tool", "term", [["data"]], require_no_tool=True),
    Query("fq_ts_naive", "term", [["data"]], ts_after=_TS_MID.replace(tzinfo=None)),
    Query("fq_ts_aware", "term", [["data"]],
          ts_after=_TS_MID.replace(tzinfo=timezone(timedelta(hours=-3)))),
    Query("fq_docs", "term", [["data"]], filter_docs=_SOME_DOCS),
    Query("fq_conv", "term", [["data"]], field_eq={"conv_id": _SOME_DOCS[3].split(":")[0]}),
]


@pytest.mark.parametrize("q", FQ_SHAPES, ids=lambda q: q.query_id)
def test_fq_ids_equal_spark_predicate(spark, corpus_ix, q, assert_fq_ids_match_spark):
    assert_fq_ids_match_spark(SearchEngine(spark, {"standard": corpus_ix[0]}), q)


def test_fq_ts_naive_bound_ignores_os_timezone(spark, corpus_ix, assert_fq_ids_match_spark,
                                               monkeypatch):
    """A naive ts_after bound is a wall time in the session timezone (UTC) on
    both routes, whatever the driver's OS timezone: PySpark converts a naive
    datetime literal in the OS timezone, so `_fq_cond` passes an aware one."""
    monkeypatch.setenv("TZ", "BRT3")  # POSIX: UTC-3, no tz database needed
    time.tzset()
    try:
        assert_fq_ids_match_spark(SearchEngine(spark, {"standard": corpus_ix[0]}), FQ_SHAPES[2])
    finally:
        monkeypatch.undo()
        time.tzset()


def test_fq_scan_prunes_row_groups_by_min_max(tmp_path, monkeypatch):
    """A scalar ``==`` or a doc list reads only the row groups whose min/max
    may hold a wanted value; the ids equal an unpruned scan."""
    from intuition_spark.query.engine import _LocalReader

    n = 1000
    t = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "conv_id": [f"c{i // 10:03d}" for i in range(n)],
        "tags": [["x"]] * n,
    })
    os.makedirs(tmp_path / "seg=0")
    pq.write_table(t, tmp_path / "seg=0" / "part-0.parquet", row_group_size=100)
    reader = _LocalReader(str(tmp_path), "doc_id")
    want = ["c005", "c093"]
    read = []
    orig = pq.ParquetFile.read_row_groups
    monkeypatch.setattr(pq.ParquetFile, "read_row_groups",
                        lambda pf, rgs, **kw: read.append(list(rgs)) or orig(pf, rgs, **kw))

    def where(tb):
        return pc.is_in(tb["conv_id"], value_set=pa.array(want))

    got = reader.scan(["conv_id"], where, n, ("conv_id", want))
    assert got.tolist() == [*range(50, 60), *range(930, 940)]
    assert read == [[0, 9]]
    assert reader.scan(["conv_id"], where, 19, ("conv_id", want)) is None
    del read[:]
    assert reader.scan(["conv_id"], where, n, ("conv_id", [])).size == 0
    assert read == []
    for unpruned in (None, ("tags", ["x"])):  # no pruning; an array column
        assert reader.scan(["conv_id"], where, n, unpruned).tolist() == got.tolist()
        assert read[-1] == list(range(10))


def test_fq_oversize_routes_distributed(spark, corpus_ix, monkeypatch):
    """A predicate matching more than FQ_MAX_IDS docs must not be truncated:
    the query routes to the distributed path (filter in the docs join) and
    still matches the oracle — under explicit mode=wand too (the mode is an
    optimization hint, never a semantics change)."""
    ix, oracle = corpus_ix
    monkeypatch.setattr(SearchEngine, "FQ_MAX_IDS", 5)  # everything oversize
    eng = SearchEngine(spark, {"standard": ix})
    for q in QS:
        _check(eng, oracle, q)
    # and the fq cache records the oversize marker, not a truncated array
    assert any(v is None for v in eng._fq_cache.values())
