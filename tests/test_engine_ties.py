"""Tie-plateau differential: a corpus drawn from a SMALL text pool (heavy
exact duplication -> massive score ties) must rank identically to the oracle
under every mode. Duplicated documents are the common case in web/transcript
corpora; the r3 WAND tie-boundary fix (equal-impact ranges visited
smallest-doc first, threshold skip aware of the doc_id tie-break) is pinned
here at corpus level — the unit version lives in test_wand_prune.py."""

import os
import random
from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from intuition_spark.corpus import generate_transcripts
from intuition_spark.index.builder import SEG_SHIFT, build_index
from intuition_spark.oracle.bm25_oracle import build_oracle_index, oracle_search
from intuition_spark.query.ast import Query
from intuition_spark.query.engine import SearchEngine

POOL = [
    "alpha beta gamma delta",
    "alpha beta gamma",
    "delta epsilon zeta alpha",
    "beta beta gamma theta",
    "zeta theta iota alpha beta",
    "iota kappa lambda",
    "alpha kappa beta mu",
    "mu nu alpha",
]
# a fixed doc list for the filter_docs cases: every third conversation
FILTER_DOCS = [f"conv_{c:08d}:{t}" for c in range(0, 300, 3) for t in range(20)]


@pytest.fixture(scope="module")
def tie_setup(spark, tmp_root):
    rng = random.Random(42)
    tbl = generate_transcripts(2400, max_tokens=10).to_pandas()
    tbl["text"] = [rng.choice(POOL) for _ in range(len(tbl))]
    src = os.path.join(tmp_root, "ties.parquet")
    pq.write_table(pa.Table.from_pandas(tbl, preserve_index=False), src)
    ix = os.path.join(tmp_root, "ix_ties")
    build_index(spark, spark.read.parquet(src), ix, analyzer="standard", n_segments=4)
    eng = SearchEngine(spark, {"standard": ix})
    oracle = build_oracle_index(tbl.to_dict("records"), "standard")
    return eng, oracle


QUERIES = [
    Query("tt_term", "term", [["alpha"]], k=10),
    Query("tt_term_k40", "term", [["beta"]], k=40),
    Query("tt_and", "and", [["alpha"], ["beta"]], k=25),
    Query("tt_or", "or_groups", [["alpha", "mu"], ["beta", "kappa"]], k=15),
    Query("tt_phrase", "phrase", [["alpha beta"]], k=20),
    Query("tt_fq", "term", [["gamma"]], k=10, field_eq={"role": "assistant"}),
    Query("tt_k1", "term", [["delta"]], k=1),
    Query("tt_k_large", "term", [["alpha"]], k=500),
    # tf ties at the k boundary span segments and are broken by ts desc
    Query("tt_tf", "tf_sort", [["beta"]], k=10),
    Query("tt_tf_fd", "tf_sort", [["beta"]], k=10, filter_docs=FILTER_DOCS),
    Query("tt_phrase_fd", "phrase", [["alpha beta"]], k=10, filter_docs=FILTER_DOCS),
    # MUST_NOT on a head term whose postings push the query over the bound
    Query("tt_not_head", "term", [["gamma"]], k=10, exclude=["alpha"]),
]


@pytest.mark.parametrize("q", QUERIES, ids=[q.query_id for q in QUERIES])
def test_tie_plateau_rank_identity(tie_setup, q, monkeypatch):
    eng, oracle = tie_setup
    exp = oracle_search(oracle, q)
    if q.exclude:
        # the positive term alone is driver-admissible; with the excluded
        # head term's postings the query is not
        monkeypatch.setattr(eng, "SMALL_QUERY_POSTINGS", len(oracle.postings["gamma"]))
    if q.kind == "tf_sort":
        full = oracle_search(oracle, replace(q, k=10**6))
        tied = [d for d, s in full if s == exp[-1][1]]
        ids = [r["doc_id"] for r in eng.get_by_id(tied).select("doc_id").collect()]
        segs = {int(i) >> SEG_SHIFT for i in ids}
        assert len(tied) > sum(s == exp[-1][1] for _, s in exp) and len(segs) > 1
    for mode in ("auto", "wand", "exhaustive"):
        eng._result_cache.clear()
        got = [(r["doc"], r["score"]) for r in eng.search(q, mode=mode).collect()]
        assert eng.last_path == ("driver" if mode == "auto" and not q.exclude else "distributed")
        assert [d for d, _ in got] == [d for d, _ in exp], (
            f"{q.query_id} [{mode}]: {[d for d, _ in got][:6]} vs {[d for d, _ in exp][:6]}"
        )
        for (gd, gs), (ed, es) in zip(got, exp):
            assert abs(gs - es) < 1e-6


# the distributed ending's collect bound, at and just past it: a bm25 kernel
# emits at most (offset+k)·n_segments rows, a tf kernel every posting of its
# term (it keeps all boundary ties); past SMALL_QUERY_POSTINGS Spark pre-cuts
TT_BOUND = Query("tt_bound", "term", [["alpha"]], k=10, offset=5)
TT_TF = next(q for q in QUERIES if q.query_id == "tt_tf")  # ties span segments
ENDINGS = [(TT_BOUND, 0), (TT_BOUND, 1), (TT_TF, 0), (TT_TF, 1)]


@pytest.mark.parametrize(
    "q, over", ENDINGS, ids=[f"{q.query_id}-{'precut' if o else 'direct'}" for q, o in ENDINGS]
)
def test_distributed_ending_bound(tie_setup, q, over, monkeypatch, precuts):
    eng, oracle = tie_setup
    if q.kind == "tf_sort":
        bound = len(oracle.postings[q.groups[0][0]])
    else:
        bound = (q.offset + q.k) * eng.stats["standard"]["n_segments"]
    monkeypatch.setattr(eng, "SMALL_QUERY_POSTINGS", bound - over)
    exp = oracle_search(oracle, replace(q, k=q.offset + q.k, offset=0))[q.offset :]
    for mode in ("wand", "exhaustive"):
        eng._result_cache.clear()
        precuts.clear()
        got = [(r["doc"], r["score"]) for r in eng.search(q, mode=mode).collect()]
        assert eng.last_path == "distributed" and len(precuts) == over, (mode, len(precuts))
        assert [d for d, _ in got] == [d for d, _ in exp], f"{q.query_id} [{mode}]"
        assert all(abs(gs - es) < 1e-6 for (_, gs), (_, es) in zip(got, exp))
