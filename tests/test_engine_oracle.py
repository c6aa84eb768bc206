"""Rank-identity: the distributed engine vs the pure-Python exhaustive oracle
(SURVEY.md §5.2 layer 3) — top-k docIDs identical, scores within 1e-6, on the
reference query set over the deterministic synthetic corpus."""

import os

import pytest

from intuition_spark.corpus import generate_transcripts, reference_queries
from intuition_spark.index.builder import build_index
from intuition_spark.oracle.bm25_oracle import build_oracle_index, oracle_search
from intuition_spark.query.engine import SearchEngine

N_TURNS = 2000


@pytest.fixture(scope="module")
def corpus_tbl():
    return generate_transcripts(N_TURNS, max_tokens=60)


@pytest.fixture(scope="module")
def oracle_ix(corpus_tbl):
    rows = corpus_tbl.to_pylist()
    return {
        "standard": build_oracle_index(rows, "standard"),
        "ws": build_oracle_index(rows, "ws"),
    }


@pytest.fixture(scope="module")
def engine(spark, tmp_root, corpus_tbl):
    src = os.path.join(tmp_root, "corpus.parquet")
    import pyarrow.parquet as pq

    pq.write_table(corpus_tbl, src)
    df = spark.read.parquet(src)
    std = build_index(spark, df, os.path.join(tmp_root, "ix_std"), analyzer="standard", n_segments=4)
    ws = build_index(spark, df, os.path.join(tmp_root, "ix_ws"), analyzer="ws", n_segments=4)
    return SearchEngine(spark, {"standard": std.root, "ws": ws.root})


def _run_and_compare(engine, oracle_ix, q, mode):
    expected = oracle_search(oracle_ix[q.effective_analyzer], q)
    got = [(r["doc"], r["score"]) for r in engine.search(q, mode=mode).collect()]
    assert len(got) == len(expected), f"{q.query_id} [{mode}]: {len(got)} vs {len(expected)} hits"
    for i, ((gd, gs), (ed, es)) in enumerate(zip(got, expected)):
        assert gd == ed, f"{q.query_id} [{mode}] rank {i}: {gd} != {ed}\n got={got}\n exp={expected}"
        assert abs(gs - es) < 1e-6, f"{q.query_id} [{mode}] rank {i}: score {gs} vs {es}"


QUERIES = {q.query_id: q for q in reference_queries(k=10)}


@pytest.mark.parametrize("qid", ["term_01", "term_08", "term_10", "term_16", "term_00"])
def test_term_queries(engine, oracle_ix, qid):
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "exhaustive")
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "wand")
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "auto")  # driver fast path


@pytest.mark.parametrize("qid", ["and_00", "and_01", "and_04", "and_08"])
def test_and_queries(engine, oracle_ix, qid):
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "exhaustive")
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "wand")
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "auto")  # driver fast path


@pytest.mark.parametrize("qid", ["or_00", "or_01", "or_03", "or_06"])
def test_or_group_queries(engine, oracle_ix, qid):
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "exhaustive")
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "wand")
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "auto")  # driver fast path


@pytest.mark.parametrize("qid", ["phrase_00", "phrase_01", "phrase_03", "phrase_04"])
def test_phrase_queries(engine, oracle_ix, qid):
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "exhaustive")
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "wand")
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "auto")  # driver fast path


@pytest.mark.parametrize("qid", ["prox_00", "prox_02", "prox_05"])
def test_proximity_queries(engine, oracle_ix, qid):
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "exhaustive")
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "wand")
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "auto")  # driver fast path


@pytest.mark.parametrize("qid", ["wild_00", "wild_01", "wild_02"])
def test_wildcard_queries(engine, oracle_ix, qid):
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "exhaustive")
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "wand")
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "auto")


@pytest.mark.parametrize("qid", ["fuzzy_00", "fuzzy_01", "fuzzy_02"])
def test_fuzzy_queries_from_reference_set(engine, oracle_ix, qid):
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "exhaustive")
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "wand")
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "auto")


@pytest.mark.parametrize("qid", ["fieldq_00", "fieldq_01", "fieldq_02"])
def test_fieldq_queries_from_reference_set(engine, oracle_ix, qid):
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "exhaustive")
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "auto")  # driver fast path
    # explicit wand must apply the fq BEFORE the per-segment top-k (Solr fq
    # semantics) — regression for the filterCache fix; pre-fix this path
    # filtered after the cut and dropped/invented hits
    engine._result_cache.clear()
    _run_and_compare(engine, oracle_ix, QUERIES[qid], "wand")


@pytest.mark.parametrize("qid", ["tfsort_00", "tfsort_01"])
def test_tf_sort_queries(engine, oracle_ix, qid):
    q = QUERIES[qid]
    expected = oracle_search(oracle_ix[q.effective_analyzer], q)
    for mode in ("auto", "wand", "exhaustive"):
        got = [(r["doc"], r["score"]) for r in engine.search(q, mode=mode).collect()]
        assert [d for d, _ in got] == [d for d, _ in expected], mode
        assert [s for _, s in got] == [s for _, s in expected], mode


def test_per_turn_text_invariant(spark, engine, corpus_tbl):
    """Driver-mandated invariant: stored per-turn text equals the source under
    stable (conv_id, turn_idx) ordering."""
    src = corpus_tbl.to_pandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    stored = (
        spark.read.parquet(engine.paths["standard"].docs)
        .select("conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(src) == len(stored)
    assert (src["conv_id"] == stored["conv_id"]).all()
    assert (src["turn_idx"].astype(int) == stored["turn_idx"].astype(int)).all()
    assert (src["text"] == stored["text"]).all()


def test_repeated_term_phrase_and_sloppy_weighting(spark, tmp_root):
    """Regression (round-2): (1) a phrase with a repeated term ("data data")
    must sum idf per token position — Lucene PhraseWeight — identically in
    engine and oracle (round 1 diverged: engine summed distinct terms only);
    (2) sloppy matches weigh 1/(1+distance) — "peak load"~3 at gap 2 must
    score below an adjacent match, identically on both sides."""
    import datetime

    import pyarrow as pa

    from intuition_spark.query.ast import Query

    ts = datetime.datetime(2025, 1, 1)
    texts = [
        "data data pipeline runs on data",        # adjacent repeat → phrase hit
        "data pipeline data data moves fast",     # repeat later in doc
        "data moves then data arrives",           # no adjacent repeat
        "peak load at noon",                      # prox gap 1 (adjacent)
        "peak of the load curve",                 # prox gap 3 (dist 2 → w 1/3)
        "nothing relevant here at all",
    ]
    rows = [
        {"conv_id": f"c{i}", "turn_idx": 0, "role": "user", "text": t,
         "tool": None, "ts": ts}
        for i, t in enumerate(texts)
    ]
    tbl = pa.Table.from_pylist(rows)
    src = os.path.join(tmp_root, "rep_corpus.parquet")
    import pyarrow.parquet as pq

    pq.write_table(tbl, src)
    ix = build_index(spark, spark.read.parquet(src),
                     os.path.join(tmp_root, "ix_rep"), analyzer="ws", n_segments=2)
    eng = SearchEngine(spark, {"ws": ix.root})
    oix = {"ws": build_oracle_index(rows, "ws")}

    q_rep = Query("rep_phrase", "phrase", [["data data"]], k=10, analyzer="ws")
    _run_and_compare(eng, oix, q_rep, "exhaustive")
    _run_and_compare(eng, oix, q_rep, "auto")

    q_prox = Query("rep_prox", "proximity", [["peak load"]], slop=3, k=10, analyzer="ws")
    _run_and_compare(eng, oix, q_prox, "exhaustive")
    _run_and_compare(eng, oix, q_prox, "auto")
    # the weighting itself: adjacent match must outrank the gap-3 match
    hits = {r["doc"]: r["score"] for r in eng.search(q_prox, mode="exhaustive").collect()}
    assert hits["c3:0"] > hits["c4:0"]
