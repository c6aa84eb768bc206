"""Query debug / per-doc score explanation (Solr debugQuery analogue,
`util/SolrClientTool.java:274`; Lucene Explanation trees).

The load-bearing invariant: explain_doc's per-(field, atom) contributions
SUM TO THE ENGINE'S HIT SCORE for every scoring kind and every execution
path — the breakdown is the scorer's own arithmetic, not a parallel
implementation allowed to drift. And explain() reports the EXECUTED path
via engine instrumentation, so routing claims can't go stale."""

import os
from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from intuition_spark.corpus import generate_transcripts
from intuition_spark.index.builder import SEG_SHIFT, IndexPaths, build_index
from intuition_spark.index.incremental import merge_delta
from intuition_spark.query.ast import Query
from intuition_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def ex_setup(spark, tmp_root):
    tbl = generate_transcripts(2500, max_tokens=40)
    src = os.path.join(tmp_root, "explain.parquet")
    pq.write_table(tbl, src)
    df = spark.read.parquet(src)
    ix_std = os.path.join(tmp_root, "ix_ex_std")
    ix_ws = os.path.join(tmp_root, "ix_ex_ws")
    build_index(spark, df, ix_std, analyzer="standard", n_segments=4)
    build_index(spark, df, ix_ws, analyzer="ws", n_segments=4)
    eng = SearchEngine(spark, {"standard": ix_std, "ws": ix_ws})
    return eng, tbl.to_pandas()


SCORING_QUERIES = [
    Query("xp_term", "term", [["query"]], k=10),
    Query("xp_and", "and", [["query"], ["index"]], k=10),
    Query("xp_or", "or_groups", [["query", "index"], ["search", "data"]], k=10),
    Query("xp_phrase", "phrase", [["the query"]], k=10),
    Query("xp_prox", "proximity", [["query index"]], slop=10, k=10),
    Query("xp_mf", "term", [["query"]], k=10, fields={"standard": 1.0, "ws": 2.0}),
    Query("xp_mf_and", "and", [["query"], ["index"]], k=10,
          fields={"standard": 2.0, "ws": 1.0}),
]


@pytest.mark.parametrize("q", SCORING_QUERIES, ids=[q.query_id for q in SCORING_QUERIES])
@pytest.mark.parametrize("mode", ["auto", "wand", "exhaustive"])
def test_explain_doc_contributions_sum_to_hit_score(ex_setup, q, mode):
    """sum≡score on ALL THREE executor families (r4 verdict #9): auto takes
    the driver paths on this corpus; wand/exhaustive force the DISTRIBUTED
    scorers — the breakdown must reproduce each one's arithmetic exactly."""
    eng, _ = ex_setup
    hits = eng.search(q, mode=mode).collect()
    assert hits, f"{q.query_id} returned no hits"
    if mode != "auto":
        # the forced legs really ran the distributed placement, exhaustive
        # with pruning off
        assert eng.last_path == "distributed", eng.last_path
        assert eng.last_kernel == ("bm25", mode == "wand")
    for r in hits[:3]:
        exp = eng.explain_doc(q, r["doc"])
        assert exp["found"] and exp["matched"], exp
        assert exp["score"] == pytest.approx(r["score"], abs=1e-9)
        assert exp["score"] == pytest.approx(
            sum(c["contribution"] for c in exp["contributions"]), abs=1e-12
        )
        assert exp["mm_pass"] and sorted(exp["groups_matched"]) == list(
            range(exp["n_groups"])
        )


def test_explain_doc_sum_on_distfq_wand_hits(ex_setup, kernel_stages):
    """The kernel fed distributed fq ids through the cogroup is explained
    with the same per-(field, atom) arithmetic: sum≡score on its hits, and
    the fq gate verdict is reported per doc."""
    eng, _ = ex_setup
    old = eng.FQ_MAX_IDS
    eng.FQ_MAX_IDS = 5  # role predicates match far more than 5 docs
    try:
        q = Query("xp_distfq", "and", [["query"], ["index"]], k=10,
                  field_eq={"role": "user"})
        df = eng.search(q, mode="wand")
        assert eng.last_path == "distributed"
        stage = kernel_stages[-1]._jdf.queryExecution().sparkPlan().toString()
        assert "FlatMapCoGroupsInPandas" in stage
        hits = df.collect()
        assert hits
        for r in hits[:3]:
            exp = eng.explain_doc(q, r["doc"])
            assert exp["matched"], exp
            assert exp["score"] == pytest.approx(r["score"], abs=1e-9)
            assert exp["score"] == pytest.approx(
                sum(c["contribution"] for c in exp["contributions"]), abs=1e-12
            )
            fq_gates = [g for g in exp["gates"] if g["gate"].startswith("fq ")]
            assert fq_gates and all(g["pass"] for g in fq_gates)
    finally:
        eng.FQ_MAX_IDS = old
        eng._fq_cache.clear()


def test_explain_doc_constant_score_and_tf_sort(ex_setup):
    eng, _ = ex_setup
    qw = Query("xp_wild", "wildcard", [["que*"]], k=5)
    top = eng.search(qw).collect()[0]
    exp = eng.explain_doc(qw, top["doc"])
    assert exp["matched"] and exp["score"] == 1.0
    assert exp["contributions"][0]["rewrite"] == "constant_score"
    assert exp["contributions"][0]["matched_terms"]
    assert exp["n_expanded"] >= 1

    qt = Query("xp_tf", "tf_sort", [["query"]], k=5)
    top = eng.search(qt).collect()[0]
    exp = eng.explain_doc(qt, top["doc"])
    assert exp["matched"] and exp["score"] == pytest.approx(top["score"])
    assert exp["contributions"][0]["tf"] == int(top["score"])


def test_explain_doc_mm_and_gate_verdicts(ex_setup):
    eng, pdf = ex_setup
    # a doc that matches 'query' but not 'index' fails mm=100% on the AND
    q1 = Query("xp_g1", "term", [["query"]], k=50)
    q2 = Query("xp_g2", "and", [["query"], ["index"]], k=50)
    docs_q = [r["doc"] for r in eng.search(q1).collect()]
    docs_and = {r["doc"] for r in eng.search(q2, mode="exhaustive").collect()}
    only_q = [d for d in docs_q if d not in docs_and]
    assert only_q, "need a doc matching one group only"
    exp = eng.explain_doc(q2, only_q[0])
    assert exp["found"] and not exp["matched"] and not exp["mm_pass"]
    assert exp["score"] is None and exp["groups_matched"] != [0, 1]

    # fq gate verdict: explain a doc whose role contradicts the predicate
    top = eng.search(q1).collect()[0]
    role = pdf.loc[pdf["conv_id"] + ":" + pdf["turn_idx"].astype(str) == top["doc"],
                   "role"].iloc[0]
    wrong = "user" if role != "user" else "assistant"
    qfq = replace(q1, field_eq={"role": wrong})
    exp = eng.explain_doc(qfq, top["doc"])
    assert not exp["matched"]
    gate = [g for g in exp["gates"] if g["gate"].startswith("fq role")][0]
    assert gate["pass"] is False and gate["doc_value"] == role

    # MUST_NOT gate: excluding a term the doc contains flips the verdict
    qex = replace(q1, exclude=["query"])
    exp = eng.explain_doc(qex, top["doc"])
    assert not exp["matched"]
    gate = [g for g in exp["gates"] if g["gate"].startswith("exclude")][0]
    assert gate["pass"] is False and gate["matched_excluded_terms"]


def test_explain_doc_absent_doc(ex_setup):
    eng, _ = ex_setup
    exp = eng.explain_doc(Query("xp_a", "term", [["query"]], k=5), "nope:0")
    assert exp == {"doc": "nope:0", "found": False, "matched": False}


def test_explain_reports_executed_path_and_parse(ex_setup):
    eng, _ = ex_setup
    q = Query("xp_e1", "and", [["query"], ["index"]], k=10)
    exp = eng.explain(q, mode="auto")
    # tiny corpus → the driver fast path must have run, and the report says so
    assert exp["path"] == eng.last_path
    assert exp["path"] in ("driver", "result_cache")
    assert exp["kind"] == "and" and exp["routed_index"] == "standard"
    f = exp["fields"][0]
    assert f["admission"]["driver_eligible"] is True
    assert f["admission"]["sum_df"] <= f["admission"]["postings_budget"]
    terms = {pt["term"]: pt for a in f["atoms"] for pt in a["per_term"]}
    assert all(pt["df"] > 0 and pt["idf"] > 0 for pt in terms.values())

    exp2 = eng.explain(q, mode="exhaustive")
    assert exp2["path"] == "distributed"
    assert exp2["score_mode"] == "bm25" and exp2["prune"] is False

    # re-explaining a cached query still reports the real executor
    exp3 = eng.explain(q, mode="auto")
    assert exp3["result_cache_hit"] is True
    assert exp3["path"] == "driver" and exp3["prune"] is True


def test_explain_multifield_and_fq_sections(ex_setup):
    eng, _ = ex_setup
    q = Query("xp_e2", "term", [["query"]], k=10,
              fields={"standard": 1.0, "ws": 2.0}, field_eq={"role": "assistant"})
    exp = eng.explain(q)
    assert {f["field"] for f in exp["fields"]} == {"standard", "ws"}
    boosts = {f["field"]: f["boost"] for f in exp["fields"]}
    assert boosts == {"standard": 1.0, "ws": 2.0}
    assert exp["fq"]["predicates"] == ["role:'assistant'"]
    assert exp["fq"]["oversize_distributed"] is False
    assert 0 < exp["fq"]["resolved_n_ids"] <= exp["fq"]["max_ids"]

    qw = Query("xp_e3", "wildcard", [["que*"]], k=10)
    expw = eng.explain(qw)
    assert expw["routed_index"] == "ws"
    mt = expw["fields"][0]["multiterm"]
    assert mt["rewrite"] == "constant_score" and mt["n_expanded"] >= 1


def test_explain_doc_proximity_slop_details(ex_setup):
    eng, _ = ex_setup
    q = Query("xp_e4", "proximity", [["query index"]], slop=10, k=5)
    hits = eng.search(q).collect()
    assert hits
    exp = eng.explain_doc(q, hits[0]["doc"])
    c = exp["contributions"][0]
    assert c["slop"] == 10 and c["sloppy_tf"] > 0 and c["idf_sum"] > 0
    assert exp["score"] == pytest.approx(hits[0]["score"], abs=1e-9)


def test_explain_doc_multifield_gates_check_every_field(ex_setup):
    """Review regression: a doc excluded via a NON-routed field's analyzer
    (exclude atom 'queries' stems to 'queri' in standard, matches docs the
    ws index never flags) must fail the gate — engine semantics exclude a
    doc matching in ANY scored field (_excluded_union)."""
    eng, _ = ex_setup
    base = Query("xp_mf_ex0", "term", [["data"]], k=50,
                 fields={"ws": 1.0, "standard": 1.0})
    target = None
    for r in eng.search(Query("xp_seed", "term", [["query"]], k=50)).collect():
        target = r["doc"]  # contains 'queri' in the standard index
        break
    assert target is not None
    q = replace(base, exclude=["queries"])
    exp = eng.explain_doc(q, target)
    gate = [g for g in exp["gates"] if g["gate"].startswith("exclude")][0]
    assert gate["pass"] is False
    assert {"field": "standard", "term": "queri"} in gate["matched_excluded_terms"]
    assert not exp["matched"]
    # and the engine agrees: the doc is not a hit for the excluded query
    assert target not in {r["doc"] for r in eng.search(q, mode="exhaustive").collect()}


def test_explain_doc_duplicate_terms_score_once(ex_setup):
    """Review regression: a term reused across atoms is scored ONCE by the
    engine (single_terms dict / _term_meta); explain_doc must not double."""
    eng, _ = ex_setup
    q1 = Query("xp_dup1", "or_groups", [["query", "query"]], k=10)
    hits = eng.search(q1, mode="exhaustive").collect()
    assert hits
    exp = eng.explain_doc(q1, hits[0]["doc"])
    assert len(exp["contributions"]) == 1
    assert exp["score"] == pytest.approx(hits[0]["score"], abs=1e-9)

    # cross-group reuse: the engine returns NO hits (group-coverage
    # shortfall, the documented _term_meta limitation) — mm must mirror that
    q2 = Query("xp_dup2", "and", [["query"], ["query"]], k=10)
    assert eng.search(q2, mode="exhaustive").count() == 0
    exp2 = eng.explain_doc(q2, hits[0]["doc"])
    assert not exp2["mm_pass"] and not exp2["matched"] and exp2["score"] is None


def test_explain_json_serializable_without_fallback(ex_setup):
    """Review regression: dict-cache df/cf are np.int64 — every numeric field
    must be a native type so the CLI's json.dumps emits numbers, not
    strings."""
    import json

    eng, _ = ex_setup
    for q in (Query("xp_j1", "and", [["query"], ["index"]], k=5),
              Query("xp_j2", "tf_sort", [["query"]], k=5)):
        json.dumps(eng.explain(q))  # raises TypeError on any numpy scalar
        json.dumps(eng.explain_doc(q, eng.search(q).collect()[0]["doc"]))


def test_explain_fq_section_respects_filter_docs_routing(ex_setup):
    """filter_docs is one more fq predicate (doc IN list): the filterCache
    resolves it with the other predicates, so the report counts the
    intersected ids and a small query stays driver-eligible."""
    eng, pdf = ex_setup
    docs = [r["doc"] for r in eng.search(Query("xp_s", "term", [["query"]], k=5)).collect()]
    q = Query("xp_fd", "term", [["query"]], k=5, filter_docs=docs,
              field_eq={"role": "assistant"})
    exp = eng.explain(q)
    keys = pdf["conv_id"] + ":" + pdf["turn_idx"].astype(str)
    n_assistant = int(((pdf["role"] == "assistant") & keys.isin(docs)).sum())
    assert exp["fq"]["predicates"] == ["role:'assistant'", f"doc IN [{len(docs)} docs]"]
    assert exp["fq"]["resolved_n_ids"] == n_assistant
    assert exp["fields"][0]["admission"]["driver_eligible"] is True
    assert exp["path"] in ("driver", "empty")


def test_explain_doc_after_upsert_finds_live_row(spark, tmp_root):
    """Until compaction an upserted key has two docs rows with the same
    ``doc``: the tombstoned old one and the live one in the merge's new
    segment. explain_doc explains the live row, which search() returns."""
    tbl = generate_transcripts(300, max_tokens=30).to_pandas()
    updated = tbl.iloc[:5].copy()
    updated["text"] = "upsertmarker " + updated["text"]
    base_src = os.path.join(tmp_root, "xp_up_base.parquet")
    delta_src = os.path.join(tmp_root, "xp_up_delta.parquet")
    pq.write_table(pa.Table.from_pandas(tbl, preserve_index=False), base_src)
    pq.write_table(pa.Table.from_pandas(updated, preserve_index=False), delta_src)
    ix = os.path.join(tmp_root, "ix_xp_up")
    build_index(spark, spark.read.parquet(base_src), ix, analyzer="standard", n_segments=2)
    res = merge_delta(spark, IndexPaths(ix), spark.read.parquet(delta_src))
    assert res["n_tombstoned"] == 5
    eng = SearchEngine(spark, {"standard": ix})
    q = Query("xp_up", "term", [["upsertmarker"]], k=10)
    hits = eng.search(q).collect()
    assert len(hits) == 5
    for r in hits:
        exp = eng.explain_doc(q, r["doc"])
        assert exp["found"] and exp["matched"], exp
        assert exp["doc_id"] >> SEG_SHIFT in res["new_segs"]
        assert not eng._is_tombstoned("standard", exp["doc_id"])
        assert exp["score"] == pytest.approx(r["score"], abs=1e-9)
