"""Array-valued field predicates (the reference's multi-valued `authors:"…"`
contains-match, SolrServiceImpl.java:397-404): builder `extra_meta_cols`
passes an array column through to the docs store, `register_field_col`
admits it to field_eq, and the engine resolves it with array_contains
semantics through the same filterCache on every mode."""

import os
from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from intuition_spark.corpus import generate_transcripts
from intuition_spark.index.builder import build_index
from intuition_spark.query.ast import Query, register_field_col
from intuition_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def tag_engine(spark, tmp_root):
    register_field_col("tags")
    tbl = generate_transcripts(2500, max_tokens=30).to_pandas()
    # deterministic multi-valued column: [role, t<turn%3>]
    tbl["tags"] = [[r, f"t{int(t) % 3}"] for r, t in zip(tbl["role"], tbl["turn_idx"])]
    src = os.path.join(tmp_root, "tags.parquet")
    pq.write_table(pa.Table.from_pandas(tbl, preserve_index=False), src)
    ix = os.path.join(tmp_root, "ix_tags")
    build_index(
        spark, spark.read.parquet(src), ix, analyzer="standard", n_segments=4,
        extra_meta_cols=["tags"],
    )
    eng = SearchEngine(spark, {"standard": ix})
    return eng, tbl


def _rows(df):
    return [(r["doc"], round(r["score"], 9)) for r in df.collect()]


@pytest.mark.parametrize("mode", ["auto", "wand", "exhaustive"])
@pytest.mark.parametrize("tag", ["t1", "assistant"])
def test_array_contains_fq_all_modes(tag_engine, mode, tag):
    """Filtered ranking == unfiltered ranking restricted to docs whose tag
    array contains the value (fq semantics: filter, then rank) — the oracle
    membership comes straight from the source table."""
    eng, pdf = tag_engine
    tagged = {
        f"{c}:{t}" for c, t, tags in zip(pdf["conv_id"], pdf["turn_idx"], pdf["tags"])
        if tag in tags
    }
    base = Query("afq", "term", [["query"]], k=10_000)
    unfiltered = _rows(eng.search(base, mode=mode))
    expected = [r for r in unfiltered if r[0] in tagged]
    got = _rows(eng.search(replace(base, field_eq={"tags": tag}), mode=mode))
    assert got == expected
    assert len(got) > 0


def test_array_fq_through_filter_cache(tag_engine):
    """Second query with the same predicate must hit the fq cache (no new
    resolution entry) and return identical results."""
    eng, _ = tag_engine
    q = Query("afq_c1", "term", [["query"]], k=50, field_eq={"tags": "t2"})
    first = _rows(eng.search(q))
    n_keys = len(eng._fq_cache)
    again = _rows(eng.search(replace(q, query_id="afq_c2", k=50)))
    assert again == first
    assert len(eng._fq_cache) == n_keys  # cached predicate reused


def test_array_fq_composes_with_scalar_fq(tag_engine):
    eng, pdf = tag_engine
    q = Query("afq_both", "term", [["query"]], k=10_000,
              field_eq={"tags": "t0", "role": "user"})
    got = _rows(eng.search(q, mode="exhaustive"))
    allowed = {
        f"{c}:{t}" for c, t, tags, role in
        zip(pdf["conv_id"], pdf["turn_idx"], pdf["tags"], pdf["role"])
        if "t0" in tags and role == "user"
    }
    assert got and all(doc in allowed for doc, _ in got)


def test_array_fq_ids_equal_spark_predicate(tag_engine, assert_fq_ids_match_spark):
    eng, _ = tag_engine
    assert_fq_ids_match_spark(eng, Query("afq_ids", "term", [["query"]], field_eq={"tags": "t1"}))


def test_unregistered_field_still_rejected():
    with pytest.raises(ValueError, match="field_eq supports"):
        Query("bad", "term", [["x"]], field_eq={"nope": "x"})


def test_extra_cols_survive_merge_and_compact(spark, tmp_root):
    """Incremental maintenance must not drop extra stored-metadata columns:
    delta segments carry the column (NULL-filled when the delta frame lacks
    it), array fq keeps working over old + new docs, and compact() preserves
    the column through the rewrite instead of deleting it permanently."""
    register_field_col("tags")
    from intuition_spark.index.builder import IndexPaths
    from intuition_spark.index.incremental import compact, merge_delta

    tbl = generate_transcripts(800, max_tokens=25).to_pandas()
    base, fresh = tbl.iloc[:600].copy(), tbl.iloc[600:].copy()
    base["tags"] = [[r, "base"] for r in base["role"]]
    fresh["tags"] = [[r, "delta"] for r in fresh["role"]]
    base_src = os.path.join(tmp_root, "emc_base.parquet")
    pq.write_table(pa.Table.from_pandas(base, preserve_index=False), base_src)
    fresh_src = os.path.join(tmp_root, "emc_delta.parquet")
    pq.write_table(pa.Table.from_pandas(fresh, preserve_index=False), fresh_src)

    ix = os.path.join(tmp_root, "ix_emc")
    build_index(spark, spark.read.parquet(base_src), ix, analyzer="standard",
                n_segments=2, extra_meta_cols=["tags"])
    eng = SearchEngine(spark, {"standard": ix})
    q_all = Query("emc", "term", [["word"]], k=100_000)
    n_base_tagged = eng.search(
        replace(q_all, field_eq={"tags": "base"}), mode="exhaustive"
    ).count()
    assert n_base_tagged > 0

    # delta WITH the column: new docs must be findable by their tag
    merge_delta(spark, IndexPaths(ix), spark.read.parquet(fresh_src))
    eng.refresh()
    got_delta = eng.search(
        replace(q_all, query_id="emc_d", field_eq={"tags": "delta"}), mode="exhaustive"
    )
    docs_schema = spark.read.parquet(os.path.join(ix, "docs")).schema
    assert "tags" in docs_schema.fieldNames()
    assert got_delta.count() > 0

    # delta WITHOUT the column: appended as NULL, engine still consistent
    more = fresh.copy().drop(columns=["tags"])
    more["conv_id"] = more["conv_id"] + "_x"
    more_src = os.path.join(tmp_root, "emc_delta2.parquet")
    pq.write_table(pa.Table.from_pandas(more, preserve_index=False), more_src)
    merge_delta(spark, IndexPaths(ix), spark.read.parquet(more_src))
    eng.refresh()
    assert eng.search(
        replace(q_all, query_id="emc_b2", field_eq={"tags": "base"}), mode="exhaustive"
    ).count() == n_base_tagged

    # compact must preserve the column and the fq results
    compact(spark, IndexPaths(ix))
    eng.refresh()
    import json

    stats = json.load(open(os.path.join(ix, "stats.json")))
    assert stats["extra_meta_cols"] == ["tags"]
    assert eng.search(
        replace(q_all, query_id="emc_b3", field_eq={"tags": "base"}), mode="exhaustive"
    ).count() == n_base_tagged
