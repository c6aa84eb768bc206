"""Deep paging (S7/T3 — `SolrClientTool.deepPage`, util/SolrClientTool.java:
216-233): paging through a full result set with Query.offset must reproduce
the one-shot canonical order exactly, page-boundary ties included, on BOTH
the driver fast path and the distributed paths."""

import os
from dataclasses import replace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from intuition_spark.corpus import generate_transcripts
from intuition_spark.index.builder import build_index
from intuition_spark.query.ast import Query
from intuition_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def paging_engine(spark, tmp_root):
    tbl = generate_transcripts(8000, max_tokens=60)
    src = os.path.join(tmp_root, "paging.parquet")
    pq.write_table(tbl, src)
    ix = os.path.join(tmp_root, "ix_paging")
    build_index(spark, spark.read.parquet(src), ix, analyzer="standard", n_segments=4)
    return SearchEngine(spark, {"standard": ix})


QUERIES = [
    Query("pg_term", "term", [["query"]], k=0),
    Query("pg_and", "and", [["query"], ["index"]], k=0),
    Query("pg_or", "or_groups", [["query", "index"], ["search", "token"]], k=0),
    Query("pg_phrase", "phrase", [["braf v600e"]], k=0),
    Query("pg_tf", "tf_sort", [["query"]], k=0),
    Query("pg_wild", "wildcard", [["inhibit*"]], k=0),
    Query("pg_fq", "term", [["query"]], k=0, field_eq={"role": "assistant"}),
]


def _rows(df):
    return [(r["doc"], round(r["score"], 9), r["conv_id"], r["turn_idx"]) for r in df.collect()]


@pytest.mark.parametrize("mode", ["auto", "exhaustive"])
@pytest.mark.parametrize("q", QUERIES, ids=[q.query_id for q in QUERIES])
def test_pages_concatenate_to_oneshot(paging_engine, q, mode):
    eng = paging_engine
    full = _rows(eng.search(replace(q, k=10_000), mode=mode))
    assert len(full) > 12, "fixture query must have enough hits to page"
    page_k = 5
    paged = []
    off = 0
    while True:
        page = _rows(eng.search(replace(q, k=page_k, offset=off), mode=mode))
        paged.extend(page)
        off += page_k
        if len(page) < page_k:
            break
    assert paged == full


def test_wand_mode_pages(paging_engine):
    """Explicit WAND path: page boundary inside a score-tie plateau must not
    reorder or drop ties (the per-segment heap keeps offset+k candidates)."""
    eng = paging_engine
    q = Query("pg_wand", "and", [["query"], ["index"]], k=10_000)
    full = _rows(eng.search(q, mode="wand"))
    paged = []
    for off in range(0, len(full) + 7, 7):
        paged.extend(_rows(eng.search(replace(q, k=7, offset=off), mode="wand")))
    assert paged[: len(full)] == full


def test_page_helper_matches_offset_query(paging_engine):
    eng = paging_engine
    q = Query("pg_helper", "term", [["query"]], k=5)
    direct = _rows(eng.search(replace(q, offset=10)))
    helper = _rows(eng.page(q, offset=10))
    assert helper == direct


def test_offset_beyond_result_set_is_empty(paging_engine):
    eng = paging_engine
    q = Query("pg_past_end", "term", [["query"]], k=5, offset=10_000_000)
    assert eng.search(q).count() == 0


def test_negative_offset_rejected():
    with pytest.raises(ValueError):
        Query("pg_bad", "term", [["x"]], offset=-1)
