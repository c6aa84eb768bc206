"""Incremental maintenance (B9/B10): delta segments, tombstoned upserts,
compaction. Lucene-model semantics: deleted docs never surface in results;
corpus stats (df/avgdl) include them until compaction, after which the index
is rank-identical to a from-scratch build over the logical corpus."""

import os

import pyarrow.parquet as pq
import pytest

from intuition_spark.analysis.analyzers import analyze_text
from intuition_spark.corpus import generate_transcripts
from intuition_spark.index.builder import IndexPaths, build_index
from intuition_spark.index.incremental import compact, merge_delta
from intuition_spark.oracle.bm25_oracle import build_oracle_index, oracle_search
from intuition_spark.query.ast import Query
from intuition_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def setup(spark, tmp_root):
    tbl = generate_transcripts(1200, max_tokens=40).to_pandas()
    base = tbl.iloc[:900].copy()
    fresh = tbl.iloc[900:].copy()
    # updates: rewrite 30 existing turns with new text (upsert case)
    updated = base.iloc[:30].copy()
    updated["text"] = "braf v600e inhibitor resistance updated " + updated["turn_idx"].astype(str)
    delta = __import__("pandas").concat([fresh, updated], ignore_index=True)

    base_src = os.path.join(tmp_root, "inc_base.parquet")
    delta_src = os.path.join(tmp_root, "inc_delta.parquet")
    import pyarrow as pa

    pq.write_table(pa.Table.from_pandas(base, preserve_index=False), base_src)
    pq.write_table(pa.Table.from_pandas(delta, preserve_index=False), delta_src)

    ix_dir = os.path.join(tmp_root, "ix_inc")
    build_index(spark, spark.read.parquet(base_src), ix_dir, analyzer="standard", n_segments=4)
    res = merge_delta(spark, IndexPaths(ix_dir), spark.read.parquet(delta_src))

    # the logical corpus after upsert: base minus updated keys, plus delta
    keys = set(zip(delta["conv_id"], delta["turn_idx"]))
    final = [r for r in base.to_dict("records") if (r["conv_id"], r["turn_idx"]) not in keys]
    final += delta.to_dict("records")
    return ix_dir, res, final, len(delta)


def test_merge_reports(setup):
    _, res, _, n_delta = setup
    assert res["n_delta"] == n_delta
    assert res["n_tombstoned"] == 30
    assert len(res["new_segs"]) >= 1


def test_tombstoned_docs_never_surface(spark, setup):
    ix_dir, _, final, _ = setup
    eng = SearchEngine(spark, {"standard": ix_dir})
    oracle = build_oracle_index(final, "standard")
    # superseded turns no longer contain their old zipf text; the updated text
    # contains 'braf v600e inhibitor resistance' — all 30 must be findable
    q = Query("inc_upd", "and", [["inhibitor"], ["resistance"]], k=50)
    got = {r["doc"] for r in eng.search(q, mode="wand").collect()}
    exp = {d for d, _ in oracle_search(oracle, q)}
    assert exp <= got or got == exp  # oracle stats differ pre-compact; doc SET must cover
    assert len(got & exp) == len(exp)


def test_compact_restores_rank_identity(spark, setup):
    ix_dir, _, final, _ = setup
    compact(spark, IndexPaths(ix_dir))
    assert not os.path.exists(os.path.join(ix_dir, "tombstones"))
    eng = SearchEngine(spark, {"standard": ix_dir})
    oracle = build_oracle_index(final, "standard")
    for q in [
        Query("c1", "term", [["braf"]], k=10),
        Query("c2", "and", [["inhibitor"], ["resistance"]], k=20),
        Query("c3", "or_groups", [["braf", "kras"], ["v600e", "g12c"]], k=10),
        Query("c4", "phrase", [["braf v600e"]], k=10),
    ]:
        exp = oracle_search(oracle, q)
        for mode in ("exhaustive", "wand") if q.kind != "phrase" else ("exhaustive",):
            got = [(r["doc"], r["score"]) for r in eng.search(q, mode=mode).collect()]
            assert [d for d, _ in got] == [d for d, _ in exp], f"{q.query_id} [{mode}]"
            for (gd, gs), (ed, es) in zip(got, exp):
                assert abs(gs - es) < 1e-6


def test_block_cache_invalidated_by_refresh(spark, tmp_root):
    """The serving block cache holds immutable segment blocks; after an
    incremental merge, refresh() must drop it so new delta postings serve —
    a stale cache would silently hide merged docs."""
    import pandas as pd
    import pyarrow as pa

    tbl = generate_transcripts(400, max_tokens=30).to_pandas()
    base, delta = tbl.iloc[:300].copy(), tbl.iloc[300:].copy()
    delta["text"] = delta["text"] + " cachemarker"
    base_src = os.path.join(tmp_root, "cc_base.parquet")
    delta_src = os.path.join(tmp_root, "cc_delta.parquet")
    pq.write_table(pa.Table.from_pandas(base, preserve_index=False), base_src)
    pq.write_table(pa.Table.from_pandas(delta, preserve_index=False), delta_src)

    ix = os.path.join(tmp_root, "ix_cc")
    build_index(spark, spark.read.parquet(base_src), ix, analyzer="standard", n_segments=2)
    eng = SearchEngine(spark, {"standard": ix})
    q = Query("cc", "term", [["cachemarker"]], k=500)
    assert len(eng.search(q).collect()) == 0  # also caches the (empty) term
    assert eng._block_cache and eng._local_readers

    merge_delta(spark, IndexPaths(ix), spark.read.parquet(delta_src))
    eng.refresh()
    # the local reader's cached listing/footers go with the block cache: a
    # stale listing would miss the delta's seg= directories
    assert not eng._block_cache and not eng._local_readers
    hits = eng.search(q).collect()
    assert len(hits) == len(delta)
    assert eng.last_path == "driver"

    # compaction rewrites every file under new names: a term fetched before
    # it serves from the rewritten files after refresh(), at oracle rank
    assert eng._block_cache and eng._local_readers
    compact(spark, IndexPaths(ix))
    eng.refresh()
    assert not eng._block_cache and not eng._local_readers
    got = [(r["doc"], r["score"]) for r in eng.search(q).collect()]
    assert eng.last_path == "driver"
    oracle = build_oracle_index(pd.concat([base, delta]).to_dict("records"), "standard")
    exp = oracle_search(oracle, q)
    assert len(exp) == len(delta)
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (_, gs), (_, es) in zip(got, exp):
        assert abs(gs - es) < 1e-6


def test_local_reader_matches_spark_scan(spark, tmp_root, assert_reader_matches_spark):
    """The driver-local postings reader returns the Spark scan's blocks on a
    fresh build, after merge_delta + refresh() (the delta's segments are
    listed) and after compact + refresh() (every file rewritten), for
    present and absent terms, with and without positions."""
    import pandas as pd
    import pyarrow as pa

    tbl = generate_transcripts(400, max_tokens=30).to_pandas()
    base = tbl.iloc[:300].copy()
    upd = base.iloc[:20].copy()
    upd["text"] = "readermarker " + upd["text"]
    delta = pd.concat([tbl.iloc[300:], upd], ignore_index=True)
    base_src = os.path.join(tmp_root, "lr_base.parquet")
    delta_src = os.path.join(tmp_root, "lr_delta.parquet")
    pq.write_table(pa.Table.from_pandas(base, preserve_index=False), base_src)
    pq.write_table(pa.Table.from_pandas(delta, preserve_index=False), delta_src)

    ix = os.path.join(tmp_root, "ix_lr")
    build_index(spark, spark.read.parquet(base_src), ix, analyzer="standard", n_segments=2)
    eng = SearchEngine(spark, {"standard": ix})
    ((marker, _),) = analyze_text("readermarker", "standard")
    terms = sorted(eng._dict_cache["standard"])[::40] + [marker, "zzzabsentterm"]

    def check(n_segments):
        for pos in (False, True):
            got = assert_reader_matches_spark(eng, "standard", terms, pos)
            assert len(got)
        assert {f[0] for f in eng._local("standard", "postings").files} == set(range(n_segments))
        return got

    assert marker not in set(check(2)["term"])
    res = merge_delta(spark, IndexPaths(ix), spark.read.parquet(delta_src))
    eng.refresh()
    got = check(2 + len(res["new_segs"]))
    assert set(got.loc[got["term"] == marker, "seg"]) == set(res["new_segs"])
    compact(spark, IndexPaths(ix))
    eng.refresh()
    check(eng.stats["standard"]["n_segments"])


def test_fq_cache_respects_merge_without_refresh(spark, tmp_root):
    """The r3 filterCache (predicate -> doc_id array) is keyed with the
    on-disk index state, like the result cache: after merge_delta tombstones
    a doc, a REPEATED fq query must stop serving the superseded version and
    surface the new one, even with refresh() never called."""
    import pandas as pd
    import pyarrow as pa

    tbl = generate_transcripts(400, max_tokens=30).to_pandas()
    base = tbl.iloc[:300].copy()
    base.loc[base.index[:40], "text"] = "fqmarker alpha " + base["turn_idx"].astype(str)
    # supersede 10 of the marked turns: new text WITHOUT the marker
    upd = base.iloc[:10].copy()
    upd["text"] = "replaced content nothing here"
    base_src = os.path.join(tmp_root, "fq_base.parquet")
    delta_src = os.path.join(tmp_root, "fq_delta.parquet")
    pq.write_table(pa.Table.from_pandas(base, preserve_index=False), base_src)
    pq.write_table(pa.Table.from_pandas(upd, preserve_index=False), delta_src)

    ix = os.path.join(tmp_root, "ix_fqinc")
    build_index(spark, spark.read.parquet(base_src), ix, analyzer="standard", n_segments=2)
    eng = SearchEngine(spark, {"standard": ix})
    roles = sorted(set(base.iloc[:40]["role"]))
    qs = [Query(f"fqi_{r}", "term", [["fqmarker"]], k=100, field_eq={"role": r})
          for r in roles]
    pre = {q.query_id: {x["doc"] for x in eng.search(q, mode="wand").collect()} for q in qs}
    assert sum(len(v) for v in pre.values()) == 40  # all marked turns, role-partitioned

    merge_delta(spark, IndexPaths(ix), spark.read.parquet(delta_src))
    superseded = {f"{r.conv_id}:{r.turn_idx}" for r in upd.itertuples(index=False)}
    post = {q.query_id: {x["doc"] for x in eng.search(q, mode="wand").collect()} for q in qs}
    got_all = set().union(*post.values())
    assert not (got_all & superseded), "tombstoned docs surfaced through the fq cache"
    assert sum(len(v) for v in post.values()) == 30
