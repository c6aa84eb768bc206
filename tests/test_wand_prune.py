"""Block-max WAND pruning: identical top-k to exhaustive, strictly fewer
blocks decoded on skewed (rare AND frequent) queries — driver-side over the
same TermBlocks the distributed scorer uses."""

import numpy as np
import pytest

from intuition_spark.index import codec
from intuition_spark.query.wand import TermBlocks, score_segment_topk

AVGDL = 100.0


def _make_term_blocks(term, gid, idf, docs, tfs, dls):
    """Build TermBlocks from raw posting arrays (sorted by doc)."""
    first, last, maxtf, mindl, ns = [], [], [], [], []
    docs_bin, tfs_bin, dls_bin = [], [], []
    for s in range(0, len(docs), codec.BLOCK_SIZE):
        e = min(s + codec.BLOCK_SIZE, len(docs))
        first.append(docs[s])
        last.append(docs[e - 1])
        maxtf.append(tfs[s:e].max())
        mindl.append(dls[s:e].min())
        ns.append(e - s)
        docs_bin.append(codec.delta_encode(docs[s:e]))
        tfs_bin.append(codec.varint_encode(tfs[s:e].astype(np.uint64)))
        dls_bin.append(codec.varint_encode(dls[s:e].astype(np.uint64)))
    return TermBlocks(
        term=term, gid=gid, idf=idf,
        first=np.array(first, np.int64), last=np.array(last, np.int64),
        max_tf=np.array(maxtf, np.int64), min_dl=np.array(mindl, np.int64),
        avgdl=AVGDL, docs_bin=docs_bin, tfs_bin=tfs_bin, dls_bin=dls_bin,
        ns=np.array(ns, np.int64),
    )


@pytest.fixture
def skewed_terms():
    rng = np.random.default_rng(0)
    # frequent term: 50k postings over a wide doc range
    freq_docs = np.sort(rng.choice(200_000, size=50_000, replace=False)).astype(np.int64)
    freq_tfs = rng.integers(1, 5, size=freq_docs.size)
    freq_dls = rng.integers(50, 200, size=freq_docs.size)
    # rare term: 40 postings clustered in a narrow range
    rare_docs = np.sort(rng.choice(np.arange(90_000, 95_000), size=40, replace=False)).astype(np.int64)
    rare_tfs = rng.integers(1, 8, size=rare_docs.size)
    rare_dls = rng.integers(50, 200, size=rare_docs.size)

    def build():
        return [
            _make_term_blocks("freq", 0, 0.4, freq_docs, freq_tfs, freq_dls),
            _make_term_blocks("rare", 1, 7.5, rare_docs, rare_tfs, rare_dls),
        ]

    return build


def test_and_query_driver_group_bounds_decode(skewed_terms):
    s_prune, s_full = {}, {}
    d1, sc1 = score_segment_topk(skewed_terms(), 2, 10, prune=True, stats=s_prune)
    d2, sc2 = score_segment_topk(skewed_terms(), 2, 10, prune=False, stats=s_full)
    assert np.array_equal(d1, d2)
    assert np.allclose(sc1, sc2)
    # the rare driver group bounds candidate ranges: only the frequent-term
    # blocks overlapping the rare term's doc range are ever decoded
    assert s_prune["blocks_decoded"] < s_prune["blocks_total"] / 10
    assert s_prune["blocks_decoded"] <= s_full["blocks_decoded"]


def test_or_query_pruning(skewed_terms):
    # single OR group of both terms: candidates = every block, pruning must
    # stop early once the threshold beats remaining upper bounds
    tbs = skewed_terms()
    for tb in tbs:
        tb.gid = 0
    s_prune, s_full = {}, {}
    d1, sc1 = score_segment_topk(tbs, 1, 10, prune=True, stats=s_prune)
    tbs2 = skewed_terms()
    for tb in tbs2:
        tb.gid = 0
    d2, sc2 = score_segment_topk(tbs2, 1, 10, prune=False, stats=s_full)
    assert np.array_equal(d1, d2)
    assert np.allclose(sc1, sc2)
    assert s_prune["ranges_scored"] < s_full["ranges_scored"]


def test_tie_boundary_canonical_docids():
    """Exact score ties across blocks: the per-segment top-k must be the
    SMALLEST doc ids (rank tie-break is doc_id asc). Pre-r3-fix, equal-ub
    ranges were visited largest-lo first and skipped at ub == threshold, so
    a corpus of duplicated docs returned the LARGEST ids under pruning."""
    n = 2000
    docs = np.arange(n, dtype=np.int64)
    tfs = np.ones(n, dtype=np.int64)
    dls = np.full(n, 4, dtype=np.int64)  # identical docs -> identical scores
    for k in (1, 7, 13, 128, 300):
        tb = [_make_term_blocks("dup", 0, 1.3, docs, tfs, dls)]
        d_p, s_p = score_segment_topk(tb, 1, k, prune=True)
        tb2 = [_make_term_blocks("dup", 0, 1.3, docs, tfs, dls)]
        d_f, s_f = score_segment_topk(tb2, 1, k, prune=False)
        assert np.array_equal(np.sort(d_p), np.arange(k)), f"k={k}: {np.sort(d_p)[:5]}"
        assert np.array_equal(np.sort(d_p), np.sort(d_f))
        assert np.allclose(np.sort(s_p), np.sort(s_f))


def test_tie_boundary_partial_ties():
    """k boundary inside a tie plateau that spans a block edge: the plateau
    members with the smallest ids must win, even when a higher-scoring block
    fills the heap first."""
    rng = np.random.default_rng(7)
    n = 1500
    docs = np.arange(n, dtype=np.int64)
    # docs 0..999 identical mid score; docs 1000..1499 higher varied scores
    tfs = np.concatenate([np.ones(1000), rng.integers(3, 9, 500)]).astype(np.int64)
    dls = np.concatenate([np.full(1000, 80), np.full(500, 60)]).astype(np.int64)
    k = 520  # 500 high scorers + first 20 of the tie plateau
    tb = [_make_term_blocks("t", 0, 2.0, docs, tfs, dls)]
    d_p, _ = score_segment_topk(tb, 1, k, prune=True)
    tb2 = [_make_term_blocks("t", 0, 2.0, docs, tfs, dls)]
    d_f, _ = score_segment_topk(tb2, 1, k, prune=False)
    assert np.array_equal(np.sort(d_p), np.sort(d_f))
    plateau = np.sort(d_p)[np.sort(d_p) < 1000]
    assert np.array_equal(plateau, np.arange(plateau.size)), "smallest tie ids must win"
