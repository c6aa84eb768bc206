"""The chunked segment indexer is BIT-IDENTICAL to a whole-segment pass.

The r5 scaling work split the indexer's object-heavy tokenize/factorize/
lexsort stage into cache-sized chunks (builder.INDEX_CHUNK_DOCS) merged by an
int-only per-segment lexsort. These tests pin that the merge reproduces the
exact whole-segment output — every column of every block, including the
compressed varint streams — for several chunk sizes and analyzers, so the
on-disk index layout cannot depend on the knob.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from intuition_spark.index.builder import _make_segment_indexer

WORDS = [
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "running", "jumps",
    "the", "a", "of", "retriever", "transcripts", "spark", "query", "index",
    "bm25", "token", "stream", "merge",
]


def _corpus(n_docs: int, seed: int) -> list[str]:
    rng = np.random.default_rng(seed)
    docs = []
    for i in range(n_docs):
        n_tok = int(rng.integers(0, 40))
        docs.append(" ".join(rng.choice(WORDS, size=n_tok)))
    # a few degenerate docs: empty, whitespace, punctuation-only
    docs[0] = ""
    if n_docs > 3:
        docs[3] = "   "
    if n_docs > 7:
        docs[7] = "!!! ??? ..."
    return docs


def _run(analyzer: str, chunk_docs: int, docs, ids):
    fn = _make_segment_indexer(analyzer, chunk_docs=chunk_docs)
    batch = pa.record_batch(
        {
            "seg": pa.array(np.full(len(ids), 5, dtype=np.int32), type=pa.int32()),
            "doc_id": pa.array(ids, type=pa.int64()),
            "text": pa.array(docs, type=pa.string()),
        }
    )
    out = list(fn(iter([batch])))
    assert len(out) <= 1
    return out[0] if out else None


@pytest.mark.parametrize("chunk_docs", [7, 64, 333, 1000])
@pytest.mark.parametrize("analyzer", ["standard", "ws"])
def test_chunked_bit_identical(chunk_docs, analyzer):
    docs = _corpus(1500, seed=42)
    ids = np.arange(1500, dtype=np.int64) + (5 << 40)
    whole = _run(analyzer, 10**9, docs, ids)
    chunked = _run(analyzer, chunk_docs, docs, ids)
    assert whole is not None and chunked is not None
    assert whole.schema == chunked.schema
    assert whole.num_rows == chunked.num_rows
    for name in whole.schema.names:
        a, b = whole.column(name), chunked.column(name)
        assert a.equals(b), f"column {name} differs at chunk_docs={chunk_docs}"


def test_chunked_unsorted_input_identical():
    # doc ids arrive shuffled (multi-row-group scan order): the argsort
    # prefix must put both paths on the same footing
    rng = np.random.default_rng(3)
    docs = _corpus(600, seed=3)
    ids = np.arange(600, dtype=np.int64)
    perm = rng.permutation(600)
    whole = _run("standard", 10**9, [docs[i] for i in perm], ids[perm])
    chunked = _run("standard", 128, [docs[i] for i in perm], ids[perm])
    for name in whole.schema.names:
        assert whole.column(name).equals(chunked.column(name)), name


def test_all_empty_chunks_yield_none():
    docs = ["", "  ", "???"] * 10
    ids = np.arange(30, dtype=np.int64)
    assert _run("standard", 4, docs, ids) is None
