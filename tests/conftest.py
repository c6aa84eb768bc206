import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from intuition_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("intuition-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tmp_root():
    path = "/tmp/intuition_spark_test"
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    yield path


@pytest.fixture(scope="session")
def assert_reader_matches_spark():
    """Check that the engine's driver-local postings reader returns the
    blocks of the equivalent Spark scan, ``_blocks(a, terms)
    .select(*cols).toPandas()``, row for row after sorting by
    (seg, term, first_doc), with equal dtypes. Returns the reader's rows."""
    import pandas as pd

    def check(eng, a: str, terms: list[str], with_positions: bool = False):
        cols = eng._BLOCK_COLS + (["pos_bin"] if with_positions else [])
        key = ["seg", "term", "first_doc"]
        got = eng._local(a, "postings").read(terms, cols)
        want = eng._blocks(a, terms).select(*cols).toPandas()
        pd.testing.assert_frame_equal(
            got.sort_values(key).reset_index(drop=True),
            want.sort_values(key).reset_index(drop=True),
        )
        return got

    return check


@pytest.fixture
def assert_fq_ids_match_spark(monkeypatch):
    """Check that `_fq_ids` of a one-predicate query equals the sorted
    doc_ids of ``_docs(a).filter(_fq_cond(...))``, and that its FQ_MAX_IDS
    bound holds: the match count resolves to that array, one below it to
    None (oversize)."""
    import numpy as np

    def check(eng, q):
        a = eng._route(q)
        ((fcol, fval),) = eng._fq_preds(q)
        rows = eng._docs(a).filter(eng._fq_cond(a, fcol, fval)).select("doc_id").collect()
        want = sorted(r["doc_id"] for r in rows)
        assert 0 < len(want) < eng.stats[a]["N"], f"{q.query_id}: predicate does not filter"
        for bound, expect in ((len(want), want), (len(want) - 1, None)):
            monkeypatch.setattr(eng, "FQ_MAX_IDS", bound)
            eng._fq_cache.clear()
            got = eng._fq_ids(a, q)
            assert (got if got is None else got.tolist()) == expect, f"{q.query_id} @ {bound}"
            assert got is None or got.dtype == np.int64

    return check


def _capture(monkeypatch, method: str) -> list:
    """Every frame ``SearchEngine.<method>`` builds while the test runs."""
    from intuition_spark.query.engine import SearchEngine

    frames: list = []
    build = getattr(SearchEngine, method)

    def spy(self, *args, **kwargs):
        frames.append(build(self, *args, **kwargs))
        return frames[-1]

    monkeypatch.setattr(SearchEngine, method, spy)
    return frames


@pytest.fixture
def kernel_stages(monkeypatch):
    """The distributed placement's lazy kernel stages, in order: their plans
    are no longer part of the collected result's."""
    return _capture(monkeypatch, "_kernel_stage")


@pytest.fixture
def precuts(monkeypatch):
    """The Spark-side cuts of distributed queries whose kernel could emit
    more rows than a direct collect admits, in order."""
    return _capture(monkeypatch, "_precut")
