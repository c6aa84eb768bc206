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
