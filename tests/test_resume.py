"""Resumable index build (B9): kill after N segments, restart, identical index
(SURVEY.md §5.2 layer 6)."""

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from intuition_spark.corpus import generate_transcripts
from intuition_spark.index import snapshots
from intuition_spark.index.builder import (
    IndexPaths,
    build_dictionary,
    build_index,
    build_postings,
    prepare_docs,
)
from intuition_spark.index.incremental import merge_delta
from intuition_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def corpus_df(spark, tmp_root):
    import pyarrow.parquet as pq

    tbl = generate_transcripts(800, max_tokens=40)
    src = os.path.join(tmp_root, "resume_corpus.parquet")
    pq.write_table(tbl, src)
    return spark.read.parquet(src)


def _index_fingerprint(spark, root: str):
    p = IndexPaths(root)
    blocks = (
        spark.read.parquet(p.postings)
        .select("seg", "term", "blk", "n", "first_doc", "last_doc", "tf_sum",
                F.md5(F.hex("docs_bin")).alias("dh"), F.md5(F.hex("tfs_bin")).alias("th"))
        .orderBy("seg", "term", "blk")
        .collect()
    )
    return [tuple(r) for r in blocks]


def _resume_stages(spark, corpus_df, paths):
    build_postings(spark, paths, segs_per_job=2, resume=True)
    build_dictionary(spark, paths)


def _resume_build_index(spark, corpus_df, paths):
    build_index(spark, corpus_df, paths.root, analyzer="standard", n_segments=6,
                segs_per_job=2, resume=True)


def test_resume_after_injected_failure(spark, tmp_root, corpus_df):
    full_dir = os.path.join(tmp_root, "ix_full")
    build_index(spark, corpus_df, full_dir, analyzer="standard", n_segments=6, segs_per_job=2)
    expected = _index_fingerprint(spark, full_dir)

    # resume through the stages, and through build_index(resume=True)
    for name, resume in (("ix_partial", _resume_stages), ("ix_partial_bi", _resume_build_index)):
        paths = IndexPaths(os.path.join(tmp_root, name))
        os.makedirs(paths.root, exist_ok=True)
        prepare_docs(spark, corpus_df, paths, analyzer="standard", n_segments=6)
        with pytest.raises(RuntimeError, match="injected failure"):
            build_postings(spark, paths, segs_per_job=2, fail_after_segs=2)
        done_before = spark.read.parquet(paths.manifest).filter(F.col("status") == "done").count()
        assert 0 < done_before < 6

        # resume: skips completed segments, finishes the rest
        resume(spark, corpus_df, paths)
        assert _index_fingerprint(spark, paths.root) == expected

        # resume again: everything done → no-op, index unchanged
        resume(spark, corpus_df, paths)
        assert _index_fingerprint(spark, paths.root) == expected
        assert spark.read.parquet(paths.manifest).count() == 6  # no segment built twice


def test_manifest_records_all_segments(spark, tmp_root):
    p = IndexPaths(os.path.join(tmp_root, "ix_full"))
    m = spark.read.parquet(p.manifest)
    assert m.filter(F.col("status") == "done").select("seg").distinct().count() == 6


def _seg_dirs(root: str) -> list[str]:
    return sorted(d for d in os.listdir(IndexPaths(root).postings) if d.startswith("seg="))


def test_build_index_job_rebuilds_like_build_index(spark, tmp_root, corpus_df):
    """scripts/build_index_job.py over an index with more segments and live
    tombstones leaves what a clean build_index of the same input leaves."""
    import pyarrow.parquet as pq

    src = os.path.join(tmp_root, "resume_corpus.parquet")
    delta = pq.read_table(src).slice(0, 30).to_pandas()
    delta["text"] = "braf v600e inhibitor resistance updated"
    delta_src = os.path.join(tmp_root, "resume_delta.parquet")
    delta.to_parquet(delta_src, index=False)

    job_dir = os.path.join(tmp_root, "ix_job")
    build_index(spark, corpus_df, job_dir, analyzer="standard", n_segments=6)
    res = merge_delta(spark, IndexPaths(job_dir), spark.read.parquet(delta_src))
    assert res["n_tombstoned"] == 30
    assert len(_seg_dirs(job_dir)) == 7
    assert os.path.isdir(os.path.join(job_dir, "tombstones"))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, os.path.join(repo, "scripts", "build_index_job.py"),
         "--input", src, "--output", job_dir, "--segments", "4"],
        env=dict(os.environ, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g"),
        capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    metrics = json.loads(out.stdout.strip().splitlines()[-1])
    assert metrics["n_turns"] == 800
    assert min(metrics[f"{s}_stage_s"] for s in ("docs", "postings", "dictionary")) > 0

    clean_dir = os.path.join(tmp_root, "ix_job_clean")
    build_index(spark, corpus_df, clean_dir, analyzer="standard", n_segments=4)
    assert _seg_dirs(job_dir) == _seg_dirs(clean_dir) == [f"seg={i}" for i in range(4)]
    assert _index_fingerprint(spark, job_dir) == _index_fingerprint(spark, clean_dir)
    assert not os.path.exists(os.path.join(job_dir, "tombstones"))
    log = snapshots.read_log(job_dir)
    assert log[-1]["op"] == "build" and log[-1]["n_segments"] == 4
    assert [e for e in log if not e["expired"]] == [log[-1]]

    job, clean = (SearchEngine(spark, {"standard": d}) for d in (job_dir, clean_dir))
    for s in ("the", "spark query", "w00006", "(braf OR resistance)", '"spark query"'):
        got = [tuple(r) for r in job.search_str(s, k=50).collect()]
        assert got == [tuple(r) for r in clean.search_str(s, k=50).collect()], s
