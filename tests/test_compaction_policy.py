"""Compaction policy hook (r4 verdict #10): `maybe_compact` triggers on
tombstone-ratio / segment-count pressure and queries stay identical across
the compaction boundary. This is what operationally bounds the query-time
tombstone set (query/engine.py TOMB_MAX_IDS): a scheduler calling
maybe_compact after each merge_delta keeps the deleted fraction under the
ratio, so the driver-side tombstone array never grows unbounded."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import job_ids

from intuition_spark.corpus import generate_transcripts
from intuition_spark.index.builder import IndexPaths, build_index
from intuition_spark.index.incremental import (
    compaction_pressure,
    maybe_compact,
    merge_delta,
    read_tombstones,
)
from intuition_spark.query.ast import Query
from intuition_spark.query.engine import SearchEngine


@pytest.fixture(scope="module")
def ix(spark, tmp_root):
    tbl = generate_transcripts(1000, max_tokens=40).to_pandas()
    base_src = os.path.join(tmp_root, "cpol_base.parquet")
    pq.write_table(pa.Table.from_pandas(tbl, preserve_index=False), base_src)
    ix_dir = os.path.join(tmp_root, "ix_cpol")
    build_index(spark, spark.read.parquet(base_src), ix_dir,
                analyzer="standard", n_segments=3)
    # upsert 150 of 1000 docs → deleted_ratio 150/1150 ≈ 0.13
    upd = tbl.iloc[:150].copy()
    upd["text"] = "compaction pressure rewrite " + upd["turn_idx"].astype(str)
    delta_src = os.path.join(tmp_root, "cpol_delta.parquet")
    pq.write_table(pa.Table.from_pandas(upd, preserve_index=False), delta_src)
    res = merge_delta(spark, IndexPaths(ix_dir), spark.read.parquet(delta_src))
    assert res["n_tombstoned"] == 150
    return ix_dir


QUERIES = [
    Query("cp_and", "and", [["spark"], ["data"]], k=10),
    Query("cp_rw", "and", [["compaction"], ["pressure"]], k=20),
]


def _rows(df):
    return [(r["doc"], round(r["score"], 9)) for r in df.collect()]


def test_pressure_counts_tombstones_from_footers(spark, tmp_root):
    """After two upsert merges the tombstone count equals a Spark count of
    the tombstones table, and reading it launches no Spark job."""
    tbl = generate_transcripts(300, max_tokens=30).to_pandas()
    src = os.path.join(tmp_root, "cpol_foot.parquet")
    pq.write_table(pa.Table.from_pandas(tbl, preserve_index=False), src)
    paths = IndexPaths(os.path.join(tmp_root, "ix_cpol_foot"))
    build_index(spark, spark.read.parquet(src), paths.root, analyzer="standard", n_segments=2)
    for i, n in enumerate((40, 25)):
        upd = tbl.iloc[:n].copy()
        upd["text"] = f"footer count rewrite {i} " + upd["turn_idx"].astype(str)
        dsrc = os.path.join(tmp_root, f"cpol_foot_d{i}.parquet")
        pq.write_table(pa.Table.from_pandas(upd, preserve_index=False), dsrc)
        merge_delta(spark, paths, spark.read.parquet(dsrc))
    out: list = []
    assert job_ids(spark, lambda: out.append(compaction_pressure(spark, paths))) == []
    assert out[0]["n_tombstones"] == read_tombstones(spark, paths).count() > 0


def test_below_ratio_no_compact(spark, ix):
    out = maybe_compact(spark, IndexPaths(ix), max_deleted_ratio=0.5)
    assert out["compacted"] is False
    assert out["n_tombstones"] == 150
    assert 0.10 < out["deleted_ratio"] < 0.20


def test_ratio_triggers_and_results_stable(spark, ix):
    paths = IndexPaths(ix)
    eng = SearchEngine(spark, {"standard": ix})
    before = {q.query_id: [d for d, _ in _rows(eng.search(q))] for q in QUERIES}
    p0 = compaction_pressure(spark, paths)
    assert p0["deleted_ratio"] > 0.10
    out = maybe_compact(spark, paths, max_deleted_ratio=0.10)
    assert out["compacted"] is True
    # post-compact: zero tombstones, pressure relieved
    p1 = compaction_pressure(spark, paths)
    assert p1["n_tombstones"] == 0 and p1["deleted_ratio"] == 0.0
    # doc-set identity across the boundary (BM25 stats change per the
    # documented Lucene semantics — deleted docs leave N/avgdl — so ranks
    # among equal-text docs are compared as sets per query)
    eng2 = SearchEngine(spark, {"standard": ix})
    for q in QUERIES:
        after = [d for d, _ in _rows(eng2.search(q))]
        assert set(after) == set(before[q.query_id]), q.query_id
    # idempotent: pressure is gone, second call is a no-op
    assert maybe_compact(spark, paths, max_deleted_ratio=0.10)["compacted"] is False


def test_segment_count_trigger(spark, tmp_root):
    tbl = generate_transcripts(300, max_tokens=30).to_pandas()
    src = os.path.join(tmp_root, "cpol_seg.parquet")
    pq.write_table(pa.Table.from_pandas(tbl, preserve_index=False), src)
    ix_dir = os.path.join(tmp_root, "ix_cpol_seg")
    build_index(spark, spark.read.parquet(src), ix_dir,
                analyzer="standard", n_segments=3)
    # two deltas of fresh convs → segment count grows past the bound
    for i in (1, 2):
        d = tbl.iloc[: 50].copy()
        d["conv_id"] = d["conv_id"] + f"_d{i}"
        dsrc = os.path.join(tmp_root, f"cpol_seg_d{i}.parquet")
        pq.write_table(pa.Table.from_pandas(d, preserve_index=False), dsrc)
        merge_delta(spark, IndexPaths(ix_dir), spark.read.parquet(dsrc))
    p = compaction_pressure(spark, IndexPaths(ix_dir))
    assert p["n_segments"] >= 5 and p["n_tombstones"] == 0
    out = maybe_compact(spark, IndexPaths(ix_dir), max_deleted_ratio=0.5,
                        max_segments=4)
    assert out["compacted"] is True
    # the rewrite merged segments back DOWN to the bound — the policy can't
    # re-fire forever on the same pressure
    p2 = compaction_pressure(spark, IndexPaths(ix_dir))
    assert p2["n_segments"] == 4
    assert maybe_compact(spark, IndexPaths(ix_dir), max_deleted_ratio=0.5,
                         max_segments=4)["compacted"] is False
