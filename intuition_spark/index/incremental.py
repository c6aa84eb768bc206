"""Incremental index maintenance: delta segments + tombstones + compaction.

The reference refreshes by re-paging Mongo and delete-then-re-adding Solr docs
every ~2 days (`SolrServiceImpl.updateSolrArticles` `:69-159`, delete-batch
`:95-99`; scheduled wrapper `config/ScheduledTasks.java:58-85`). Lucene
underneath appends new segments and marks old docs deleted until merge. We
re-express exactly that model Spark-natively:

* ``merge_delta`` — new/changed turns become NEW segments (ids above the
  current max); superseded (conv_id, turn_idx) keys from old segments become
  rows in a ``tombstones/`` table. Postings of old segments are never
  rewritten on the hot path — a delta commit touches only its own partitions
  plus the (tiny) tombstone and dictionary tables. At 10^12-turn scale this is
  the only viable write path: a delta's cost is O(delta), not O(index).
* query-time: scorers anti-join the (broadcast-small) tombstone set.
* ``compact`` — rewrites segments to physically drop tombstoned docs
  (Lucene's merge), restoring zero query-time overhead.

Upsert semantics mirror Q13/W2 (version-max dedupe, `findArticle:498-517`):
the latest write for a (conv_id, turn_idx) key wins.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from intuition_spark.index import snapshots
from intuition_spark.index.builder import (
    IndexPaths,
    build_dictionary,
    build_index,
    build_postings,
    prepare_docs,
)


def tombstones_path(paths: IndexPaths) -> str:
    return os.path.join(paths.root, "tombstones")


def read_tombstones(spark: SparkSession, paths: IndexPaths) -> DataFrame | None:
    p = tombstones_path(paths)
    if not os.path.exists(p):
        return None
    return spark.read.parquet(p)


def merge_delta(
    spark: SparkSession,
    paths: IndexPaths,
    delta: DataFrame,
    segs_per_job: int = 8,
) -> dict:
    """Append a delta of transcript rows to an existing index.

    Returns {"new_segs": [...], "n_delta": int, "n_tombstoned": int}.
    """
    with open(paths.stats) as f:
        stats = json.load(f)
    analyzer = stats["analyzer"]
    old_n_segments = stats["n_segments"]
    extra_cols = stats.get("extra_meta_cols") or []

    # carry the index's extra stored-metadata columns through the delta so
    # appended segments stay schema-consistent with the existing docs table
    # (a delta row without the column gets NULL — honest for field_eq, which
    # treats NULL as no-match except the explicit IS NULL shape)
    existing_schema = spark.read.parquet(paths.docs).schema
    fill = [
        c if c in delta.columns
        else F.lit(None).cast(existing_schema[c].dataType).alias(c)
        for c in extra_cols
    ]
    delta = delta.select("conv_id", "turn_idx", "role", "tool", "ts", "text", *fill)
    # version-max within the delta itself: last write wins (Q13/W2 analogue,
    # deterministic via ts then text as final tiebreak)
    w = Window.partitionBy("conv_id", "turn_idx").orderBy(F.desc("ts"), F.desc("text"))
    delta = delta.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    n_delta = delta.count()
    if n_delta == 0:
        return {"new_segs": [], "n_delta": 0, "n_tombstoned": 0}

    # 1. tombstone superseded keys in existing docs, stamped with the id this
    #    commit WILL get (stamp-then-log: a crash between the write and the
    #    snapshot append leaves rows with an id above every logged snapshot —
    #    invisible to as-of reads; the latest-read path ignores commit_id)
    snap_id = snapshots.next_snapshot_id(paths.root)
    existing = spark.read.parquet(paths.docs)
    superseded = existing.join(
        delta.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_semi"
    ).select("doc_id", "conv_id", "turn_idx", F.lit(snap_id).alias("commit_id"))
    n_tomb = superseded.count()
    if n_tomb:
        superseded.write.mode("append").parquet(tombstones_path(paths))

    # 2. build the delta as fresh segments DIRECTLY in the final doc-id
    #    namespace (seg_offset places them above existing segment ids, so the
    #    compressed streams bake in the right absolute ids), then graft the
    #    seg-partition directories into the live index — an O(delta) append.
    n_new_segs = max(1, min(segs_per_job, n_delta // 10_000 + 1))
    scratch = IndexPaths(os.path.join(paths.root, "_delta_build"))
    import shutil

    shutil.rmtree(scratch.root, ignore_errors=True)
    os.makedirs(scratch.root)
    prepare_docs(
        spark, delta, scratch, analyzer=analyzer, n_segments=n_new_segs,
        seg_offset=old_n_segments, extra_meta_cols=extra_cols,
    )
    build_postings(spark, scratch, segs_per_job=segs_per_job)

    new_segs = list(range(old_n_segments, old_n_segments + n_new_segs))
    spark.read.parquet(scratch.docs).write.mode("append").partitionBy("seg").parquet(paths.docs)
    spark.read.parquet(scratch.postings).write.mode("append").partitionBy("seg").parquet(
        paths.postings
    )
    # carry the delta's checkpoint rows so a later resume sees them as done
    spark.read.parquet(scratch.manifest).write.mode("append").parquet(paths.manifest)
    shutil.rmtree(scratch.root, ignore_errors=True)

    stats["n_segments"] = old_n_segments + n_new_segs
    with open(paths.stats, "w") as f:
        json.dump(stats, f, indent=1)
    build_dictionary(spark, paths)  # refresh (term, df, cf) + avgdl/N
    n_total = spark.read.parquet(paths.docs).count()
    stats = json.load(open(paths.stats))
    stats["N"] = int(n_total)
    # keep avgdl consistent with the documented pre-compact semantics (both
    # numerator and denominator count tombstoned AND delta docs — Lucene's
    # deleted-docs-count-until-merge): build_dictionary computed it before N
    # grew, which left avgdl = all tokens / pre-delta N
    stats["avgdl"] = float(stats.get("total_tokens", 0)) / max(1, stats["N"])
    with open(paths.stats, "w") as f:
        json.dump(stats, f, indent=1)
    snap = snapshots.append_snapshot(paths.root, "append", stats, n_tombstones_added=int(n_tomb))
    return {
        "new_segs": new_segs,
        "n_delta": n_delta,
        "n_tombstoned": int(n_tomb),
        "snapshot_id": snap["snapshot_id"],
    }


def compaction_pressure(spark: SparkSession, paths: IndexPaths) -> dict:
    """Operational gauges for the auto-compaction policy: the tombstone
    count/ratio and segment count of the live index. Cheap — the tombstone
    count sums the row counts in the parquet footers of the files Spark's
    reader lists, and the doc count comes from stats.json: no Spark job, no
    data scan."""
    with open(paths.stats) as f:
        stats = json.load(f)
    p = tombstones_path(paths)
    n_tomb = sum(
        pq.read_metadata(os.path.join(p, f)).num_rows
        for f in (os.listdir(p) if os.path.exists(p) else [])
        if not f.startswith(("_", "."))
    )
    n_docs = int(stats.get("N", 0))
    return {
        "n_tombstones": n_tomb,
        "n_docs": n_docs,
        "deleted_ratio": (n_tomb / n_docs) if n_docs else 0.0,
        "n_segments": int(stats.get("n_segments", 0)),
    }


def maybe_compact(
    spark: SparkSession,
    paths: IndexPaths,
    max_deleted_ratio: float = 0.10,
    max_segments: int | None = None,
    segs_per_job: int = 8,
) -> dict:
    """Compaction policy hook (r4 verdict #10): compact when the deleted
    fraction exceeds ``max_deleted_ratio`` (Lucene's default-ish merge
    trigger) or the segment count exceeds ``max_segments``. This is the
    operational story that keeps the query-time tombstone machinery bounded:
    an engine whose tombstone set would otherwise grow past TOMB_MAX_IDS
    (query/engine.py) gets compacted back to zero tombstones instead of
    permanently paying the distributed-exclusion paths. Call it after every
    ``merge_delta`` (a maintenance scheduler's analogue of the reference's
    ~2-day refresh cycle, `config/ScheduledTasks.java:58-85`).

    Returns the pressure gauges plus ``{"compacted": bool}``."""
    p = compaction_pressure(spark, paths)
    seg_trigger = max_segments is not None and p["n_segments"] > max_segments
    trigger = p["deleted_ratio"] > max_deleted_ratio or seg_trigger
    if trigger:
        # on a segment-count trigger, also merge back down to the bound —
        # otherwise delta-accumulated segments survive the rewrite and the
        # policy re-fires forever
        compact(
            spark, paths, segs_per_job=segs_per_job,
            n_segments=max_segments if seg_trigger else None,
        )
    return {**p, "compacted": bool(trigger)}


def compact(
    spark: SparkSession, paths: IndexPaths, segs_per_job: int = 8,
    n_segments: int | None = None,
) -> None:
    """Physically drop tombstoned docs: rebuild docs + postings from the live
    doc set (Lucene merge analogue). Dictionary and stats refresh too.
    ``n_segments`` overrides the rebuilt segment count (default: keep the
    current count) — the maybe_compact segment-pressure path uses it to
    merge delta-accumulated segments back down."""
    tomb = read_tombstones(spark, paths)
    docs = spark.read.parquet(paths.docs)
    if tomb is not None:
        docs = docs.join(tomb.select("doc_id"), "doc_id", "left_anti")
    with open(paths.stats) as f:
        stats = json.load(f)
    extra_cols = stats.get("extra_meta_cols") or []
    live = docs.select("conv_id", "turn_idx", "role", "tool", "ts", "text", *extra_cols)
    # full rewrite into a fresh layout, then swap
    import shutil

    tmp = paths.root + "_compacting"
    shutil.rmtree(tmp, ignore_errors=True)
    build_index(
        spark, live, tmp, analyzer=stats["analyzer"],
        n_segments=n_segments if n_segments is not None else stats["n_segments"],
        segs_per_job=segs_per_job, extra_meta_cols=extra_cols,
    )
    # carry the snapshot log through the swap in place of the scratch
    # build's own, then commit a 'replace' snapshot: the rewrite destroyed
    # every ancestor's data files, so all prior snapshots expire (Iceberg:
    # rewrite_data_files + expire_snapshots)
    os.remove(snapshots.log_path(tmp))
    if os.path.exists(snapshots.log_path(paths.root)):
        shutil.copy2(snapshots.log_path(paths.root), snapshots.log_path(tmp))
    old = paths.root + "_old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(paths.root, old)
    os.rename(tmp, paths.root)
    shutil.rmtree(old, ignore_errors=True)
    with open(paths.stats) as f:
        snapshots.append_snapshot(paths.root, "replace", json.load(f))
