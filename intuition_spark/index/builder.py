"""Inverted-index build: docs table → segmented, block-compressed postings.

Replaces the reference's index path (compose → Solr add → Lucene segment
build/merge, `SolrServiceImpl.updateSolrArticles` `service/SolrServiceImpl.java:69-159`
+ `SolrClientTool.addUpdateDeleteMany` `util/SolrClientTool.java:503-523`)
with a Spark-native layout:

    <index>/docs/seg=K/        one row per turn: doc_id, doc, conv_id,
                               turn_idx, role, tool, ts, dl, text
    <index>/postings/seg=K/    one row per (term, block of ≤128 docs):
                               delta+varint docs / varint tfs / varint dls /
                               delta varint positions, block-max metadata
    <index>/dictionary/        (term, df, cf) global term stats
    <index>/manifest/          per-segment checkpoint rows (B9)
    <index>/stats.json         N, avgdl, analyzer, n_segments, …

Scale design (the part that must survive 1000 executors × 100 TB):

* **Segments are the unit of everything** — doc-id namespace (doc_id =
  seg << 40 | row), skew control (a head term's postings are split across all
  segments, so no single task ever holds a global posting list — this is the
  explicit salting demanded for head-term skew, with salt = doc-hash segment),
  query parallelism (each segment scores independently, no query-time shuffle
  of postings), and checkpoint/resume granularity (Lucene-segment analogue).
* Doc ids are dense per segment and assigned by a window over
  (conv_id, turn_idx) *after* hashing conversations to segments — whole
  conversations stay in one segment, so doc-id order within a segment equals
  the canonical tiebreak order.
* Postings rows within each seg partition are written sorted by term, so a
  query's ``term IN (…)`` filter prunes parquet row groups via min/max stats —
  the scan cost of a query is O(query-term postings), not O(index).
* Per-segment manifest rows + per-segment dynamic-partition overwrite make the
  build idempotent and resumable (replaces the page-number-in-notes
  checkpoint, `config/ScheduledTasks.java:58-85`).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from intuition_spark.analysis.analyzers import analyze_flat, analyze_text
from intuition_spark.index import codec, snapshots
from intuition_spark.query.wand import B, K1

SEG_SHIFT = 40  # doc_id = (seg << 40) | row_in_segment
# Docs per indexer compute chunk. The object-array tokenize/factorize/lexsort
# stage is cache-bound: ~6k-doc chunks measured ~7,000 docs/s/core FLAT from
# 1 to 8 concurrent pinned workers on the bench box, vs ~2,100-3,000 and
# width-DEGRADING for whole-25k-doc segments. Output is bit-identical for any
# value (per-segment vocab merge + int lexsort restore the global row order).
INDEX_CHUNK_DOCS = 6144
LAYOUT_VERSION = 2  # bump when the on-disk block schema changes

BLOCK_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("blk", T.IntegerType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("first_doc", T.LongType()),
        T.StructField("last_doc", T.LongType()),
        T.StructField("tf_sum", T.LongType()),
        T.StructField("max_tf", T.IntegerType()),
        # block-max metadata: the BM25 weight bound for any avgdl is reached at
        # (max_tf, min_dl) — storing the pair instead of a precomputed impact
        # makes the build single-pass (no avgdl needed before encoding)
        T.StructField("min_dl", T.IntegerType()),
        T.StructField("docs_bin", T.BinaryType()),
        T.StructField("tfs_bin", T.BinaryType()),
        T.StructField("dls_bin", T.BinaryType()),
        T.StructField("pos_bin", T.BinaryType()),
        T.StructField("seg", T.IntegerType()),
    ]
)

POSTING_ROW_SCHEMA = T.StructType(
    [
        T.StructField("seg", T.IntegerType()),
        T.StructField("term", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("tf", T.IntegerType()),
        T.StructField("dl", T.IntegerType()),
        T.StructField("positions", T.ArrayType(T.IntegerType())),
    ]
)


@dataclass
class IndexPaths:
    root: str

    @property
    def docs(self) -> str:
        return os.path.join(self.root, "docs")

    @property
    def postings(self) -> str:
        return os.path.join(self.root, "postings")

    @property
    def dictionary(self) -> str:
        return os.path.join(self.root, "dictionary")

    @property
    def manifest(self) -> str:
        return os.path.join(self.root, "manifest")

    @property
    def stats(self) -> str:
        return os.path.join(self.root, "stats.json")


def _make_segment_indexer(analyzer: str, chunk_docs: int | None = None):
    """mapInArrow fn: raw docs → encoded posting blocks, fused and shuffle-free.

    One Arrow round-trip per task: text goes in, compressed blocks come out as
    zero-copy Arrow binary columns (block boundaries become Arrow offsets into
    the one varint buffer — no per-block bytes objects). The earlier two-stage
    design (tokenize → ~85 posting rows per doc → shuffle → encode) moved ~20×
    the corpus size through the JVM↔Python sockets and anti-scaled past ~8
    local cores on socket syscalls.

    No shuffle: the docs scan is already seg-partitioned on disk; a parquet
    split never spans files and files never span segments, so grouping the
    task's rows by seg is exact. A segment split across tasks (packed small
    files / giant row groups) still encodes correctly: the pieces' doc ranges
    are disjoint and readers order blocks by first_doc, not block id.
    """
    import pyarrow as pa

    chunk = chunk_docs or INDEX_CHUNK_DOCS

    def _chunk_rows(doc_chunk: np.ndarray, texts_chunk: list):
        """(term, doc)-row arrays for one cache-sized chunk of doc-sorted docs.

        Vectorized posting aggregation: flatten every token of the chunk into
        parallel arrays, factorize terms once, and lexsort into
        (term, doc, pos) order — per-token work is two array stores, not a
        dict insert. Chunking exists because this object-array stage is
        cache-bound: measured on the bench corpus, whole-25k-doc-segment
        calls run at ~2,100-3,000 docs/s/core while ~6k-doc chunks run at
        ~7,000 flat from 1 to 8 concurrent workers (the big-object footprint
        also made per-core throughput WIDTH-dependent, which is what dragged
        the N→4N scaling legs). Returns local term codes + the chunk's
        sorted vocabulary so the per-segment merge below is int-only.
        """
        toks_per_doc = [analyze_flat(t, analyzer) for t in texts_chunk]
        dl_per_doc = np.fromiter(
            (len(t[0]) for t in toks_per_doc), dtype=np.int64, count=len(toks_per_doc)
        )
        total = int(dl_per_doc.sum())
        if total == 0:
            return None
        terms_flat = np.empty(total, dtype=object)
        pos_flat = np.empty(total, dtype=np.int64)
        o = 0
        for terms, poss in toks_per_doc:
            n_t = len(terms)
            terms_flat[o : o + n_t] = terms  # slice assignment: C-speed fill
            pos_flat[o : o + n_t] = poss
            o += n_t
        doc_rep = np.repeat(doc_chunk, dl_per_doc)
        dl_rep = np.repeat(dl_per_doc, dl_per_doc)
        codes, uniq_terms = pd.factorize(terms_flat, sort=True)
        order = np.lexsort((pos_flat, doc_rep, codes))
        codes_s = codes[order]
        doc_s = doc_rep[order]
        pos_s = pos_flat[order]
        # posting rows = (term, doc) groups; positions stay flat in row order
        change = np.empty(total, dtype=bool)
        change[0] = True
        change[1:] = (codes_s[1:] != codes_s[:-1]) | (doc_s[1:] != doc_s[:-1])
        starts = np.flatnonzero(change)
        tf = np.diff(np.append(starts, total))
        return (
            codes_s[starts],
            np.asarray(uniq_terms, dtype=object),
            doc_s[starts],
            tf,
            dl_rep[order][starts],
            pos_s,
        )

    def _index_one_seg(seg: int, doc_ids: np.ndarray, texts: list) -> "pa.RecordBatch | None":
        # Chunked two-level build, BIT-IDENTICAL to a whole-segment pass
        # (pinned by test_builder_chunking.py): object-heavy analysis /
        # factorize / lexsort runs per cache-sized chunk, then chunk vocab
        # sets merge into one global sorted vocabulary and an int-only
        # lexsort restores the exact whole-segment (term, doc) row order —
        # one encode per segment, so block layout (and on-disk bytes) do not
        # depend on the chunk size.
        order0 = np.argsort(doc_ids, kind="stable")
        docs_sorted = doc_ids[order0].astype(np.int64)
        texts_sorted = [texts[i] for i in order0]
        parts = []
        for lo in range(0, len(docs_sorted), chunk):
            part = _chunk_rows(
                docs_sorted[lo : lo + chunk], texts_sorted[lo : lo + chunk]
            )
            if part is not None:
                parts.append(part)
        if not parts:
            return None
        if len(parts) == 1:
            codes, uniq, row_doc, tf, row_dl, pos_s = parts[0]
            return _encode_sorted_arrow(seg, uniq[codes], row_doc, tf, row_dl, pos_s)
        # vocab merge: factorize over the chunks' (already deduped) term sets
        # — a few 100k objects, not a few million tokens
        gcodes_cat, guniq = pd.factorize(
            np.concatenate([p[1] for p in parts]), sort=True
        )
        gmaps = np.split(
            gcodes_cat, np.cumsum([len(p[1]) for p in parts])[:-1]
        )
        code_all = np.concatenate([gm[p[0]] for gm, p in zip(gmaps, parts)])
        doc_all = np.concatenate([p[2] for p in parts])
        tf_all = np.concatenate([p[3] for p in parts])
        dl_all = np.concatenate([p[4] for p in parts])
        # (term, doc) is unique across chunks (chunk doc ranges are disjoint),
        # so this reproduces the whole-segment row order exactly
        order = np.lexsort((doc_all, code_all))
        # gather the variable-length per-row position runs into new order
        pos_cat = np.concatenate([p[5] for p in parts])
        run_starts = np.concatenate(([0], np.cumsum(tf_all)))[:-1]
        lens_new = tf_all[order]
        out_off = np.concatenate(([0], np.cumsum(lens_new)))
        total = int(out_off[-1])
        idx = (
            np.arange(total, dtype=np.int64)
            - np.repeat(out_off[:-1], lens_new)
            + np.repeat(run_starts[order], lens_new)
        )
        return _encode_sorted_arrow(
            seg,
            np.asarray(guniq, dtype=object)[code_all[order]],
            doc_all[order],
            tf_all[order],
            dl_all[order],
            pos_cat[idx],
        )

    def index_partition(batches):
        batches = list(batches)
        if not batches:  # empty scan partition (more tasks than files)
            return
        tbl = pa.Table.from_batches(batches)
        if tbl.num_rows == 0:
            return
        segs = tbl.column("seg").to_numpy()
        doc_ids = tbl.column("doc_id").to_numpy()
        texts = tbl.column("text").to_pylist()
        for seg in np.unique(segs):
            m = segs == seg
            idx = np.flatnonzero(m)
            batch = _index_one_seg(int(seg), doc_ids[idx], [texts[i] for i in idx])
            if batch is not None:
                yield batch

    return index_partition


def _arrow_binary(n_vals: int, byte_offsets: np.ndarray, buf: bytes):
    """Zero-copy Arrow binary array: values are [off[i], off[i+1]) slices of
    one shared buffer (our blocks tile the varint stream exactly)."""
    import pyarrow as pa

    return pa.Array.from_buffers(
        pa.binary(),
        n_vals,
        [None, pa.py_buffer(byte_offsets.astype(np.int32).tobytes()), pa.py_buffer(buf)],
    )


def _encode_sorted_arrow(
    seg: int,
    terms: np.ndarray,
    doc: np.ndarray,
    tf: np.ndarray,
    dl: np.ndarray,
    pos_flat: np.ndarray,
):
    """Vectorized block encoder over (term, doc_id)-sorted posting arrays:
    per-value varint bytes are computed once for the whole segment, and block
    boundaries become Arrow binary offsets — zero per-block copies."""
    import pyarrow as pa

    n = len(doc)
    if n == 0:
        return None
    term_change = np.empty(n, dtype=bool)
    term_change[0] = True
    term_change[1:] = terms[1:] != terms[:-1]
    term_starts = np.flatnonzero(term_change)
    term_idx = np.cumsum(term_change) - 1
    idx_in_term = np.arange(n) - term_starts[term_idx]
    blk_of_row = idx_in_term // codec.BLOCK_SIZE
    is_blk_start = idx_in_term % codec.BLOCK_SIZE == 0
    bstarts = np.flatnonzero(is_blk_start)
    bends = np.concatenate((bstarts[1:], [n]))

    # doc gaps: delta within a block, absolute at each block start
    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = doc[0]
    gaps[1:] = doc[1:] - doc[:-1]
    gaps[bstarts] = doc[bstarts]
    docs_buf, docs_len = codec.varint_encode_with_lengths(gaps.astype(np.uint64))
    tfs_buf, tfs_len = codec.varint_encode_with_lengths(tf.astype(np.uint64))
    dls_buf, dls_len = codec.varint_encode_with_lengths(dl.astype(np.uint64))
    docs_off = np.concatenate(([0], np.cumsum(docs_len)))
    tfs_off = np.concatenate(([0], np.cumsum(tfs_len)))
    dls_off = np.concatenate(([0], np.cumsum(dls_len)))

    flat = np.ascontiguousarray(pos_flat, dtype=np.int64)  # row-ordered
    val_off = np.concatenate(([0], np.cumsum(tf)))  # value range per row
    pdeltas = flat.copy()
    if flat.size:
        pdeltas[1:] = flat[1:] - flat[:-1]
        pdeltas[val_off[:-1]] = flat[val_off[:-1]]  # absolute at doc starts
    pos_buf, pos_len = codec.varint_encode_with_lengths(pdeltas.astype(np.uint64))
    pos_byte_off = np.concatenate(([0], np.cumsum(pos_len)))

    tf_sum = np.add.reduceat(tf, bstarts)
    max_tf = np.maximum.reduceat(tf, bstarts)
    min_dl = np.minimum.reduceat(dl, bstarts)
    nb = len(bstarts)
    # per-stream Arrow offsets: block i spans [stream_off[bstarts[i]],
    # stream_off[bstarts[i+1]]) and blocks tile the stream, so offsets are
    # just the stream offsets sampled at block starts (+ total at the end)
    docs_bo = np.append(docs_off[bstarts], docs_off[-1])
    tfs_bo = np.append(tfs_off[bstarts], tfs_off[-1])
    dls_bo = np.append(dls_off[bstarts], dls_off[-1])
    arrays = [
        pa.array(terms[bstarts], type=pa.string()),
        pa.array(blk_of_row[bstarts], type=pa.int32()),
        pa.array(bends - bstarts, type=pa.int32()),
        pa.array(doc[bstarts], type=pa.int64()),
        pa.array(doc[bends - 1], type=pa.int64()),
        pa.array(tf_sum, type=pa.int64()),
        pa.array(max_tf, type=pa.int32()),
        pa.array(min_dl, type=pa.int32()),
        _arrow_binary(nb, docs_bo, docs_buf),
        _arrow_binary(nb, tfs_bo, tfs_buf),
        _arrow_binary(nb, dls_bo, dls_buf),
        _arrow_binary(nb, np.append(pos_byte_off[val_off[bstarts]], pos_byte_off[-1]), pos_buf),
        pa.array(np.full(nb, seg, dtype=np.int32), type=pa.int32()),
    ]
    names = [
        "term", "blk", "n", "first_doc", "last_doc", "tf_sum", "max_tf",
        "min_dl", "docs_bin", "tfs_bin", "dls_bin", "pos_bin", "seg",
    ]
    return pa.RecordBatch.from_arrays(arrays, names=names)


def prepare_docs(
    spark: SparkSession,
    transcripts: DataFrame,
    paths: IndexPaths,
    analyzer: str = "standard",
    n_segments: int = 8,
    seg_offset: int = 0,
    extra_meta_cols: list[str] | None = None,
) -> dict:
    """Stage 1: assign segments + dense doc ids, write the docs table.

    ``seg_offset`` places the new segments above an existing index's ids —
    used by incremental.merge_delta so delta blocks are encoded directly in
    their final doc-id namespace (ids are baked into the compressed streams).
    ``extra_meta_cols`` pass additional stored (non-analyzed) metadata
    columns through to the docs table — scalar or array-typed; array columns
    serve ``field_eq`` predicates with array_contains semantics (the
    reference's multi-valued `authors` field, SolrServiceImpl.java:397-404).
    """
    base_cols = ["conv_id", "turn_idx", "role", "tool", "ts", "text"]
    extra = [c for c in (extra_meta_cols or []) if c not in base_cols]
    df = transcripts.select(*base_cols, *extra).withColumn(
        "seg",
        (F.pmod(F.xxhash64("conv_id"), F.lit(n_segments)) + F.lit(seg_offset)).cast("int"),
    )
    # One shuffle partition per segment, shared by the window AND the write:
    # HashPartitioning(seg, n_segments) satisfies the window's required
    # ClusteredDistribution(seg), so EnsureRequirements inserts no second
    # exchange. Without this, the window hashes n_segments segments into
    # spark.sql.shuffle.partitions buckets — coarse tasks with Poisson skew
    # (~1.5-2x at 128 segs / 16 buckets) whose stragglers serialize the
    # stage — and the dynamic partitionBy('seg') write then emits
    # tasks x segments files whose driver-side commit is O(files). With the
    # segment-aligned repartition, tasks are segment-sized and the write
    # commits O(n_segments) files (one per segment directory) — the same
    # fan-out the postings stage expects (its scan runs one task per
    # segment file, builder.py maxPartitionBytes=8m below).
    df = df.repartition(n_segments, "seg")
    w = Window.partitionBy("seg").orderBy("conv_id", "turn_idx")
    df = df.withColumn(
        "doc_id",
        (F.col("seg").cast("long") * F.lit(1 << SEG_SHIFT) + F.row_number().over(w) - 1),
    ).withColumn("doc", F.concat_ws(":", "conv_id", "turn_idx"))
    # observe(): row count rides along the write job — no second scan job
    from pyspark.sql import Observation

    obs = Observation("prepare_docs")
    # 4MB row groups keep the one-file-per-segment docs layout SPLITTABLE:
    # the postings scan caps splits at 8MB (maxPartitionBytes below), and a
    # parquet split can't cut inside a row group — with the default 128MB
    # row group a whole segment would land in one indexer task, whose
    # object-array factorize/lexsort degrades superlinearly with chunk size
    # (measured 2x slower per turn at 25k-doc chunks vs 3k-doc chunks).
    (
        df.observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .option("parquet.block.size", str(4 * 1024 * 1024))
        .partitionBy("seg")
        .parquet(paths.docs)
    )
    n_docs = int(obs.get["n"])
    stats = {
        "N": int(n_docs),
        "avgdl": None,  # filled by build_dictionary (Σcf / N), not needed to encode
        "analyzer": analyzer,
        "n_segments": n_segments,
        "seg_offset": seg_offset,
        "extra_meta_cols": extra,
        "k1": K1,
        "b": B,
        "layout_version": LAYOUT_VERSION,
    }
    with open(paths.stats, "w") as f:
        json.dump(stats, f, indent=1)
    return stats


def _manifest_done_segs(spark: SparkSession, paths: IndexPaths) -> set[int]:
    if not os.path.exists(paths.manifest):
        return set()
    pdf = spark.read.parquet(paths.manifest).filter(F.col("status") == "done").toPandas()
    return set(pdf["seg"].astype(int))


def build_postings(
    spark: SparkSession,
    paths: IndexPaths,
    segs_per_job: int = 8,
    resume: bool = False,
    fail_after_segs: int | None = None,
) -> None:
    """Stage 2: per-segment posting blocks, checkpointed via the manifest.

    ``fail_after_segs`` deliberately aborts mid-build (for the resume test,
    SURVEY.md §5.2 layer 6).
    """
    with open(paths.stats) as f:
        stats = json.load(f)
    analyzer, n_segments = stats["analyzer"], stats["n_segments"]
    seg_offset = stats.get("seg_offset", 0)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    # the indexing scan must not pack many seg files into one task — one task
    # per file keeps all cores busy (files are row-group-sized at scale)
    old_mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    spark.conf.set("spark.sql.files.openCostInBytes", "8m")
    done = _manifest_done_segs(spark, paths) if resume else set()
    todo = [s for s in range(seg_offset, seg_offset + n_segments) if s not in done]

    manifest_schema = T.StructType(
        [
            T.StructField("seg", T.IntegerType()),
            T.StructField("status", T.StringType()),
            T.StructField("rows", T.LongType()),
            T.StructField("wall_ms", T.LongType()),
        ]
    )
    docs = spark.read.parquet(paths.docs)
    processed = 0
    for i in range(0, len(todo), segs_per_job):
        batch = todo[i : i + segs_per_job]
        if fail_after_segs is not None and processed >= fail_after_segs:
            raise RuntimeError(f"injected failure after {processed} segments")
        t0 = time.time()
        batch_docs = docs.filter(F.col("seg").isin(batch)).select("seg", "doc_id", "text")
        blocks = batch_docs.mapInArrow(
            _make_segment_indexer(analyzer), BLOCK_SCHEMA
        )
        # no shuffle anywhere: the docs scan is already seg-partitioned on
        # disk, the indexer emits blocks sorted by (term, blk) per segment,
        # and partitionBy('seg') routes each task's output straight to its
        # seg directory (term-sorted file → row-group pruning on term)
        (
            blocks.sortWithinPartitions("seg", "term", "blk")
            .write.mode("overwrite")
            .partitionBy("seg")
            .parquet(paths.postings)
        )
        wall = int((time.time() - t0) * 1000)
        rows = [(int(s), "done", 0, wall) for s in batch]
        spark.createDataFrame(rows, manifest_schema).write.mode("append").parquet(paths.manifest)
        processed += len(batch)
    spark.conf.set("spark.sql.files.maxPartitionBytes", old_mpb)
    spark.conf.set("spark.sql.files.openCostInBytes", old_open)


def build_dictionary(spark: SparkSession, paths: IndexPaths) -> None:
    """Stage 3: global (term, df, cf) from block metadata — no decode needed.
    Also finalizes corpus stats: avgdl = Σcf / N (cf sums every kept token)."""
    blocks = spark.read.parquet(paths.postings)
    dic = blocks.groupBy("term").agg(
        F.sum("n").alias("df"),
        F.sum("tf_sum").alias("cf"),
        F.max("max_tf").alias("max_tf"),
    )
    dic.repartitionByRange(4, "term").sortWithinPartitions("term").write.mode(
        "overwrite"
    ).parquet(paths.dictionary)

    total_tokens = spark.read.parquet(paths.dictionary).agg(F.sum("cf")).collect()[0][0] or 0
    with open(paths.stats) as f:
        stats = json.load(f)
    stats["avgdl"] = float(total_tokens) / max(1, stats["N"])
    stats["total_tokens"] = int(total_tokens)
    with open(paths.stats, "w") as f:
        json.dump(stats, f, indent=1)


def build_index(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    analyzer: str = "standard",
    n_segments: int = 8,
    segs_per_job: int = 8,
    extra_meta_cols: list[str] | None = None,
    resume: bool = False,
) -> IndexPaths:
    """Full build: docs → postings → dictionary, then a 'build' snapshot.

    ``resume`` finishes an interrupted build in place: the docs stage runs
    only if it never wrote ``stats.json``, and ``build_postings`` skips the
    segments the manifest marks done. Each stage's wall seconds land in
    ``stats.json`` under ``stage_s``.
    """
    import shutil

    paths = IndexPaths(out_dir)
    os.makedirs(out_dir, exist_ok=True)
    if not resume:
        # in-place rebuild must really rebuild: the session may carry
        # partitionOverwriteMode=dynamic (build_postings sets it), under which
        # a plain overwrite only replaces MATCHING seg partitions — a rebuild
        # with fewer segments would leave the old higher-seg directories
        # alive and the latest view would serve a mix of two corpora
        for d in (paths.docs, paths.postings, paths.dictionary, paths.manifest):
            shutil.rmtree(d, ignore_errors=True)
    stage_s = {}
    t0 = time.time()
    if not (resume and os.path.exists(paths.stats)):
        prepare_docs(
            spark, transcripts, paths, analyzer=analyzer, n_segments=n_segments,
            extra_meta_cols=extra_meta_cols,
        )
    stage_s["docs"], t0 = round(time.time() - t0, 3), time.time()
    build_postings(spark, paths, segs_per_job=segs_per_job, resume=resume)
    stage_s["postings"], t0 = round(time.time() - t0, 3), time.time()
    build_dictionary(spark, paths)
    stage_s["dictionary"] = round(time.time() - t0, 3)
    with open(paths.stats) as f:
        stats = json.load(f)
    stats["stage_s"] = stage_s
    with open(paths.stats, "w") as f:
        json.dump(stats, f, indent=1)
    # in-place rebuild hygiene: a fresh build has no deletions, and the
    # snapshot commit below expires every prior entry (the overwrite destroyed
    # their segments) — stale tombstones would otherwise delete new docs
    shutil.rmtree(os.path.join(out_dir, "tombstones"), ignore_errors=True)
    snapshots.append_snapshot(out_dir, "build", stats)
    return paths


def decode_blocks_df(blocks: DataFrame, with_positions: bool = False) -> DataFrame:
    """Blocks → row-per-posting DataFrame (seg, term, doc_id, tf, dl, positions).

    Vectorized decode inside mapInPandas; used by the exhaustive scorer and by
    phrase/proximity evaluation.
    """

    def decode(batches):
        for pdf in batches:
            out_seg, out_term, out_doc, out_tf, out_dl, out_pos = [], [], [], [], [], []
            for row in pdf.itertuples(index=False):
                docs = codec.delta_decode(row.docs_bin, row.n)
                tfs = codec.varint_decode(row.tfs_bin, row.n).astype(np.int64)
                dls = codec.varint_decode(row.dls_bin, row.n).astype(np.int64)
                out_seg.append(np.full(row.n, row.seg, dtype=np.int32))
                out_term.extend([row.term] * row.n)
                out_doc.append(docs)
                out_tf.append(tfs)
                out_dl.append(dls)
                if with_positions:
                    out_pos.extend(
                        [p.astype("int32") for p in codec.decode_positions(row.pos_bin, tfs)]
                        if row.pos_bin is not None
                        else [None] * row.n
                    )
            if not out_term:
                yield pd.DataFrame(
                    {"seg": pd.array([], dtype="int32"), "term": [],
                     "doc_id": pd.array([], dtype="int64"), "tf": pd.array([], dtype="int32"),
                     "dl": pd.array([], dtype="int32"), "positions": []}
                )
                continue
            yield pd.DataFrame(
                {
                    "seg": np.concatenate(out_seg),
                    "term": out_term,
                    "doc_id": np.concatenate(out_doc).astype(np.int64),
                    "tf": np.concatenate(out_tf).astype(np.int32),
                    "dl": np.concatenate(out_dl).astype(np.int32),
                    "positions": out_pos if with_positions else [None] * len(out_term),
                }
            )

    return blocks.mapInPandas(decode, POSTING_ROW_SCHEMA)
