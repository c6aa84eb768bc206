"""Query executor: AST → segment-kernel plan → top-k hits.

Replaces the reference's query path (buildSearchExpression →
`SolrClientTool.find` → HTTP → Solr edismax → Lucene BM25,
`service/SolrServiceImpl.java:416-480` / `util/SolrClientTool.java:162-214`).

Every query shape is scored by ONE per-segment kernel (query/wand.py) over
the block-compressed segmented postings (index/builder.py), in one of two
placements:

* driver      — block fetch through the driver-local segment reader
  (`_LocalReader`, behind the `_collect_blocks` LRU cache) → kernel over
  every segment in-process → hydration by the local docs reader; no Spark
  job. Taken by ``mode="auto"`` when the query's postings, fq ids and
  tombstones are all bounded.
* distributed — ``groupBy("seg")[.cogroup(ids)].applyInPandas(kernel)`` →
  collect of the per-segment top-ks. Postings are doc-partitioned by
  segment, so the only query-time shuffle is the query's scanned blocks.

Both end alike: the scored rows are cut to offset+k plus boundary ties and
hydrated by a local point lookup of their docs rows (a coordinator merging
shard top-ks, then fetching stored fields for the final page alone). When
the kernel could emit more than SMALL_QUERY_POSTINGS rows, Spark first cuts
them to offset+k. The driver keeps no copy of the docs table: hydration,
fq resolution and ``explain_doc`` read ``docs/seg=N`` through
`_LocalReader`.

``mode="wand"`` forces the distributed placement; ``mode="exhaustive"`` forces
it with pruning off (the kernel scores every doc range). All must return
identical top-k (tested). Tiebreak: score desc, conv_id asc, turn_idx asc.
"""

from __future__ import annotations

import bisect
import json
import os
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from intuition_spark.analysis.analyzers import analyze_text
from intuition_spark.index.builder import SEG_SHIFT, IndexPaths
from intuition_spark.query import wand
from intuition_spark.query.ast import Query
from intuition_spark.query.wand import bm25_idf


# schema of every result frame
HITS_SCHEMA = T.StructType(
    [
        T.StructField("doc", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ]
)

# the docs column an fq pair reads (a field_eq pair reads its own column)
_FQ_COLS = {"__ts_after__": "ts", "__doc_in__": "doc"}


class _LocalReader:
    """Driver-local reader of one seg-partitioned parquet table (``postings``
    or ``docs``) — the in-process Lucene segment reader of a serving node.

    Lists exactly the files Spark's reader lists (``seg=N/`` directories,
    names starting with ``_`` or ``.`` ignored; an as-of view lists no
    ``seg >= max_seg``), reads each footer once and keeps every row group's
    ``key`` min/max. A lookup reads only the row groups whose range can hold
    a wanted key — postings files are term-sorted per segment, and docs
    row groups prune on doc_id (``seg << SEG_SHIFT | row``) to the doc's
    segment — then keeps ``key IN keys`` rows in Arrow. Plain single-threaded
    ``ParquetFile`` reads: no Spark job, and no Arrow scanner or I/O thread
    pools on the driver. Rows and dtypes match ``toPandas()`` of the
    equivalent Spark scan (``seg`` int32), up to row order."""

    def __init__(self, root: str, key: str, max_seg: int | None = None):
        self.key = key
        # (seg, path, footer, per row group (min, max) of key, None = no stats)
        self.files: list[tuple[int, str, pq.FileMetaData, list[tuple | None]]] = []
        for d in sorted(os.listdir(root)):
            if d.startswith(("_", ".")) or not d.startswith("seg="):
                continue
            seg = int(d[4:])
            if max_seg is not None and seg >= max_seg:
                continue
            for f in sorted(os.listdir(os.path.join(root, d))):
                if f.startswith(("_", ".")):
                    continue
                path = os.path.join(root, d, f)
                md = pq.read_metadata(path)
                self.files.append((seg, path, md, _ranges(md, key)))

    def read(self, keys: list, cols: list[str]) -> pd.DataFrame:
        want = sorted(keys)
        file_cols = [c for c in cols if c != "seg"]
        tables = []
        for seg, path, md, ranges in self.files:
            rgs = [i for i, r in enumerate(ranges) if r is None or _any_in(want, *r)]
            if rgs:
                with pq.ParquetFile(path, metadata=md) as pf:
                    t = pf.read_row_groups(rgs, columns=file_cols, use_threads=False)
                t = t.filter(pc.is_in(t[self.key], value_set=pa.array(want, t[self.key].type)))
                tables.append(t.append_column("seg", pa.array(np.full(t.num_rows, seg, np.int32))))
        if not tables:
            schema = self.files[0][2].schema.to_arrow_schema()
            tables = [
                pa.schema([schema.field(c) for c in file_cols]).empty_table()
                .append_column("seg", pa.array([], pa.int32()))
            ]
        # a delta segment's files may differ from older ones in nullability
        return pa.concat_tables(tables, promote_options="default").select(cols).to_pandas()

    def scan(self, cols: list[str], where, limit: int, prune=None) -> np.ndarray | None:
        """Sorted keys of the rows where ``where(table of cols)`` holds — a
        scan of ``cols`` and the key, one file at a time, so memory is one
        file's columns plus the matched keys. ``prune=(col, sorted values)``
        skips the row groups whose ``col`` min/max holds none of the values.
        None as soon as more than ``limit`` rows match."""
        keys, n = [], 0
        for _, path, md, _ in self.files:
            rgs = range(md.num_row_groups)
            if prune is not None:
                col, want = prune
                rgs = [i for i, r in enumerate(_ranges(md, col)) if r is None or _any_in(want, *r)]
                if not rgs:
                    continue
            with pq.ParquetFile(path, metadata=md) as pf:
                t = pf.read_row_groups(rgs, columns=[self.key, *cols], use_threads=False)
            k = t[self.key].filter(where(t)).to_numpy()
            n += k.size
            if n > limit:
                return None
            keys.append(k)
        return np.sort(np.concatenate(keys)) if keys else np.empty(0, np.int64)


def _any_in(want: list, lo, hi) -> bool:
    """Does the sorted list ``want`` hold a value in [lo, hi]?"""
    i = bisect.bisect_left(want, lo)
    return i < len(want) and want[i] <= hi


def _ranges(md: pq.FileMetaData, col: str) -> list[tuple | None]:
    """Per row group, the (min, max) of flat column ``col``; None where the
    footer has no min/max, and everywhere when ``col`` is not a flat column
    (an array's leaf is ``col.list.element``)."""
    paths = [md.schema.column(j).path for j in range(md.num_columns)]
    if col not in paths:
        return [None] * md.num_row_groups
    j = paths.index(col)
    stats = (md.row_group(i).column(j).statistics for i in range(md.num_row_groups))
    return [(st.min, st.max) if st is not None and st.has_min_max else None for st in stats]


@dataclass
class _Atom:
    gid: int
    terms: list[str]  # 1 term, or n terms for a phrase
    slop: int
    raw: str = ""  # the pre-analysis atom text (debug surface / explain)


class SearchEngine:
    """Query executor over one or more analyzer-variant indexes.

    ``index_dirs`` maps analyzer name → index root, mirroring the reference's
    dual ``text`` / ``text_ws`` fields (`model/SolrItem.java:32-33`).

    Serving fast path: when a query's candidate postings are small
    (Σ df ≤ SMALL_QUERY_POSTINGS) and its fq ids and tombstones are bounded,
    ``mode="auto"`` reads the query's blocks and its hits' doc rows with a
    driver-local parquet reader and runs the segment kernel in-process — no
    Spark job once the engine is warm, instead of a shuffle + applyInPandas
    stage. This is what a serving node does with a Lucene segment reader;
    the distributed placement remains for head terms and is forced with
    ``mode="wand"``/``"exhaustive"`` (identity-tested).
    Either way ``search()`` runs the query and returns a LocalTableScan of
    the finished hits.
    """

    # dictionaries up to this many terms are cached driver-side: one parquet
    # read at init instead of one lookup job per query (serving-path latency)
    DICT_CACHE_MAX_TERMS = 2_000_000
    # Σ df above which auto mode stays distributed (postings too big to pull);
    # also the most scored rows a distributed query collects before Spark cuts
    SMALL_QUERY_POSTINGS = int(os.environ.get("INTUITION_SMALL_QUERY_POSTINGS", "2000000"))
    # Σ cf bound for the positional (phrase) driver route — pos_bin bytes
    # scale with total occurrences, not document frequency
    SMALL_QUERY_POSITIONS = int(os.environ.get("INTUITION_SMALL_QUERY_POSITIONS", "2000000"))
    # LRU postings-block cache (Solr filter-cache analogue): repeated query
    # terms skip the postings read entirely. Bounded by total cached
    # postings count; segments are immutable so entries only invalidate on
    # refresh() after an incremental merge.
    BLOCK_CACHE_MAX_POSTINGS = int(os.environ.get("INTUITION_BLOCK_CACHE_POSTINGS", "4000000"))
    # LRU query-result cache (Solr queryResultCache analogue): a repeated
    # identical query returns its result frame without re-scoring. Results
    # are LocalTableScans of finished hits, so a hit runs no Spark job.
    RESULT_CACHE_MAX = int(os.environ.get("INTUITION_RESULT_CACHE_MAX", "256"))
    # LRU fq cache (Solr filterCache analogue): each non-scoring metadata
    # predicate (field_eq entry; require_no_tool; ts_after; filter_docs)
    # resolves ONCE, by a local scan of its docs column, to a sorted doc_id
    # array, then is intersected into the kernel BEFORE the top-k cut — Solr
    # fq semantics (filter, then rank).
    # Like Solr's per-shard bitsets the arrays are bounded: a predicate
    # matching more than FQ_MAX_IDS docs is marked oversize and its queries
    # take the distributed placement, its ids cogrouped per segment instead.
    FQ_CACHE_MAX = int(os.environ.get("INTUITION_FQ_CACHE_MAX", "64"))
    FQ_MAX_IDS = int(os.environ.get("INTUITION_FQ_MAX_IDS", "2000000"))
    # tombstone sets up to this size collect to the driver (one sorted array
    # intersected into the kernel — the Lucene liveDocs-bitset analogue);
    # past it they stay DISTRIBUTED: the kernel receives per-segment
    # tombstone partitions through the cogroup. A tenant deleting 10% of a
    # 10^12-turn index between compactions can no longer break the driver
    # (r4 verdict #4).
    TOMB_MAX_IDS = int(os.environ.get("INTUITION_TOMB_MAX_IDS", "2000000"))

    def __init__(
        self,
        spark: SparkSession,
        index_dirs: dict[str, str] | str,
        as_of: int | None = None,
        as_of_ts: float | None = None,
    ):
        """``as_of``/``as_of_ts`` open a TIME-TRAVEL view: queries see exactly
        the index as of that snapshot (by id, or latest commit ≤ a unix ts) —
        docs/postings pruned to the snapshot's segments (a partition filter:
        segment ids are monotonic and immutable), tombstones cut at the
        snapshot's commit id, and BM25 stats (N/avgdl) frozen from the
        snapshot record, so scores are rank-identical to what the live engine
        returned then. A ts selector is pinned to its resolved id at
        construction; refresh() keeps the view stable. Snapshots expired by a
        compaction raise (their data files were rewritten)."""
        if isinstance(index_dirs, str):
            index_dirs = {"standard": index_dirs}
        self.spark = spark
        self.paths: dict[str, IndexPaths] = {a: IndexPaths(d) for a, d in index_dirs.items()}
        self.stats: dict[str, dict] = {}
        self._as_of_req = (as_of, as_of_ts)
        self._as_of_pinned: dict[str, int] = {}
        self._snap: dict[str, dict | None] = {}
        self._dict_cache: dict[str, dict[str, int]] = {}
        from collections import OrderedDict

        self._block_cache: OrderedDict[tuple[str, str], pd.DataFrame] = OrderedDict()
        self._block_cache_postings = 0
        self._result_cache: OrderedDict[tuple, DataFrame] = OrderedDict()
        self._fq_cache: OrderedDict[tuple, np.ndarray | None] = OrderedDict()
        self._postings_reader: dict[str, DataFrame] = {}
        self._docs_reader: dict[str, DataFrame] = {}
        # driver-local readers, keyed (analyzer, "postings" | "docs")
        self._local_readers: dict[tuple[str, str], _LocalReader] = {}
        self._empty_frame: DataFrame | None = None
        # value None = oversize sentinel (set larger than TOMB_MAX_IDS)
        self._tomb_cache: dict[tuple, np.ndarray | None] = {}
        # debug surface (Solr debugQuery analogue, SolrClientTool.java:274):
        # the executor of the last search() stamps its name here, so explain()
        # reports the EXECUTED path, never a re-derived guess. CONTRACT: shared
        # mutable instance state — read it right after the search() that set
        # it, from the same thread (Solr's debug output is per-request; a
        # per-request engine handle is the concurrency story, ADVICE r4). The
        # path is one of result_cache / driver / distributed / empty;
        # ``last_kernel`` is the (score mode, prune) the kernel ran with, None
        # when none ran.
        self.last_path: str | None = None
        self.last_kernel: tuple[str, bool] | None = None
        self._load_stats()
        self._needs_warm: set[str] = set(self.paths)
        for a in self.paths:  # eager warm-up: first real query pays no cold start
            self._ensure_warm(a)

    def _load_stats(self) -> None:
        for a, p in self.paths.items():
            with open(p.stats) as f:
                self.stats[a] = json.load(f)
            snap = None
            if self._as_of_req != (None, None):
                from intuition_spark.index import snapshots as snaplog

                pinned = self._as_of_pinned.get(a)
                snap = (
                    snaplog.resolve(p.root, as_of=pinned)
                    if pinned is not None
                    else snaplog.resolve(
                        p.root, as_of=self._as_of_req[0], as_of_ts=self._as_of_req[1]
                    )
                )
                self._as_of_pinned[a] = snap["snapshot_id"]
                # freeze corpus stats at the snapshot: scoring (idf via N,
                # length norm via avgdl) must match the live engine AT that
                # commit, not today's corpus
                st = self.stats[a]
                st["n_segments"] = snap["n_segments"]
                st["N"] = snap["N"]
                if snap.get("avgdl") is not None:
                    st["avgdl"] = snap["avgdl"]
                if snap.get("total_tokens") is not None:
                    st["total_tokens"] = snap["total_tokens"]
            self._snap[a] = snap

    def _ensure_warm(self, a: str) -> None:
        """Build the driver-side dictionary cache for one analyzer.
        Idempotent; deferred after refresh() so a sharded server refreshing
        many shards doesn't pay all warm-ups synchronously — each shard
        re-warms on its first query instead."""
        if a not in self._needs_warm:
            return
        self._needs_warm.discard(a)
        dic = self._dictionary_df(a).select("term", "df", "cf")
        persisted = self._snap.get(a) is not None
        if persisted:
            # the as-of dictionary is an aggregation over snapshot postings,
            # not a small stored table — persist so the size probe and the
            # toPandas below compute it once, not twice
            dic = dic.persist()
        if dic.count() <= self.DICT_CACHE_MAX_TERMS:
            pdf = dic.toPandas()
            self._dict_cache[a] = dict(
                zip(
                    pdf["term"],
                    zip(pdf["df"].astype(int), pdf["cf"].astype(int), strict=True),
                    strict=True,
                )
            )
        if persisted:
            dic.unpersist()

    def refresh(self) -> None:
        """Invalidate caches after incremental merges. Cheap by design: only
        the tiny stats JSONs reload synchronously; the dictionary cache and
        the readers rebuild lazily on the next query per analyzer."""
        self._load_stats()
        self._dict_cache.clear()
        self._block_cache.clear()
        self._block_cache_postings = 0
        self._result_cache.clear()
        self._fq_cache.clear()
        self._postings_reader.clear()
        self._docs_reader.clear()
        self._local_readers.clear()
        self._tomb_cache = {}
        self._needs_warm = set(self.paths)

    # ---- helpers -------------------------------------------------------
    def _route(self, q: Query) -> str:
        eff = q.effective_analyzer
        if eff in self.paths:
            return eff
        return next(iter(self.paths))

    def _analyzer_of(self, a: str) -> str:
        """Analyzer of index ``a`` — from the index's own stats.json, so an
        index name need not equal its analyzer (e.g. a `title` field index
        built with the ws analyzer; the reference's per-field fieldType,
        SolrItem.java:32-33). Falls back to the name for pre-stats layouts."""
        return self.stats[a].get("analyzer") or a

    def _blocks(self, a: str, terms: list[str]) -> DataFrame:
        # term IN (...) is pushed down to the parquet scan; postings files are
        # sorted by term within each seg partition → row-group pruning.
        # The reader (file listing + schema) is cached per analyzer — rebuilt
        # only on refresh() — so per-query planning cost is just the filter.
        df = self._postings_reader.get(a)
        if df is None:
            df = self.spark.read.parquet(self.paths[a].postings)
            self._postings_reader[a] = df
        snap = self._snap.get(a)
        if snap is not None:
            # snapshot visibility = seg < n_segments(commit): segment ids are
            # monotonic and segments immutable, so this is pure partition
            # pruning — an as-of scan lists/reads nothing newer
            df = df.filter(F.col("seg") < snap["n_segments"])
        return df.filter(F.col("term").isin(terms))

    def _local(self, a: str, table: str) -> _LocalReader:
        """The driver-local reader of ``postings`` or ``docs`` for this
        engine's view (an as-of view lists no newer segment)."""
        r = self._local_readers.get((a, table))
        if r is None:
            snap = self._snap.get(a)
            r = _LocalReader(
                getattr(self.paths[a], table), "term" if table == "postings" else "doc_id",
                snap["n_segments"] if snap is not None else None,
            )
            self._local_readers[(a, table)] = r
        return r

    def _docs(self, a: str) -> DataFrame:
        df = self._docs_reader.get(a)
        if df is None:
            df = self.spark.read.parquet(self.paths[a].docs)
            self._docs_reader[a] = df
        snap = self._snap.get(a)
        if snap is not None:
            df = df.filter(F.col("seg") < snap["n_segments"])
        return df

    def _dictionary_df(self, a: str) -> DataFrame:
        """(term, df, cf[, max_tf]) visible to this engine's view. Latest view
        reads the stored dictionary table; an as-of view re-aggregates it from
        posting-block metadata under the snapshot's seg partition filter (the
        dictionary is derived data rebuilt wholesale per commit, so the stored
        table reflects ONLY the latest snapshot — block metadata is the
        per-segment source of truth and needs no decode)."""
        snap = self._snap.get(a)
        if snap is None:
            return self.spark.read.parquet(self.paths[a].dictionary)
        blocks = self.spark.read.parquet(self.paths[a].postings).filter(
            F.col("seg") < snap["n_segments"]
        )
        return blocks.groupBy("term").agg(
            F.sum("n").alias("df"),
            F.sum("tf_sum").alias("cf"),
            F.max("max_tf").alias("max_tf"),
        )

    def _tomb_df(self, a: str) -> DataFrame | None:
        """Tombstoned doc_ids visible to this engine's view, as a DataFrame
        (None when the index has no tombstone table). This is the distributed
        form — nothing collects to the driver."""
        p = os.path.join(self.paths[a].root, "tombstones")
        if not os.path.exists(p):
            return None
        snap = self._snap.get(a)
        if snap is not None:
            # deleted-as-of = rows stamped at or before this commit;
            # legacy unstamped rows read as commit 0 (always deleted).
            # mergeSchema covers mixed stamped/unstamped file sets.
            df = self.spark.read.option("mergeSchema", "true").parquet(p)
            cid = (
                F.coalesce(F.col("commit_id"), F.lit(0))
                if "commit_id" in df.columns
                else F.lit(0)
            )
            df = df.filter(cid <= snap["snapshot_id"])
        else:
            df = self.spark.read.parquet(p)
        return df.select("doc_id")

    def _tombstones(self, a: str) -> np.ndarray | None:
        """Sorted doc_ids deleted by incremental upserts (empty if none), or
        ``None`` when the set exceeds TOMB_MAX_IDS — past that bound nothing
        collects to the driver and callers must use the distributed form
        (``_tomb_df``, cogrouped per segment with the posting blocks).
        Cached per (analyzer, dir mtime); compaction usually bounds the set
        well under the threshold."""
        p = os.path.join(self.paths[a].root, "tombstones")
        if not os.path.exists(p):
            return np.empty(0, dtype=np.int64)
        snap = self._snap.get(a)
        key = (a, os.path.getmtime(p), snap["snapshot_id"] if snap else None)
        if key not in self._tomb_cache:
            pdf = self._tomb_df(a).limit(self.TOMB_MAX_IDS + 1).toPandas()
            # drop only this analyzer's stale entry (a multi-field query reads
            # every scored field's tombstones per query); None = oversize
            self._tomb_cache = {k: v for k, v in self._tomb_cache.items() if k[0] != a}
            self._tomb_cache[key] = None if len(pdf) > self.TOMB_MAX_IDS else np.sort(
                pdf["doc_id"].to_numpy().astype(np.int64)
            )
        return self._tomb_cache[key]

    def _is_tombstoned(self, a: str, doc_id: int) -> bool:
        """Point membership test working in both regimes: binary search on
        the cached array when small, a pushdown point-scan when oversize."""
        tomb = self._tombstones(a)
        if tomb is not None:
            return tomb.size > 0 and bool(
                wand.in_sorted(np.asarray([doc_id], dtype=np.int64), tomb)[0]
            )
        tdf = self._tomb_df(a)
        return tdf is not None and bool(
            tdf.filter(F.col("doc_id") == int(doc_id)).limit(1).count()
        )

    def _has_tombstones(self, a: str) -> bool:
        tomb = self._tombstones(a)
        return tomb.size > 0 if tomb is not None else True

    @staticmethod
    def _fq_preds(q: Query) -> list[tuple[str, object]]:
        """The query's non-scoring fq predicates as (column, value) pairs:
        field_eq entries, require_no_tool (tool IS NULL), the ts_after range
        bound (the reference's date:[x TO NOW]) and the filter_docs doc list.
        Solr's filterCache caches range and list fqs exactly like equality."""
        preds: list[tuple[str, object]] = sorted((q.field_eq or {}).items())
        if q.require_no_tool:
            preds.append(("tool", None))
        if q.ts_after is not None:
            preds.append(("__ts_after__", q.ts_after))
        if q.filter_docs is not None:
            preds.append(("__doc_in__", tuple(sorted(set(q.filter_docs)))))
        return preds

    def _fq_cond(self, a: str, fcol: str, fval):
        """Spark predicate for one fq pair. field_eq is schema-driven:
        equality on scalar columns, array_contains on array columns (the
        reference's multi-valued `authors:"…"` contains-match,
        SolrServiceImpl.java:397-404). fval=None means IS NULL (the
        require_no_tool shape)."""
        if fcol == "__ts_after__":
            # an aware instant: PySpark reads a naive literal in the OS timezone
            return F.col("ts") >= F.lit(self._ts_bound(fval).to_pydatetime())
        if fcol == "__doc_in__":
            return F.col("doc").isin(list(fval))
        dt = self._docs(a).schema[fcol].dataType
        if isinstance(dt, T.ArrayType):
            return F.array_contains(F.col(fcol), fval)
        return F.col(fcol).isNull() if fval is None else (F.col(fcol) == F.lit(fval))

    def _fq_mask(self, t: pa.Table, fcol: str, fval) -> pa.Array:
        """Arrow twin of `_fq_cond`: which rows of docs table ``t`` (holding
        column ``_FQ_COLS.get(fcol, fcol)``) one fq pair keeps."""
        col = t[_FQ_COLS.get(fcol, fcol)]
        if fcol == "__ts_after__":
            # an aware bound into a naive (INT96: UTC) type converts to UTC
            return pc.greater_equal(col, pa.scalar(self._ts_bound(fval), col.type))
        if fcol == "__doc_in__":
            return pc.is_in(col, value_set=pa.array(list(fval), col.type))
        if pa.types.is_list(col.type):
            lists = col.combine_chunks()
            hit = pc.list_parent_indices(lists).filter(pc.equal(pc.list_flatten(lists), fval))
            mask = np.zeros(len(lists), dtype=bool)
            mask[hit.to_numpy()] = True
            return pa.array(mask)
        return pc.is_null(col) if fval is None else pc.equal(col, fval)

    @staticmethod
    def _fq_prune(fcol: str, fval):
        """The row-group pruning of one fq pair's scan (`_LocalReader.scan`):
        its column and sorted values for a scalar ``==`` or ``filter_docs``.
        None for IS NULL, and for ts_after: parquet INT96 ``ts`` has no
        min/max statistics."""
        if fcol == "__doc_in__":
            return "doc", list(fval)
        if fcol != "__ts_after__" and fval is not None:
            return fcol, [fval]
        return None

    def _ts_bound(self, fval) -> pd.Timestamp:
        """A ts_after bound as a UTC instant: a naive bound is a wall time in
        the session timezone. Parquet ``ts`` (INT96) reads as naive UTC."""
        bound = pd.Timestamp(fval)
        if bound.tzinfo is None:
            bound = bound.tz_localize(self.spark.conf.get("spark.sql.session.timeZone", "UTC"))
        return bound.tz_convert("UTC")

    def _dfs_for_terms(self, a: str, terms: list[str]) -> dict[str, int]:
        cached = self._dict_cache.get(a)
        if cached is not None:
            return {t: cached.get(t, (0, 0))[0] for t in terms}
        rows = (
            self._dictionary_df(a)
            .filter(F.col("term").isin(terms))
            .select("term", "df")
            .collect()
        )
        return {r["term"]: int(r["df"]) for r in rows}

    def expand_dictionary(self, a: str, pattern: str, kind: str, fuzzy_max: int = 1) -> list[str]:
        """Wildcard/regex/fuzzy expansion by dictionary scan (Q5-Q7)."""
        dic = self._dictionary_df(a)
        p = pattern.lower()
        if kind == "wildcard":
            # anchor a literal prefix for pushdown, then exact fnmatch via RLIKE
            rx = "^" + "".join(
                ".*" if c == "*" else "." if c == "?" else rx_escape(c) for c in p
            ) + "$"
            prefix = p.split("*")[0].split("?")[0]
            if prefix:
                dic = dic.filter(F.col("term").startswith(prefix))
            dic = dic.filter(F.col("term").rlike(rx))
        elif kind == "regex":
            dic = dic.filter(F.col("term").rlike("^(?:" + p + ")$"))
        elif kind == "fuzzy":
            dic = dic.filter(
                (F.length("term") >= len(p) - fuzzy_max) & (F.length("term") <= len(p) + fuzzy_max)
            ).filter(F.levenshtein(F.col("term"), F.lit(p)) <= fuzzy_max)
        else:
            raise ValueError(kind)
        return [r["term"] for r in dic.select("term").collect()]

    def _parse_atoms(self, q: Query, a: str) -> list[_Atom]:
        atoms: list[_Atom] = []
        for gid, group in enumerate(q.groups):
            for atom in group:
                toks = [t for t, _ in analyze_text(atom, self._analyzer_of(a))]
                if toks:
                    atoms.append(_Atom(gid, toks, q.slop, atom))
        return atoms

    # ---- search --------------------------------------------------------
    @staticmethod
    def _result_key(q: Query, mode: str, a: str) -> tuple:
        """Semantic identity of a query (query_id excluded — it's a label)."""
        return (
            a, mode, q.kind, tuple(tuple(g) for g in q.groups), q.slop, q.k, q.offset,
            tuple(q.filter_docs) if q.filter_docs is not None else None,
            q.ts_after, q.require_no_tool,
            tuple(sorted(q.field_eq.items())) if q.field_eq else None,
            tuple(q.exclude) if q.exclude else None,
            tuple(q.fields.items()) if q.fields else None,
        )

    def _index_state(self, a: str) -> tuple:
        """On-disk index-state token folded into every result-cache key:
        merge_delta/compact rewrite stats.json and deletes append under
        tombstones/, so their mtimes change whenever results could — a result
        cached before a merge can never serve deleted/superseded docs after
        it, even before refresh() is called (the pre-cache invariant)."""
        tp = os.path.join(self.paths[a].root, "tombstones")
        return (
            os.path.getmtime(self.paths[a].stats),
            os.path.getmtime(tp) if os.path.exists(tp) else 0.0,
        )

    def _fq_ids(self, a: str, q: Query) -> np.ndarray | None:
        """Solr filterCache analogue: resolve the query's fq predicates
        (`_fq_preds`) to ONE sorted doc_id array (None when it has none).

        Each single predicate is cached (LRU, keyed with the on-disk index
        state so incremental merges invalidate naturally); conjunctions
        intersect the cached arrays. A predicate resolves by one local scan
        of its docs column and doc_id (`_LocalReader.scan`; no Spark job),
        which stops once it passes FQ_MAX_IDS matches: None then — the
        per-shard bound that keeps the driver's memory O(one file +
        selective predicates), exactly Solr's maxDoc-bounded filterCache
        bitsets; the caller must then use the distributed placement.
        """
        out: np.ndarray | None = None
        state = self._index_state(a)
        for fcol, fval in self._fq_preds(q):
            key = (a, fcol, fval, state)
            if key not in self._fq_cache:
                ids = self._local(a, "docs").scan(
                    [_FQ_COLS.get(fcol, fcol)], lambda t: self._fq_mask(t, fcol, fval),
                    self.FQ_MAX_IDS, self._fq_prune(fcol, fval),
                )
                self._fq_cache[key] = ids
                # max(1, …): FQ_CACHE_MAX=0 must degrade to "cache nothing
                # beyond the in-flight key", not evict the entry we just
                # inserted and KeyError on the read below (ADVICE r3)
                while len(self._fq_cache) > max(1, self.FQ_CACHE_MAX):
                    self._fq_cache.popitem(last=False)
            else:
                self._fq_cache.move_to_end(key)
                ids = self._fq_cache[key]
            if ids is None:
                return None
            out = ids if out is None else np.intersect1d(out, ids, assume_unique=True)
        return out

    def search(self, q: Query, mode: str = "auto") -> DataFrame:
        if q.fields:
            self._validate_fields(q)
        a = self._route(q)
        self._ensure_warm(a)
        # fold in the index state of EVERY scored field, not just the routed
        # one: a multi-field query cached before a merge on any of its other
        # field indexes must miss after it (same pre-cache invariant as
        # single-field; _index_state docstring)
        state: tuple = ()
        for f in sorted(q.fields) if q.fields else (a,):
            state += self._index_state(f)
        rkey = self._result_key(q, mode, a) + state
        self.last_path = self.last_kernel = None
        hit = self._result_cache.get(rkey)
        if hit is not None:
            self._result_cache.move_to_end(rkey)
            self.last_path = "result_cache"
            return hit
        out = self._search_uncached(q, a, mode)
        self._result_cache[rkey] = out
        while len(self._result_cache) > self.RESULT_CACHE_MAX:
            self._result_cache.popitem(last=False)
        return out

    def _fq_fold(self, a: str, q: Query) -> tuple[bool, np.ndarray | None]:
        """Fold the query's fq predicates through the filterCache — the ONE
        routing-state derivation shared by `_search_uncached` and the explain
        surface (ADVICE r4: a private re-implementation in explain.py could
        silently drift from the router's admission rule).

        Returns ``(has_fq, included)``: ``included`` is the bounded sorted id
        array the kernel intersects BEFORE any top-k cut, None when there are
        no predicates or one is oversize (``has_fq`` tells which)."""
        has_fq = bool(self._fq_preds(q))
        return has_fq, self._fq_ids(a, q) if has_fq else None

    def _fq_pred_df(self, a: str, q: Query) -> DataFrame:
        """The query's fq predicates resolved DISTRIBUTED: one
        pushdown-filtered scan of the docs store → (seg, doc_id). This is how
        an oversize predicate (> FQ_MAX_IDS matches — e.g. `role:assistant`
        over 10^12 turns) reaches the kernel without abandoning pruning:
        the ids stay partitioned, cogrouped with the posting blocks on seg
        (reference semantics: fq is cached AND ranked under,
        `SolrClientTool.java:273,317`)."""
        docs = self._docs(a)
        for fcol, fval in self._fq_preds(q):
            docs = docs.filter(self._fq_cond(a, fcol, fval))
        return docs.select("seg", "doc_id")

    def _search_uncached(self, q: Query, a: str, mode: str) -> DataFrame:
        """The one router: build the query's kernel spec, then run it in the
        driver placement when ``mode="auto"`` admission passes (bounded
        postings, fq ids and tombstones), else in the distributed placement.
        fq ids and tombstones reach the kernel either as bounded sorted
        arrays or, above FQ_MAX_IDS/TOMB_MAX_IDS, as per-segment id
        partitions cogrouped with the blocks — either way they apply BEFORE
        each segment's top-k (Solr fq semantics: filter, then rank). The mode
        is an optimization hint and never changes result semantics."""
        fields = dict(q.fields) if q.fields else {a: 1.0}
        has_fq, included = self._fq_fold(a, q)
        built = None
        if included is None or included.size:
            built = self._kernel_spec(q, fields, prune=mode != "exhaustive")
        if built is None:
            self.last_path = "empty"
            return self._empty_hits()
        spec, fetch, positional = built
        tombs = [self._tombstones(f) for f in fields]
        tomb_ok = all(t is not None for t in tombs)
        excluded = None
        if tomb_ok:
            excluded = tombs[0] if len(tombs) == 1 else np.unique(np.concatenate(tombs))
        if (
            mode == "auto" and tomb_ok and (included is not None or not has_fq)
            and all(self._small_enough(f, fetch[f], positional[f]) for f in fields)
        ):
            return self._run_driver(q, spec, fetch, positional, included, excluded)
        fq_df = self._fq_pred_df(a, q) if has_fq and included is None else None
        tomb_dfs = [] if tomb_ok else [t for t in map(self._tomb_df, fields) if t is not None]
        return self._run_distributed(
            q, a, spec, fetch, positional, included, excluded, fq_df, tomb_dfs
        )

    def _kernel_spec(
        self, q: Query, fields: dict[str, float], prune: bool
    ) -> tuple[wand.KernelSpec, dict[str, list[str]], dict[str, bool]] | None:
        """The query's kernel spec, plus per field the terms whose blocks the
        kernel reads (scored ∪ MUST_NOT) and whether it needs positions.
        None when no clause survives analysis/expansion (nothing can match)."""
        terms: dict[tuple[str, str], tuple[int, float, float]] = {}
        phrases: list[tuple] = []
        gids: set[int] = set()
        if q.kind in ("tf_sort", "wildcard", "regex", "fuzzy"):  # single-field kinds
            (a,) = fields
            avgdl = self.stats[a]["avgdl"]
            if q.kind == "tf_sort":
                mode = "tf"
                words = [t for t, _ in analyze_text(q.groups[0][0], self._analyzer_of(a))][:1]
            else:
                # Q5/Q6/Q7: dictionary expansion → constant-score union
                # (Lucene CONSTANT_SCORE multi-term rewrite, the Solr 8 default)
                mode = "const"
                words = self._expand_cached(a, q.groups[0][0], q.kind)
                if words is None:
                    words = self.expand_dictionary(a, q.groups[0][0], q.kind)
            terms = {(a, t): (0, 1.0, avgdl) for t in words}
            gids = {0} if words else set()
        else:
            mode = "bm25"
            for f, w in fields.items():
                self._ensure_warm(f)
                N, avgdl = self.stats[f]["N"], self.stats[f]["avgdl"]
                atoms = self._parse_atoms(q, f)
                dfs = self._dfs_for_terms(f, sorted({t for at in atoms for t in at.terms}))
                for at in atoms:
                    gids.add(at.gid)
                    if len(at.terms) == 1:
                        # a term reused across atoms is scored once, under its
                        # first gid (documented limitation)
                        idf = bm25_idf(N, dfs.get(at.terms[0], 0))
                        terms.setdefault((f, at.terms[0]), (at.gid, w * idf, avgdl))
                    else:
                        # per-token idf sum (NOT per distinct term): a repeated
                        # term counts once per position, like Lucene
                        # PhraseWeight and the oracle
                        idf = sum(bm25_idf(N, dfs.get(t, 0)) for t in at.terms)
                        phrases.append((f, tuple(at.terms), at.slop, at.gid, w * idf, avgdl))
        if not gids:
            return None
        exclude = frozenset((f, t) for f in fields for t in self._exclude_terms(q, f))
        fetch = {
            f: sorted(
                {t for g, t in terms if g == f} | {t for g, t in exclude if g == f}
                | {t for p in phrases if p[0] == f for t in p[1]}
            )
            for f in fields
        }
        positional = {f: any(p[0] == f for p in phrases) for f in fields}
        spec = wand.KernelSpec(
            mode, terms, len(gids), q.k + q.offset, prune, tuple(phrases), exclude
        )
        return spec, fetch, positional

    def _run_driver(
        self, q: Query, spec: wand.KernelSpec, fetch: dict[str, list[str]],
        positional: dict[str, bool], included: np.ndarray | None, excluded: np.ndarray,
    ) -> DataFrame:
        """Driver placement: cached block fetch → kernel over all segments →
        local hydration, all in-process (`_LocalReader`; no Spark job)."""
        self.last_path, self.last_kernel = "driver", (spec.mode, spec.prune)
        blocks = pd.concat(
            [self._collect_blocks(f, ts, positional[f]).assign(fld=f) for f, ts in fetch.items()],
            ignore_index=True,
        )
        docs, scores = wand.score_segments(blocks, spec, included, excluded)
        return self._finish(pd.DataFrame({"doc_id": docs, "score": scores}), q, spec)

    def _run_distributed(
        self, q: Query, a: str, spec: wand.KernelSpec, fetch: dict[str, list[str]],
        positional: dict[str, bool], included: np.ndarray | None,
        excluded: np.ndarray | None, fq_df: DataFrame | None, tomb_dfs: list[DataFrame],
    ) -> DataFrame:
        """Distributed placement: `_kernel_stage` → collect → `_finish`. The
        collect is bounded by construction: the kernel emits at most offset+k
        rows per segment, or in tf mode every posting of the scored term (it
        keeps all ties, which ts breaks); past SMALL_QUERY_POSTINGS, `_precut`."""
        self.last_path, self.last_kernel = "distributed", (spec.mode, spec.prune)
        scored = self._kernel_stage(spec, fetch, positional, included, excluded, fq_df, tomb_dfs)
        if spec.mode == "tf":
            bound = sum(self._dfs_for_terms(a, [t for _, t in spec.terms]).values())
        else:
            bound = spec.k * self.stats[a]["n_segments"]
        if bound > self.SMALL_QUERY_POSTINGS:
            scored = self._precut(scored, a, spec)
        return self._finish(scored.toPandas(), q, spec)

    def _kernel_stage(
        self, spec: wand.KernelSpec, fetch: dict[str, list[str]], positional: dict[str, bool],
        included: np.ndarray | None, excluded: np.ndarray | None,
        fq_df: DataFrame | None, tomb_dfs: list[DataFrame],
    ) -> DataFrame:
        """The lazy kernel stage: the query's scanned blocks (a ``fld``
        column rides along — analyzed terms may contain any byte, so the
        field can't be smuggled into the term string) → groupBy(seg)
        [cogrouped with the oversize fq/tombstone id partitions] → kernel →
        (doc_id, score). Multi-field is valid because segments align across
        the field indexes (_validate_fields), so per-segment block-max bounds
        stay true upper bounds of the summed cross-field score."""
        blocks = reduce(lambda x, y: x.unionByName(y, allowMissingColumns=True), [
            self._blocks(f, ts).select(*self._BLOCK_COLS, *(["pos_bin"] if positional[f] else []))
            .withColumn("fld", F.lit(f))
            for f, ts in fetch.items()
        ])
        schema = "doc_id long, score double"
        if fq_df is None and not tomb_dfs:
            scorer = wand.segment_scorer(spec, included, excluded)
            return blocks.groupBy("seg").applyInPandas(scorer, schema)
        scorer = wand.segment_scorer(
            spec, included, excluded, cogroup=True, dist_fq=fq_df is not None
        )
        aux = self._aux_ids_df(fq_df, tomb_dfs)
        return blocks.groupBy("seg").cogroup(aux.groupBy("seg")).applyInPandas(scorer, schema)

    def _precut(self, scored: DataFrame, a: str, spec: wand.KernelSpec) -> DataFrame:
        """Cut the scored rows to the top offset+k in Spark: a join with the
        docs' sort keys, then one TakeOrdered in the canonical order."""
        docs = self._docs(a).select("doc_id", "ts", "conv_id", "turn_idx")
        keys = [F.col(c).desc() for c in self._order(spec)]
        return (
            scored.join(docs, "doc_id")
            .orderBy(*keys, F.col("conv_id").asc(), F.col("turn_idx").asc())
            .limit(spec.k).select("doc_id", "score")
        )

    def _finish(self, cand: pd.DataFrame, q: Query, spec: wand.KernelSpec) -> DataFrame:
        """The one ending of both placements: sort the scored rows and cut
        them to the top offset+k. Every candidate tied at the boundary score
        survives for the canonical tiebreak in `_driver_hydrate` (hydrate by
        id then order, `controller/ArticleController.java:465-473`)."""
        cand = cand.sort_values("score", ascending=False, kind="mergesort")
        if len(cand) > spec.k:
            cand = cand[cand["score"] >= float(cand["score"].iloc[spec.k - 1])]
        return self._driver_hydrate(cand, q, self._order(spec))

    @staticmethod
    def _order(spec: wand.KernelSpec) -> tuple[str, ...]:
        # tf-sort: sort=termfreq(text,t) desc, date desc (SolrClientTool.java:147-151)
        return ("score", "ts") if spec.mode == "tf" else ("score",)

    # ---- driver-side helpers (serving latency) --------------------------
    def _empty_hits(self) -> DataFrame:
        # from an Arrow table, not a list: a LocalTableScan whose collect
        # launches no Spark job (an empty list builds an RDD-backed frame)
        if self._empty_frame is None:
            self._empty_frame = self.spark.createDataFrame(to_arrow_schema(HITS_SCHEMA).empty_table())
        return self._empty_frame

    def _exclude_terms(self, q: Query, a: str) -> list[str]:
        """Analyzed MUST_NOT terms (single-token atoms only — Lucene prohibits
        whole clauses, but the reference only negates field-exists/term
        shapes, SolrServiceImpl.java:88)."""
        out: list[str] = []
        for xatom in q.exclude or []:
            toks = [t for t, _ in analyze_text(xatom, self._analyzer_of(a))]
            if len(toks) > 1:
                raise ValueError(f"exclude atoms must be single terms: {xatom!r}")
            out.extend(toks)
        return sorted(set(out))

    def _small_enough(self, a: str, terms: list[str], positional: bool = False) -> bool:
        """Driver fast-path admission. Postings volume is bounded by Σdf; the
        positional route (a query with phrases) additionally pulls
        pos_bin whose size scales with Σtf = Σcf, so it gets its own (lower)
        bound — a term just under the df threshold with huge per-doc tf can't
        drag an unbounded position stream to the driver."""
        if a not in self._dict_cache:
            return False
        cache = self._dict_cache[a]
        stats = [cache.get(t, (0, 0)) for t in terms]
        if sum(df for df, _ in stats) > self.SMALL_QUERY_POSTINGS:
            return False
        if positional:
            return sum(cf for _, cf in stats) <= self.SMALL_QUERY_POSITIONS
        return True

    _BLOCK_COLS = [
        "seg", "term", "n", "first_doc", "last_doc", "max_tf", "min_dl",
        "docs_bin", "tfs_bin", "dls_bin",
    ]

    def _cache_put(self, a: str, term: str, pdf: pd.DataFrame) -> None:
        key = (a, term)
        old = self._block_cache.pop(key, None)
        if old is not None:
            self._block_cache_postings -= int(old["n"].sum()) if len(old) else 0
        self._block_cache[key] = pdf
        self._block_cache_postings += int(pdf["n"].sum()) if len(pdf) else 0
        while (
            self._block_cache_postings > self.BLOCK_CACHE_MAX_POSTINGS
            and len(self._block_cache) > 1
        ):
            _, evicted = self._block_cache.popitem(last=False)
            self._block_cache_postings -= int(evicted["n"].sum()) if len(evicted) else 0

    def _collect_blocks(self, a: str, terms: list[str], with_positions: bool = False):
        """Block fetch through the driver-local reader with an LRU term
        cache. A cache entry without pos_bin is upgraded (refetched with
        positions) when a positional query needs the same term."""
        missing = []
        for t in terms:
            hit = self._block_cache.get((a, t))
            if hit is None or (with_positions and "pos_bin" not in hit.columns):
                missing.append(t)
            else:
                self._block_cache.move_to_end((a, t))
        if missing:
            cols = self._BLOCK_COLS + (["pos_bin"] if with_positions else [])
            fetched = self._local(a, "postings").read(missing, cols)
            seen = set()
            for t, g in fetched.groupby("term", sort=False):
                self._cache_put(a, str(t), g.reset_index(drop=True))
                seen.add(str(t))
            for t in missing:  # cache absent terms too: re-reads cost I/O
                if t not in seen:
                    # unconditional put: an absent-term placeholder cached
                    # without pos_bin must still upgrade to the positional
                    # column set, or positional queries re-scan it forever
                    self._cache_put(a, t, fetched.iloc[0:0])
        parts = [self._block_cache[(a, t)] for t in terms if (a, t) in self._block_cache]
        out = pd.concat(parts, ignore_index=True) if parts else pd.DataFrame(
            columns=self._BLOCK_COLS
        )
        if not with_positions and "pos_bin" in out.columns:
            out = out.drop(columns=["pos_bin"])
        return out

    def _driver_hydrate(self, cand: pd.DataFrame, q: Query, order=("score",)) -> DataFrame:
        """Fetch doc metadata for either placement's bounded candidate set by
        a local point lookup on doc_id, and produce the canonical hit frame
        locally."""
        if cand.empty:
            return self._empty_hits()
        docs = self._local(self._route(q), "docs").read(
            [int(d) for d in cand["doc_id"].tolist()],
            ["doc_id", "doc", "conv_id", "turn_idx", *(c for c in order if c != "score")],
        )
        m = cand.merge(docs, on="doc_id")
        m = m.sort_values(
            [*order, "conv_id", "turn_idx"],
            ascending=[False] * len(order) + [True, True], kind="mergesort",
        ).iloc[q.offset : q.offset + q.k]
        out = m[["doc", "score", "conv_id", "turn_idx"]]
        return self.spark.createDataFrame(out, schema=HITS_SCHEMA)

    def _expand_cached(self, a: str, pattern: str, kind: str, fuzzy_max: int = 1) -> list[str] | None:
        """Dictionary expansion against the driver-side cache (no Spark job);
        None when the cache is absent (fall back to the distributed scan)."""
        cache = self._dict_cache.get(a)
        if cache is None:
            return None
        import re as _re

        p = pattern.lower()
        if kind == "wildcard":
            rx = _re.compile(
                "^" + "".join(".*" if c == "*" else "." if c == "?" else rx_escape(c) for c in p) + "$"
            )
            return [t for t in cache if rx.match(t)]
        if kind == "regex":
            rx = _re.compile("^(?:" + p + ")$")
            return [t for t in cache if rx.match(t)]
        if kind == "fuzzy":
            return [
                t
                for t in cache
                if abs(len(t) - len(p)) <= fuzzy_max and _lev_le(t, p, fuzzy_max)
            ]
        raise ValueError(kind)

    def _aux_ids_df(self, fq_df: DataFrame | None, tomb_dfs: list[DataFrame]) -> DataFrame:
        """(seg, doc_id, kind) union of the distributed fq side (kind=1) and
        the distributed tombstone sides (kind=0) for the cogrouped kernel.
        fq rows come from the docs store with seg already a column; tombstone
        rows recover it from the id (doc_id = seg << SEG_SHIFT | row)."""
        sides = [(fq_df, F.col("seg"), 1)] if fq_df is not None else []
        sides += [(t, F.shiftright(F.col("doc_id"), SEG_SHIFT), 0) for t in tomb_dfs]
        return reduce(DataFrame.unionByName, [
            df.select(seg.cast("int").alias("seg"), F.col("doc_id").cast("long").alias("doc_id"),
                      F.lit(kind).alias("kind"))
            for df, seg, kind in sides
        ])

    def _validate_fields(self, q: Query) -> None:
        # a mistyped field name must not silently fall back to the first index
        base = None
        for f in q.fields:
            if f not in self.paths:
                raise ValueError(
                    f"unknown field index {f!r}; engine has {sorted(self.paths)}"
                )
            sig = (
                self.stats[f]["N"],
                self.stats[f]["n_segments"],
                self.stats[f].get("seg_offset", 0),
            )
            if base is None:
                base = sig
            elif sig != base:
                raise ValueError(
                    "multi-field scoring requires field indexes built over the "
                    f"same corpus (equal N/n_segments/seg_offset); got {base} vs "
                    f"{sig} for {f!r}"
                )

    def search_str(self, s: str, k: int = 10, analyzer: str = "standard",
                   mode: str = "auto", query_id: str = "q", **kw) -> DataFrame:
        """Reference-style string query (`SolrClientTool.find`,
        util/SolrClientTool.java:162-214): parse the edismax-subset string
        (query/parse.py) and execute — a user of the reference keeps their
        query strings."""
        from intuition_spark.query.parse import parse_query

        return self.search(
            parse_query(s, query_id=query_id, k=k, analyzer=analyzer, **kw), mode=mode
        )

    def page(self, q: Query, offset: int, k: int | None = None, mode: str = "auto") -> DataFrame:
        """Deep-paging convenience (`SolrClientTool.deepPage`,
        util/SolrClientTool.java:216-233): rows offset..offset+k-1 of the
        query's canonical order. Stateless cursor — the deterministic
        tiebreak (score desc, conv_id asc, turn_idx asc) guarantees page
        concatenation equals the one-shot ranking (tests/test_paging.py);
        no scroll context to keep alive server-side."""
        from dataclasses import replace

        return self.search(replace(q, offset=offset, k=k if k is not None else q.k), mode=mode)

    def get_by_id(self, docs: list[str], a: str | None = None) -> DataFrame:
        """Q12 `client.getById` (`SolrClientTool.java:328-337`)."""
        a = a or next(iter(self.paths))
        return self._docs(a).filter(F.col("doc").isin(docs))

    def explain(self, q: Query, mode: str = "auto") -> dict:
        """Solr ``debugQuery=true`` analogue (`SolrClientTool.java:274`):
        run ``q`` and report the parse (analyzed atoms with df/cf/idf), the
        EXECUTED path, the driver-admission arithmetic, and the filterCache
        resolution. On a result-cache hit this re-runs the query cold to
        report the real executor (costed separately as ``cold_rederive_s``)
        — a debug surface, not a hot-path call. See
        :mod:`intuition_spark.query.explain`."""
        from intuition_spark.query.explain import explain as _explain

        return _explain(self, q, mode)

    def explain_doc(self, q: Query, doc: str) -> dict:
        """Per-document score breakdown (Lucene ``Explanation`` analogue):
        one record per matching (field, atom) whose contributions sum to the
        engine's hit score, plus every non-scoring gate's verdict."""
        from intuition_spark.query.explain import explain_doc as _explain_doc

        return _explain_doc(self, q, doc)


def rx_escape(c: str) -> str:
    return "\\" + c if c in ".^$+{}[]|()\\" else c


def _lev_le(a: str, b: str, maxd: int) -> bool:
    """Levenshtein(a, b) ≤ maxd, banded DP with early exit (dictionary-cache
    fuzzy expansion; matches Spark's levenshtein() semantics)."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > maxd:
        return False
    prev = list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] * (lb + 1)
        ca = a[i - 1]
        for j in range(1, lb + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != b[j - 1]))
        if min(cur) > maxd:
            return False
        prev = cur
    return prev[lb] <= maxd
