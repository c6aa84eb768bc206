"""The segment kernel: one segment's posting blocks → that segment's top-k.

Every query shape is ranked by this one numpy function, the analogue of
Lucene scoring each segment with its default BM25 similarity. The engine runs
it in one of two placements over the same blocks: in-process over
driver-fetched blocks, or per segment through ``groupBy("seg")`` (optionally
cogrouped with distributed id partitions) and ``applyInPandas``.

Distribution model: the index is segmented by document (builder.py), so every
segment holds the *complete* posting lists of its docs. Each segment is scored
independently, producing a local top-k; the global top-k is the merge of
segment top-ks. Within a segment doc_id order IS the canonical (conv_id,
turn_idx) order (builder guarantee), so the kernel's doc_id tie-break is the
final one; tf-sort, whose ties are broken by ts, keeps every boundary tie.

Query semantics are the shared AST ones: AND of OR-groups, every group must
match, score = Σ over all matched clauses. A clause is a term's posting
blocks or a phrase's positional matches; three score modes weigh a posting:

* ``bm25``  — boost·idf·BM25(tf, dl) (term, AND, OR-groups, phrase and
  proximity, multi-field: blocks carry ``fld`` and each field its avgdl);
* ``tf``    — the raw term frequency (``tf_sort``);
* ``const`` — 1.0 per matching doc (the constant-score multi-term rewrite).

Block-max WAND pruning (SURVEY.md §4: "a mapPartitions scorer over
block-compressed postings with per-block max-score metadata") skips doc
ranges whose upper bound cannot reach the heap; ``prune=False`` scores every
range and is the exhaustive scorer. Everything inside is numpy — pandas in,
pandas out at the Spark boundary.
"""

from __future__ import annotations

import heapq
import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from intuition_spark.index import codec

K1 = 1.2
B = 0.75


def bm25_idf(N: int, df: int) -> float:
    return math.log(1.0 + (N - df + 0.5) / (df + 0.5))


def _weight(tf, dl, avgdl: float):
    """BM25 term weight sans idf; numpy-broadcastable."""
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


@dataclass
class TermBlocks:
    """All posting blocks of one term within one segment (sorted by first_doc).

    Block-max metadata is (max_tf, min_dl): the BM25 weight is increasing in
    tf and decreasing in dl, so idf·w(max_tf, min_dl) upper-bounds every
    posting in the block for any avgdl. ``idf`` is the clause's whole scale
    (boost·idf); ``mode`` is the kernel's score mode."""

    term: str
    gid: int
    idf: float
    first: np.ndarray  # int64 per block
    last: np.ndarray
    max_tf: np.ndarray  # int64 per block
    min_dl: np.ndarray  # int64 per block
    avgdl: float
    docs_bin: list[bytes] | np.ndarray
    tfs_bin: list[bytes] | np.ndarray
    dls_bin: list[bytes] | np.ndarray
    ns: np.ndarray
    mode: str = "bm25"
    _decoded: dict[int, tuple[np.ndarray, np.ndarray, np.ndarray]] | None = None

    COLS = ("seg", "fld", "term", "first_doc", "last_doc", "max_tf", "min_dl", "n",
            "docs_bin", "tfs_bin", "dls_bin")

    @classmethod
    def from_columns(cls, col: dict, s: slice, gid: int, idf: float, avgdl: float, mode: str):
        """One (fld, term)'s rows ``s`` of a segment's first_doc-sorted block
        columns."""
        return cls(
            term=col["term"][s.start], gid=gid, idf=idf,
            first=col["first_doc"][s].astype(np.int64), last=col["last_doc"][s].astype(np.int64),
            max_tf=col["max_tf"][s].astype(np.int64), min_dl=col["min_dl"][s].astype(np.int64),
            avgdl=avgdl, docs_bin=col["docs_bin"][s], tfs_bin=col["tfs_bin"][s],
            dls_bin=col["dls_bin"][s], ns=col["n"][s].astype(np.int64), mode=mode,
        )

    @property
    def n_decoded(self) -> int:
        return 0 if self._decoded is None else len(self._decoded)

    def decode(self, bi: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        if self._decoded is None:
            self._decoded = {}
        got = self._decoded.get(bi)
        if got is None:
            n = int(self.ns[bi])
            docs = codec.delta_decode(self.docs_bin[bi], n)
            tfs = codec.varint_decode(self.tfs_bin[bi], n).astype(np.float64)
            dls = codec.varint_decode(self.dls_bin[bi], n).astype(np.float64)
            got = (docs, tfs, dls)
            self._decoded[bi] = got
        return got

    def _score(self, tf, dl):
        if self.mode == "tf":
            return tf
        if self.mode == "const":
            return np.ones_like(tf, dtype=np.float64)
        return self.idf * _weight(tf, dl, self.avgdl)

    def docs_scores_in_range(self, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
        """(docs, weights) for this term's postings with lo ≤ doc ≤ hi."""
        b0 = int(np.searchsorted(self.last, lo, side="left"))
        b1 = int(np.searchsorted(self.first, hi, side="right"))
        ds, ws = [], []
        for bi in range(b0, b1):
            docs, tfs, dls = self.decode(bi)
            i0, i1 = np.searchsorted(docs, [lo, hi + 1])
            if i0 == i1:
                continue
            ds.append(docs[i0:i1])
            ws.append(self._score(tfs[i0:i1], dls[i0:i1]))
        if not ds:
            return np.empty(0, np.int64), np.empty(0, np.float64)
        return np.concatenate(ds).astype(np.int64), np.concatenate(ws)

    def max_impact_in_range(self, lo: int, hi: int) -> float:
        b0 = int(np.searchsorted(self.last, lo, side="left"))
        b1 = int(np.searchsorted(self.first, hi, side="right"))
        if b0 >= b1:
            return 0.0
        ub = self._score(
            self.max_tf[b0:b1].astype(np.float64), self.min_dl[b0:b1].astype(np.float64)
        )
        return float(ub.max())


@dataclass
class ScoredPostings:
    """A clause whose postings are scored up front — a phrase's positional
    matches in one segment. Pseudo-blocks of BLOCK_SIZE docs carry their max
    score, so the clause prunes like a term's posting blocks."""

    gid: int
    docs: np.ndarray  # sorted int64
    scores: np.ndarray
    n_decoded: int = 0

    def __post_init__(self):
        starts = np.arange(0, self.docs.size, codec.BLOCK_SIZE)
        ends = np.minimum(starts + codec.BLOCK_SIZE, self.docs.size)
        self.first = self.docs[starts]
        self.last = self.docs[ends - 1]
        self.ns = ends - starts
        self.ub = np.maximum.reduceat(self.scores, starts)

    def docs_scores_in_range(self, lo: int, hi: int) -> tuple[np.ndarray, np.ndarray]:
        i0, i1 = np.searchsorted(self.docs, [lo, hi + 1])
        return self.docs[i0:i1], self.scores[i0:i1]

    def max_impact_in_range(self, lo: int, hi: int) -> float:
        b0 = int(np.searchsorted(self.last, lo, side="left"))
        b1 = int(np.searchsorted(self.first, hi, side="right"))
        return float(self.ub[b0:b1].max()) if b0 < b1 else 0.0


def in_sorted(values: np.ndarray, table: np.ndarray) -> np.ndarray:
    """Membership mask of ``values`` in a SORTED-unique ``table`` via one
    binary search per value. np.isin re-sorts the table on EVERY call —
    with a filterCache id set of ~1e5 and one membership test per posting
    block, that re-sort dominated filtered-query latency (measured 2.3 s of
    a 2.7 s fieldq query in np.isin); this is O(|values| log |table|)."""
    if table.size == 0:
        return np.zeros(values.shape, dtype=bool)
    idx = np.searchsorted(table, values)
    idx[idx == table.size] = table.size - 1
    return table[idx] == values


def score_segment_topk(
    clauses: list,
    n_groups: int,
    k: int,
    prune: bool = True,
    excluded: np.ndarray | None = None,
    included: np.ndarray | None = None,
    stats: dict | None = None,
    mode: str = "bm25",
) -> tuple[np.ndarray, np.ndarray]:
    """Top-k (doc_ids, scores) of one segment's clauses (TermBlocks or
    ScoredPostings). ``excluded`` docs (tombstones, MUST_NOT) never score;
    when ``included`` is set only those docs may (fq: filter, then rank).
    In ``tf`` mode every doc tied with the k-th score is kept.

    When ``stats`` is a dict, pruning effectiveness counters are accumulated
    into it: ranges_total / ranges_scored / blocks_total / blocks_decoded."""
    groups: dict[int, list] = {}
    for c in clauses:
        groups.setdefault(c.gid, []).append(c)
    if len(groups) < n_groups:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    const = mode == "const"
    keep_ties = mode == "tf"

    def group_ub(cs: list, lo: int, hi: int) -> float:
        # OR sums matched clauses, so the bound is the SUM of each clause's
        # block-max (a constant-score group scores at most 1)
        ub = sum(c.max_impact_in_range(lo, hi) for c in cs)
        return min(ub, 1.0) if const else ub

    # driver group = fewest segment-local postings (df-ascending ordering,
    # SURVEY.md §4 "order joins smallest-df-first")
    driver_gid = min(groups, key=lambda g: int(sum(c.ns.sum() for c in groups[g])))

    # candidate ranges = driver group's blocks, merged across its clauses
    ranges = sorted(
        (int(c.first[i]), int(c.last[i]))
        for c in groups[driver_gid] for i in range(len(c.first))
    )
    merged: list[list[int]] = []
    for lo, hi in ranges:
        if merged and lo <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], hi)
        else:
            merged.append([lo, hi])

    # impact-ordered range processing with threshold pruning
    scored_ranges = []
    for lo, hi in merged:
        ubs = [group_ub(cs, lo, hi) for cs in groups.values()]
        if any(u <= 0.0 for u in ubs):  # a required group can't match here
            continue
        scored_ranges.append((sum(ubs), lo, hi))
    # ub DESC, lo ASC: equal-impact ranges must be visited smallest-doc
    # first — the final rank tie-break is doc_id ASC, so among exact score
    # ties the SMALLEST doc ids win and they must enter the heap before the
    # threshold skip fires (a corpus of duplicated docs makes every score
    # identical; descending-lo order returned the LARGEST ids pre-fix).
    scored_ranges.sort(key=lambda r: (-r[0], r[1]))

    heap: list[tuple[float, int]] = []  # (score, -doc) min-heap of top-k
    kept: list[tuple[np.ndarray, np.ndarray]] = []  # keep_ties: every candidate
    n_scored = 0
    for ub, lo, hi in scored_ranges:
        if prune and len(heap) >= k:
            th = heap[0][0]
            # Strict skip on ub < threshold. At ub == threshold a range can
            # still hold a doc scoring exactly threshold that WINS the
            # doc_id tie-break, so it is skippable only when every doc in it
            # (all ≥ lo) already loses to the heap's worst-at-threshold doc
            # (-heap[0][1]) — and never when boundary ties are kept.
            # Ranges are (ub desc, lo asc)-ordered, so the first skippable
            # range implies all later ones are too.
            if ub < th or (ub == th and lo > -heap[0][1] and not keep_ties):
                break
        n_scored += 1
        # exact evaluation of the range
        cand: np.ndarray | None = None
        per_group: list[tuple[np.ndarray, np.ndarray]] = []
        for cs in groups.values():
            parts = [c.docs_scores_in_range(lo, hi) for c in cs]
            d = np.concatenate([p[0] for p in parts])
            w = np.concatenate([p[1] for p in parts])
            if d.size == 0:
                cand = np.empty(0, np.int64)
                break
            # sum weights per doc (OR = sum of matched clauses)
            order = np.argsort(d, kind="stable")
            d, w = d[order], w[order]
            uniq, starts = np.unique(d, return_index=True)
            sums = np.ones(uniq.size) if const else np.add.reduceat(w, starts)
            per_group.append((uniq, sums))
            cand = uniq if cand is None else cand[in_sorted(cand, uniq)]
        if cand is None or cand.size == 0:
            continue
        if excluded is not None and excluded.size:
            cand = cand[~in_sorted(cand, excluded)]
        if included is not None:
            # Pruning stays valid: removing candidates only slows the
            # threshold's growth — every skipped range's upper bound still
            # upper-bounds its docs.
            cand = cand[in_sorted(cand, included)]
        if cand.size == 0:
            continue
        total = np.zeros(cand.size, np.float64)
        for uniq, sums in per_group:
            total += sums[np.searchsorted(uniq, cand)]
        if len(heap) >= k:  # below the threshold nothing can enter
            keep = total >= heap[0][0]
            cand, total = cand[keep], total[keep]
        if keep_ties:
            kept.append((cand, total))
        for doc, sc in zip(cand.tolist(), total.tolist()):
            if len(heap) < k:
                heapq.heappush(heap, (sc, -doc))
            elif (sc, -doc) > heap[0]:
                heapq.heapreplace(heap, (sc, -doc))
    if stats is not None:
        stats["ranges_total"] = stats.get("ranges_total", 0) + len(scored_ranges)
        stats["ranges_scored"] = stats.get("ranges_scored", 0) + n_scored
        stats["blocks_total"] = stats.get("blocks_total", 0) + sum(
            len(c.first) for cs in groups.values() for c in cs
        )
        stats["blocks_decoded"] = stats.get("blocks_decoded", 0) + sum(
            c.n_decoded for cs in groups.values() for c in cs
        )
    if not heap:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    if keep_ties:
        docs = np.concatenate([c for c, _ in kept])
        scores = np.concatenate([t for _, t in kept])
        keep = scores >= heap[0][0]
        docs, scores = docs[keep], scores[keep]
        order = np.lexsort((docs, -scores))
        return docs[order], scores[order]
    heap.sort(reverse=True)
    docs = np.array([-d for _, d in heap], dtype=np.int64)
    scores = np.array([s for s, _ in heap], dtype=np.float64)
    return docs, scores


@dataclass(frozen=True)
class KernelSpec:
    """What one query asks of every segment.

    ``terms``: (fld, term) → (gid, scale, avgdl) for single-term clauses
    (scale = boost·idf in bm25 mode). ``phrases``: (fld, terms, slop, gid,
    scale, avgdl) per phrase/proximity atom (scale = boost·Σ per-token idf).
    ``exclude``: (fld, term) keys of MUST_NOT terms — their blocks travel in
    the segment's group, and postings are doc-partitioned, so a segment's
    blocks hold every excluded id in it. ``k`` is the per-segment depth
    (offset + k)."""

    mode: str
    terms: dict
    n_groups: int
    k: int
    prune: bool = True
    phrases: tuple = ()
    exclude: frozenset = field(default_factory=frozenset)


def score_segments(
    pdf: pd.DataFrame,
    spec: KernelSpec,
    included: np.ndarray | None = None,
    excluded: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """The kernel: posting-block rows (seg, fld, term, n, first_doc,
    last_doc, max_tf, min_dl, docs_bin, tfs_bin, dls_bin[, pos_bin]) of one
    or more segments → each segment's top-k, concatenated (doc_ids, scores).

    Each segment gets its own top-k, never one global heap: the doc_id
    tie-break equals the canonical (conv_id, turn_idx) order only WITHIN a
    segment (builder guarantee)."""
    # block ids are only unique per build task; first_doc is the true
    # global order (ranges are disjoint by construction). Columns are
    # pulled out once and sliced per (seg, fld, term): per-group pandas
    # access costs more than the scoring on small segments.
    pdf = pdf.sort_values(["seg", "fld", "term", "first_doc"])
    col = {c: pdf[c].to_numpy() for c in TermBlocks.COLS}
    keys = (col["seg"], col["fld"], col["term"])
    cut = np.flatnonzero(np.any([k[1:] != k[:-1] for k in keys], axis=0)) + 1
    segs: dict[int, dict[tuple, slice]] = {}
    for i, j in zip(np.r_[0, cut], np.r_[cut, len(pdf)]):
        if i < j:
            segs.setdefault(int(col["seg"][i]), {})[(col["fld"][i], col["term"][i])] = slice(i, j)
    out_docs, out_scores = [np.empty(0, np.int64)], [np.empty(0, np.float64)]
    for spans in segs.values():
        ex_ids = [
            codec.delta_decode(b, int(n))
            for key in spec.exclude if key in spans
            for b, n in zip(col["docs_bin"][spans[key]], col["n"][spans[key]])
        ]
        exc = excluded
        if ex_ids:
            exc = np.unique(np.concatenate(ex_ids + ([exc] if exc is not None else [])).astype(np.int64))
        clauses: list = [
            TermBlocks.from_columns(col, spans[key], gid, scale, avgdl, spec.mode)
            for key, (gid, scale, avgdl) in spec.terms.items() if key in spans
        ]
        if spec.phrases:  # a segment's rows are contiguous after the sort
            rows = pdf.iloc[min(s.start for s in spans.values()):max(s.stop for s in spans.values())]
        for fld, terms, slop, gid, scale, avgdl in spec.phrases:
            m = _phrase_seg_match(rows[rows["fld"] == fld], terms, slop)
            if len(m):
                w = scale * _weight(m["tf"].to_numpy(), m["dl"].to_numpy(), avgdl)
                clauses.append(ScoredPostings(gid, m["doc_id"].to_numpy(), w))
        docs, scores = score_segment_topk(
            clauses, spec.n_groups, spec.k, spec.prune, exc, included, mode=spec.mode
        )
        out_docs.append(docs)
        out_scores.append(scores)
    return np.concatenate(out_docs), np.concatenate(out_scores)


def segment_scorer(
    spec: KernelSpec,
    included: np.ndarray | None = None,
    excluded: np.ndarray | None = None,
    cogroup: bool = False,
    dist_fq: bool = False,
):
    """The kernel as an ``applyInPandas`` function over ``groupBy("seg")``.

    ``included``/``excluded`` are the bounded driver-side id arrays, closed
    over. With ``cogroup`` the function also takes the segment's partition
    of a distributed ``(seg, doc_id, kind)`` id frame — for fq predicates and
    tombstone sets too large to collect (Solr keeps fq bitsets per shard;
    this keeps them per SEGMENT, co-partitioned with the postings): kind=1
    rows are fq ids (with ``dist_fq`` a segment with no kind-1 rows admits
    nothing, the semantics of an empty per-shard fq bitset), kind=0 rows are
    tombstones."""

    def run(blocks: pd.DataFrame, ids: pd.DataFrame | None) -> pd.DataFrame:
        inc, exc = included, excluded
        if ids is not None:
            kind = ids["kind"].to_numpy()
            if dist_fq:
                seg_inc = np.sort(ids["doc_id"].to_numpy(np.int64)[kind == 1])
                inc = seg_inc if inc is None else seg_inc[in_sorted(seg_inc, inc)]
            seg_exc = ids["doc_id"].to_numpy(np.int64)[kind == 0]
            if seg_exc.size:
                parts = [seg_exc] + ([exc] if exc is not None else [])
                exc = np.unique(np.concatenate(parts))
        if blocks.empty or (inc is not None and inc.size == 0):
            docs, scores = np.empty(0, np.int64), np.empty(0, np.float64)
        else:
            docs, scores = score_segments(blocks, spec, inc, exc)
        return pd.DataFrame({"doc_id": docs, "score": scores})

    if cogroup:
        return lambda key, blocks, ids: run(blocks, ids)
    return lambda key, blocks: run(blocks, None)


def _phrase_seg_match(seg_pdf: pd.DataFrame, terms: list[str], slop: int) -> pd.DataFrame:
    """Vectorized per-segment phrase matching over RAW posting blocks.

    Decodes each phrase term's blocks into flat arrays (docs, tfs, dls and a
    flat position stream), recovers per-doc absolute positions with one
    global cumsum (delta positions restart per doc: subtracting the running
    sum at each doc start re-bases every doc in a single vectorized op),
    intersects the doc arrays with numpy FIRST, and only then runs the
    per-doc sloppy-window matcher on the (usually small) intersection.

    Returns a DataFrame (doc_id, tf, dl) for docs where the phrase matches.
    """
    empty = pd.DataFrame({"doc_id": pd.array([], dtype="int64"),
                          "tf": pd.array([], dtype="float64"),
                          "dl": pd.array([], dtype="float64")})
    uniq = list(dict.fromkeys(terms))
    data: dict[str, tuple] = {}
    for t in uniq:
        rows_t = seg_pdf[seg_pdf["term"] == t]
        if rows_t.empty:
            return empty
        # blocks of one (seg, term) hold consecutive doc ranges; first_doc
        # ordering makes the concatenated doc array globally sorted
        rows_t = rows_t.sort_values("first_doc")
        docs_l, tfs_l, dls_l, flats = [], [], [], []
        for row in rows_t.itertuples(index=False):
            n = int(row.n)
            docs_l.append(codec.delta_decode(row.docs_bin, n))
            tfs_l.append(codec.varint_decode(row.tfs_bin, n))
            dls_l.append(codec.varint_decode(row.dls_bin, n))
            flats.append(codec.varint_decode(row.pos_bin).astype(np.int64))
        docs = np.concatenate(docs_l).astype(np.int64)
        tfs = np.concatenate(tfs_l).astype(np.int64)
        dls = np.concatenate(dls_l).astype(np.float64)
        flat = np.concatenate(flats)
        if flat.size != int(tfs.sum()):
            raise ValueError("position stream length mismatch")
        g = np.cumsum(flat)
        starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
        base = np.where(starts > 0, g[np.maximum(starts - 1, 0)], 0)
        posflat = g - np.repeat(base, tfs)
        data[t] = (docs, tfs, dls, starts, posflat)
    cand = data[uniq[0]][0]
    for t in uniq[1:]:
        cand = cand[np.isin(cand, data[t][0], assume_unique=True)]
    if cand.size == 0:
        return empty
    idx = {t: np.searchsorted(data[t][0], cand) for t in uniq}
    dls0 = data[uniq[0]][2][idx[uniq[0]]]
    out_docs, out_tf, out_dl = [], [], []
    for j in range(cand.size):
        plists = []
        for t in terms:  # in phrase order, repeats included
            _, tfs_t, _, starts_t, pos_t = data[t]
            i = idx[t][j]
            s = starts_t[i]
            plists.append(pos_t[s : s + tfs_t[i]])
        tf = _phrase_tf(plists, slop)
        if tf > 0:
            out_docs.append(int(cand[j]))
            out_tf.append(tf)
            out_dl.append(float(dls0[j]))
    return pd.DataFrame({"doc_id": pd.array(out_docs, dtype="int64"),
                         "tf": pd.array(out_tf, dtype="float64"),
                         "dl": pd.array(out_dl, dtype="float64")})


def _phrase_tf(plists: list[np.ndarray], slop: int) -> float:
    """Shared sloppy-phrase semantics — see oracle/bm25_oracle.py.

    Each sloppy match weighs 1/(1+distance), where distance is the extra
    spread of the matched window beyond an exact phrase — Lucene
    SloppyPhraseScorer's sloppyFreq (matchLength). Exact matches (slop=0)
    weigh 1."""
    first = plists[0]
    tf = 0.0
    for p0 in first.tolist():
        ok = True
        prev = p0
        for i, plist in enumerate(plists[1:], start=1):
            if slop == 0:
                if p0 + i not in plist:
                    ok = False
                    break
                prev = p0 + i
            else:
                nxt = plist[(plist > prev) & (plist <= p0 + slop + i)]
                if nxt.size == 0:
                    ok = False
                    break
                prev = int(nxt.min())
        if ok:
            dist = (prev - p0) - (len(plists) - 1)  # 0 for an exact match
            tf += 1.0 / (1.0 + dist)
    return tf
