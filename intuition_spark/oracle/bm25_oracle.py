"""Pure-Python exhaustive BM25 oracle — the in-sandbox stand-in for Solr.

The reference's relevance function is Solr/Lucene 8 default-similarity BM25
(k1=1.2, b=0.75, idf=ln(1+(N−df+0.5)/(df+0.5))) over the analyzed ``text``
field (SURVEY.md preamble; the repo ships no schema so defaults apply). This
oracle scores every document exhaustively with exactly that formula and the
shared AST semantics (query/ast.py); the distributed engine must return
rank-identical top-k (docIDs and scores within 1e-6) — SURVEY.md §5.2 layer 3.

Single-threaded, dict-based, deliberately simple: correctness anchor only.
"""

from __future__ import annotations

import fnmatch
import math
import re
from dataclasses import dataclass, field

from intuition_spark.analysis.analyzers import analyze_text
from intuition_spark.query.ast import Query, doc_key

K1 = 1.2
B = 0.75


def bm25_idf(N: int, df: int) -> float:
    return math.log(1.0 + (N - df + 0.5) / (df + 0.5))


def bm25_tf_weight(tf: float, dl: int, avgdl: float, k1: float = K1, b: float = B) -> float:
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


@dataclass
class OracleIndex:
    analyzer: str
    postings: dict[str, dict[str, list[int]]] = field(default_factory=dict)  # term -> doc -> positions
    dl: dict[str, int] = field(default_factory=dict)
    meta: dict[str, dict] = field(default_factory=dict)  # doc -> {ts, role, tool}

    @property
    def N(self) -> int:
        return len(self.dl)

    @property
    def avgdl(self) -> float:
        return sum(self.dl.values()) / max(1, len(self.dl))


def build_oracle_index(rows, analyzer: str = "standard") -> OracleIndex:
    """rows: iterable of dicts with conv_id, turn_idx, text, ts, role, tool."""
    ix = OracleIndex(analyzer=analyzer)
    for r in rows:
        doc = f"{r['conv_id']}:{r['turn_idx']}"
        toks = analyze_text(r["text"], analyzer)
        ix.dl[doc] = len(toks)
        ix.meta[doc] = {"ts": r.get("ts"), "role": r.get("role"), "tool": r.get("tool")}
        for term, pos in toks:
            ix.postings.setdefault(term, {}).setdefault(doc, []).append(pos)
    return ix


def _candidate_filter(ix: OracleIndex, q: Query, doc: str) -> bool:
    if q.filter_docs is not None and doc not in set(q.filter_docs):
        return False
    m = ix.meta.get(doc, {})
    if q.ts_after is not None and (m.get("ts") is None or m["ts"] < q.ts_after):
        return False
    if q.require_no_tool and m.get("tool") is not None:
        return False
    for fcol, fval in (q.field_eq or {}).items():  # field-qualified fq atoms
        if fcol == "conv_id":
            if doc.rpartition(":")[0] != fval:
                return False
        elif m.get(fcol) != fval:
            return False
    for xatom in q.exclude or []:  # MUST_NOT: any occurrence excludes the doc
        for t, _ in analyze_text(xatom, q.effective_analyzer):
            if doc in ix.postings.get(t, {}):
                return False
    return True


def _phrase_match_count(positions: list[list[int]], slop: int) -> float:
    """Sloppy-freq of an n-term phrase. slop=0: consecutive positions
    (respecting the token-stream gaps). slop>0: a window where each
    subsequent term sits within [prev+1, first+slop+i]. Each match weighs
    1/(1+distance) — Lucene SloppyPhraseScorer parity; exact matches weigh
    1."""
    first = positions[0]
    tf = 0.0
    for p0 in first:
        ok = True
        prev = p0
        for i, plist in enumerate(positions[1:], start=1):
            if slop == 0:
                if p0 + i not in plist:
                    ok = False
                    break
                prev = p0 + i
            else:
                nxt = [p for p in plist if prev < p <= p0 + slop + i]
                if not nxt:
                    ok = False
                    break
                prev = min(nxt)
        if ok:
            dist = (prev - p0) - (len(positions) - 1)
            tf += 1.0 / (1.0 + dist)
    return tf


def _expand_multiterm(ix: OracleIndex, atom: str, kind: str, fuzzy_max: int = 1) -> list[str]:
    if kind == "wildcard":
        return sorted(t for t in ix.postings if fnmatch.fnmatchcase(t, atom))
    if kind == "regex":
        rx = re.compile(atom)
        return sorted(t for t in ix.postings if rx.fullmatch(t))
    if kind == "fuzzy":
        return sorted(t for t in ix.postings if _levenshtein_le(atom, t, fuzzy_max))
    raise ValueError(kind)


def _levenshtein_le(a: str, b: str, k: int) -> bool:
    if abs(len(a) - len(b)) > k:
        return False
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        for j, cb in enumerate(b, 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
        if min(cur) > k:
            return False
        prev = cur
    return prev[-1] <= k


def oracle_search(ix: OracleIndex, q: Query) -> list[tuple[str, float]]:
    """Exhaustive evaluation → top-k [(doc, score)] with canonical tiebreak."""
    N, avgdl = ix.N, ix.avgdl
    analyzer = q.effective_analyzer

    if q.kind in ("wildcard", "regex", "fuzzy"):
        atom = q.groups[0][0]
        terms = _expand_multiterm(ix, atom.lower(), q.kind)
        docs: set[str] = set()
        for t in terms:
            docs.update(ix.postings.get(t, {}))
        hits = [(d, 1.0) for d in docs if _candidate_filter(ix, q, d)]
        hits.sort(key=lambda x: (-x[1],) + doc_key(x[0]))
        return hits[: q.k]

    if q.kind == "tf_sort":
        term = analyze_text(q.groups[0][0], analyzer)[0][0]
        plist = ix.postings.get(term, {})
        rows = []
        for d, ps in plist.items():
            if _candidate_filter(ix, q, d):
                ts = ix.meta[d]["ts"]
                rows.append((d, float(len(ps)), ts))
        rows.sort(key=lambda x: (-x[1], -(x[2].timestamp() if x[2] else 0)) + doc_key(x[0]))
        return [(d, tf) for d, tf, _ in rows[: q.k]]

    # scored boolean: AND of OR-groups; atoms are terms or phrases
    per_doc_group_scores: dict[str, list[float]] = {}
    n_groups = len(q.groups)
    for gi, group in enumerate(q.groups):
        group_hits: dict[str, float] = {}
        for atom in group:
            toks = [t for t, _ in analyze_text(atom, analyzer)]
            if not toks:
                continue
            if len(toks) == 1:
                term = toks[0]
                plist = ix.postings.get(term, {})
                idf = bm25_idf(N, len(plist))
                for d, ps in plist.items():
                    group_hits[d] = group_hits.get(d, 0.0) + idf * bm25_tf_weight(len(ps), ix.dl[d], avgdl)
            else:
                plists = [ix.postings.get(t, {}) for t in toks]
                idf = sum(bm25_idf(N, len(p)) for p in plists)
                common = set(plists[0])
                for p in plists[1:]:
                    common &= set(p)
                for d in common:
                    tf = _phrase_match_count([sorted(p[d]) for p in plists], q.slop)
                    if tf > 0:
                        group_hits[d] = group_hits.get(d, 0.0) + idf * bm25_tf_weight(tf, ix.dl[d], avgdl)
        for d, s in group_hits.items():
            per_doc_group_scores.setdefault(d, [0.0] * n_groups)[gi] = s

    hits = []
    for d, gs in per_doc_group_scores.items():
        if all(s > 0.0 for s in gs) and _candidate_filter(ix, q, d):
            hits.append((d, sum(gs)))
    hits.sort(key=lambda x: (-x[1],) + doc_key(x[0]))
    return hits[: q.k]
