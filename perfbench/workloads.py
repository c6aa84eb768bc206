"""Seeded benchmark inputs: corpora, delta batches and query streams.

Everything here is a pure function of the workload seed (plus a corpus
dictionary derived from the seeded corpus), so the oracle process and the
timed process derive identical inputs without sharing state.

Scale: the ROADMAP bench corpus is 400k turns. A run has about a minute
for everything, fresh builds included, so the benchmark runs at ``N_TURNS``
and scales the engine's size bounds by the same factor (through
their documented environment variables) so that queries route the way they
would at 400k turns with default settings.
"""

from __future__ import annotations

import fnmatch
import re
from collections import Counter
from dataclasses import asdict, dataclass, field

import numpy as np
import pyarrow as pa

from intuition_spark.analysis.analyzers import analyze_text
from intuition_spark.corpus import generate_transcripts, reference_queries
from intuition_spark.query.ast import Query

WORKLOADS = ("ingest", "serve_narrow", "serve_broad")

N_TURNS = 2_500
REFERENCE_TURNS = 400_000
SCALE = N_TURNS / REFERENCE_TURNS
# engine size bounds at their defaults (query/engine.py), scaled by SCALE
DEFAULT_BOUNDS = {
    "INTUITION_SMALL_QUERY_POSTINGS": 2_000_000,
    "INTUITION_SMALL_QUERY_POSITIONS": 2_000_000,
    "INTUITION_BLOCK_CACHE_POSTINGS": 4_000_000,
    "INTUITION_FQ_MAX_IDS": 2_000_000,
    "INTUITION_TOMB_MAX_IDS": 2_000_000,
    "INTUITION_DOC_CACHE_MAX_DOCS": 1_000_000,
}
BOUNDS = {k: int(v * SCALE) for k, v in DEFAULT_BOUNDS.items()}
SMALL_POSTINGS = BOUNDS["INTUITION_SMALL_QUERY_POSTINGS"]
SMALL_POSITIONS = BOUNDS["INTUITION_SMALL_QUERY_POSITIONS"]

# ingest: 10k-turn commits at 400k turns, about 20% of them superseding
N_COMMITS = 2
DELTA_TURNS = int(10_000 * SCALE)
SUPERSEDE_SHARE = 0.2
MARKERS_PER_COMMIT = 3
PROBES_PER_COMMIT = 1

# Query stream lengths, each a whole number of family cycles, sized to
# about ten seconds of query time on the reference host (4 cores): enough
# queries that a median rides out a short burst of load from other tenants.
# Every run executes its whole stream, so every run measures the same
# queries whatever the engine's speed.
STREAM_LEN = {"ingest": 60, "serve_narrow": 69, "serve_broad": 16}
K = 10
# query terms follow the text's own skew: generate_transcripts draws its
# tokens from Zipf(1.07) over the vocabulary
ZIPF_A = 1.07


def family(q: Query) -> str:
    """The reference family of a query: its kind, or role / multi."""
    if q.fields:
        return "multi"
    if q.field_eq:
        return "role"
    return q.kind


# query families as slots per cycle: the family counts of the repo's
# reference query set (69 queries); every stream walks the same evenly
# interleaved cycle, so each run sees the same mix
NARROW_MIX = dict(Counter(family(q) for q in reference_queries()))
# ingest serves the standard index only: no ws-field families
INGEST_MIX = {k: v for k, v in NARROW_MIX.items() if k not in ("wildcard", "fuzzy", "multi")}
# The two distributed shapes the broad reads stand for get half the stream
# each: unfiltered reads over the head terms (OR-groups of words and of
# phrases, one slot each) and reads restricted to a caller's document set
# (filter_docs). One cycle is four queries.
BROAD_MIX = {"wide_or": 1, "phrase_or": 1, "filtered": 2}
BROAD_HEAD = 20  # broad queries read the dictionary's top terms by df
BROAD_PHRASES = 6
BROAD_FILTER_DOCS = 60
# one query of each shape runs as set-up: the first run of each
# distributed plan pays for its code generation and JIT
BROAD_WARMUP = 3
MULTI_FIELDS = {"standard": 1.0, "ws": 0.5}
ROLES = ("user", "assistant", "tool")
_TAIL_RE = re.compile(r"w\d{5}")


def corpus(seed: int) -> pa.Table:
    return generate_transcripts(N_TURNS, seed=seed)


def text_bytes(tbl: pa.Table) -> int:
    return sum(len(t.encode()) for t in tbl.column("text").to_pylist())


# ---- ingest deltas -----------------------------------------------------------
@dataclass
class Delta:
    table: pa.Table
    superseded: list[str]  # base doc keys this commit replaces
    markers: dict[str, list[str]]  # marker term -> doc keys carrying it


def deltas(seed: int, base: pa.Table) -> list[Delta]:
    """N_COMMITS delta batches: fresh turns plus rewrites of distinct base
    turns. Each commit plants MARKERS_PER_COMMIT unique marker terms, each
    in a few of its rows, so its writes are observable by query."""
    rng = np.random.default_rng([seed, 1])
    n_super = int(DELTA_TURNS * SUPERSEDE_SHARE)
    n_fresh = DELTA_TURNS - n_super
    keys = list(zip(base.column("conv_id").to_pylist(), base.column("turn_idx").to_pylist()))
    picked = rng.choice(len(keys), size=N_COMMITS * n_super, replace=False)
    out = []
    for c in range(N_COMMITS):
        # generate_transcripts needs a few hundred turns to fill its
        # conversation-length draw; keep the first DELTA_TURNS
        gen = generate_transcripts(max(DELTA_TURNS, 1000), seed=seed * 1000 + c + 1)
        cols = {name: gen.column(name).to_pylist()[:DELTA_TURNS] for name in gen.column_names}
        conv = [f"d{c:02d}_{cid}" for cid in cols["conv_id"][:n_fresh]]
        turn = cols["turn_idx"][:n_fresh]
        sup = [keys[i] for i in picked[c * n_super : (c + 1) * n_super]]
        cols["conv_id"] = conv + [k[0] for k in sup]
        cols["turn_idx"] = turn + [int(k[1]) for k in sup]
        texts = cols["text"]
        markers: dict[str, list[str]] = {}
        for j in range(MARKERS_PER_COMMIT):
            term = f"zmk{c}q{j}"
            rows = rng.choice(DELTA_TURNS, size=int(rng.integers(2, 7)), replace=False)
            for r in rows:
                texts[r] = f"{texts[r]} {term}"
            markers[term] = sorted(f"{cols['conv_id'][r]}:{cols['turn_idx'][r]}" for r in rows)
        out.append(Delta(pa.table(cols, schema=base.schema), [f"{a}:{b}" for a, b in sup], markers))
    return out


def logical_rows(base: pa.Table, ds: list[Delta]) -> list[dict]:
    """The corpus a reader should see after every delta is applied."""
    rows = {f"{r['conv_id']}:{r['turn_idx']}": r for r in base.to_pylist()}
    for d in ds:
        for r in d.table.to_pylist():
            rows[f"{r['conv_id']}:{r['turn_idx']}"] = r
    return list(rows.values())


def stale_probes(base: pa.Table, ds: list[Delta]) -> list[list[str]]:
    """Per commit, tail terms that occur in exactly one base turn, which
    that commit supersedes, and in no delta row. After the commit no live
    turn holds them, so any hit is a superseded version surfacing."""
    df: dict[str, int] = {}
    for t in base.column("text").to_pylist():
        for w in set(_TAIL_RE.findall(t)):
            df[w] = df.get(w, 0) + 1
    in_delta = {w for d in ds for t in d.table.column("text").to_pylist() for w in _TAIL_RE.findall(t)}
    text_of = {
        f"{c}:{i}": t for c, i, t in zip(
            base.column("conv_id").to_pylist(), base.column("turn_idx").to_pylist(),
            base.column("text").to_pylist(),
        )
    }
    out = []
    for d in ds:
        cand = sorted({
            w for key in d.superseded for w in _TAIL_RE.findall(text_of[key])
            if df[w] == 1 and w not in in_delta
        })
        out.append(cand[:PROBES_PER_COMMIT])
    return out


# ---- dictionaries -------------------------------------------------------------
@dataclass
class FieldDict:
    """Per-analyzer (term -> (df, cf)) plus surface words, ranked by df."""

    stats: dict[str, tuple[int, int]]
    ranked: list[str]  # surface words ordered by df of their analyzed term, desc
    expansions: dict[tuple[str, str], list[str]] = field(default_factory=dict)

    @classmethod
    def build(cls, ix, rows: list[dict], analyzer: str) -> "FieldDict":
        """From an oracle index over ``rows`` analyzed with ``analyzer``."""
        stats = {t: (len(p), sum(len(v) for v in p.values())) for t, p in ix.postings.items()}
        surface: dict[str, str] = {}
        # every lowercase alnum whitespace token of the corpus is a word a
        # caller could type; keep one per analyzed term
        words = sorted({w for r in rows for w in r["text"].lower().split() if w.isalnum()})
        for w in words:
            toks = analyze_text(w, analyzer)
            if len(toks) == 1 and toks[0][0] in stats:
                surface.setdefault(toks[0][0], w)
        ranked = sorted(surface, key=lambda t: (-stats[t][0], t))
        return cls(stats, [surface[t] for t in ranked])

def analyzed(text: str, analyzer: str) -> list[str]:
    return [t for t, _ in analyze_text(text, analyzer)]


# ---- admission (mirrors SearchEngine._small_enough) -------------------------
def candidate_stats(q: Query, dicts: dict[str, FieldDict]) -> list[tuple[int, int, bool]]:
    """(Σdf, Σcf, positional) of each scored field's candidate postings."""
    out = []
    for f in (q.fields or {q.effective_analyzer: 1.0}):
        d = dicts[f]
        if q.kind in ("wildcard", "fuzzy"):
            terms = expand(d, q.groups[0][0], q.kind)
            positional = False
        else:
            terms = sorted({t for g in q.groups for a in g for t in analyzed(a, f)})
            positional = q.kind != "tf_sort" and any(
                len(analyzed(a, f)) > 1 for g in q.groups for a in g
            )
        st = [d.stats.get(t, (0, 0)) for t in terms]
        out.append((sum(s[0] for s in st), sum(s[1] for s in st), positional))
    return out


def driver_admitted(q: Query, dicts: dict[str, FieldDict]) -> bool:
    return all(
        df <= SMALL_POSTINGS and (not pos or cf <= SMALL_POSITIONS)
        for df, cf, pos in candidate_stats(q, dicts)
    )


def exceeds_bound(q: Query, dicts: dict[str, FieldDict]) -> bool:
    return not driver_admitted(q, dicts)


def expand(d: FieldDict, atom: str, kind: str) -> list[str]:
    """Dictionary terms a wildcard or fuzzy (edit distance 1) atom matches."""
    from intuition_spark.oracle.bm25_oracle import _levenshtein_le

    atom = atom.lower()
    key = (atom, kind)
    if key not in d.expansions:
        if kind == "wildcard":
            terms = [t for t in d.stats if fnmatch.fnmatchcase(t, atom)]
        else:
            terms = [t for t in d.stats if abs(len(t) - len(atom)) <= 1 and _levenshtein_le(atom, t, 1)]
        d.expansions[key] = sorted(terms)
    return d.expansions[key]


# ---- query streams ------------------------------------------------------------
def query_to_dict(q: Query) -> dict:
    return {k: v for k, v in asdict(q).items() if v not in (None, 0, False) or k == "k"}


def query_from_dict(d: dict) -> Query:
    return Query(**d)


def query_key(q: Query) -> str:
    d = query_to_dict(q)
    d.pop("query_id")
    return repr(sorted(d.items()))


class _Gen:
    def __init__(self, seed: int, tag: int, dicts: dict[str, FieldDict], rows: list[dict]):
        self.rng = np.random.default_rng([seed, tag])
        self.dicts = dicts
        self.rows = rows

    def zipf_word(self, field: str = "standard", min_len: int = 1) -> str:
        ranked = self.dicts[field].ranked
        while True:
            r = int(self.rng.zipf(ZIPF_A)) - 1
            if r < len(ranked) and len(ranked[r]) >= min_len:
                return ranked[r]

    def words(self, n: int) -> list[str]:
        out: list[str] = []
        while len(out) < n:
            w = self.zipf_word()
            if w not in out:
                out.append(w)
        return out

    def text_window(self, gap: int) -> tuple[str, str]:
        while True:
            toks = self.rows[int(self.rng.integers(len(self.rows)))]["text"].lower().split()
            if len(toks) > gap:
                i = int(self.rng.integers(len(toks) - gap))
                return toks[i], toks[i + gap]

    def narrow(self, i: int, fam: str) -> Query:
        qid = f"n{i:04d}_{fam}"
        if fam == "term":
            return Query(qid, "term", [[self.zipf_word()]], k=K)
        if fam == "and":
            return Query(qid, "and", [[w] for w in self.words(int(self.rng.integers(2, 4)))], k=K)
        if fam == "or_groups":
            w = self.words(4)
            return Query(qid, "or_groups", [w[:2], w[2:]], k=K)
        if fam == "phrase":
            return Query(qid, "phrase", [[" ".join(self.text_window(1))]], k=K)
        if fam == "proximity":
            gap = int(self.rng.integers(2, 7))
            slop = gap + int(self.rng.integers(0, 6))
            return Query(qid, "proximity", [[" ".join(self.text_window(gap))]], slop=slop, k=K)
        if fam == "wildcard":
            w = self.zipf_word("ws", min_len=5)
            return Query(qid, "wildcard", [[w[: len(w) - 2] + "*"]], k=K)
        if fam == "fuzzy":
            w = self.zipf_word("ws", min_len=5)
            j = int(self.rng.integers(len(w)))
            c = "abcdefghijklmnopqrstuvwxyz"[int(self.rng.integers(26))]
            return Query(qid, "fuzzy", [[w[:j] + c + w[j + 1 :]]], k=K)
        if fam == "tf_sort":
            return Query(qid, "tf_sort", [[self.zipf_word()]], k=K)
        if fam == "role":
            role = ROLES[int(self.rng.integers(len(ROLES)))]
            w = self.words(int(self.rng.integers(1, 3)))
            return Query(qid, "and" if len(w) > 1 else "term", [[x] for x in w], k=K,
                         field_eq={"role": role})
        kind = ("term", "and", "or_groups")[int(self.rng.integers(3))]
        w = self.words({"term": 1, "and": 2, "or_groups": 4}[kind])
        groups = [w[:2], w[2:]] if kind == "or_groups" else [[x] for x in w]
        return Query(qid, kind, groups, k=K, fields=dict(MULTI_FIELDS))

    def broad(self, i: int, fam: str) -> Query:
        """Every shape reads the same head terms, regrouped per query, so
        queries are distinct but do about the same work."""
        qid = f"b{i:04d}_{fam}"
        head = self.dicts["standard"].ranked[:BROAD_HEAD]
        if fam == "phrase_or":
            pairs: set[str] = set()
            while len(pairs) < BROAD_PHRASES:
                a, b = self.rng.choice(BROAD_HEAD // 2, size=2, replace=False)
                pairs.add(f"{head[a]} {head[b]}")
            return Query(qid, "or_groups", [sorted(pairs)], k=K)
        w = [head[j] for j in self.rng.permutation(BROAD_HEAD)]
        h = BROAD_HEAD // 2
        if fam == "wide_or":
            return Query(qid, "or_groups", [w[:h], w[h:]], k=K)
        picks = self.rng.choice(len(self.rows), size=BROAD_FILTER_DOCS, replace=False)
        docs = sorted(f"{self.rows[j]['conv_id']}:{self.rows[j]['turn_idx']}" for j in picks)
        return Query(qid, "or_groups", [w[:h], w[h:]], k=K, filter_docs=docs)


def schedule(mix: dict[str, int]) -> list[str]:
    """One cycle of family names, each spread evenly over the cycle."""
    slots = [((j + 0.5) / n, name) for name, n in mix.items() for j in range(n)]
    return [name for _, name in sorted(slots)]


def narrow_stream(
    seed: int, dicts: dict[str, FieldDict], rows: list[dict], n: int, tag: int = 2,
    mix: dict[str, int] = NARROW_MIX,
) -> list[Query]:
    """Zipf-skewed reads that `mode="auto"` admits to the driver path."""
    g = _Gen(seed, tag, dicts, rows)
    cycle = schedule(mix)
    out: list[Query] = []
    while len(out) < n:
        q = g.narrow(len(out), cycle[len(out) % len(cycle)])
        if q.kind in ("wildcard", "fuzzy") and not expand(dicts["ws"], q.groups[0][0], q.kind):
            continue  # an empty expansion runs no postings fetch at all
        if driver_admitted(q, dicts):
            out.append(q)
    return out


def broad_stream(seed: int, dicts: dict[str, FieldDict], rows: list[dict], n: int) -> list[Query]:
    """Distinct head-term reads whose postings exceed the driver-path bound."""
    g = _Gen(seed, 3, dicts, rows)
    cycle = schedule(BROAD_MIX)
    out: list[Query] = []
    seen: set[str] = set()
    while len(out) < n:
        q = g.broad(len(out), cycle[len(out) % len(cycle)])
        key = query_key(q)
        if key not in seen and exceeds_bound(q, dicts):
            seen.add(key)
            out.append(q)
    return out
