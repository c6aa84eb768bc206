"""Expected results for one benchmark run, from the pure-Python BM25 oracle.

Runs as its own process before the timed process starts Spark, so its
memory and CPU never overlap a measurement:

    python3 perfbench/oracle_job.py --workload serve_narrow --seed 1 --out exp.json

It regenerates the seeded corpus, builds the oracle index per analyzer,
derives the workload's query stream from that dictionary and writes the
stream with the oracle's top-k for every query.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from dataclasses import replace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from intuition_spark.oracle.bm25_oracle import build_oracle_index, oracle_search  # noqa: E402
from intuition_spark.query.ast import Query, doc_key  # noqa: E402
from perfbench import workloads as W  # noqa: E402

ALL = 10**9  # k that keeps every hit


def expected_hits(q: Query, ix: dict) -> list[list]:
    """The oracle's top-k. Multi-field queries are the boost-weighted sum of
    per-field oracle scores per group (mm=100% over the field union), as in
    tests/test_multifield.py; filter_docs is applied to the full ranking,
    which equals the oracle's own candidate filter and avoids its per-doc
    set rebuild."""
    if q.fields:
        per_group: list[dict[str, float]] = []
        for g in q.groups:
            acc: dict[str, float] = {}
            for f, w in q.fields.items():
                sub = Query(q.query_id, "or_groups", [g], k=ALL, analyzer=f, field_eq=q.field_eq)
                for d, s in oracle_search(ix[f], sub):
                    acc[d] = acc.get(d, 0.0) + w * s
            per_group.append(acc)
        docs = set.intersection(*(set(a) for a in per_group)) if per_group else set()
        hits = [(d, sum(a[d] for a in per_group)) for d in docs]
        hits.sort(key=lambda x: (-x[1],) + doc_key(x[0]))
        return [list(h) for h in hits[: q.k]]
    a = ix[q.effective_analyzer]
    if q.filter_docs is not None:
        keep = set(q.filter_docs)
        hits = [h for h in oracle_search(a, replace(q, filter_docs=None, k=ALL)) if h[0] in keep]
        return [list(h) for h in hits[: q.k]]
    return [list(h) for h in oracle_search(a, q)]


def _indexes(rows: list[dict], analyzers) -> tuple[dict, dict]:
    ix = {a: build_oracle_index(rows, a) for a in analyzers}
    dicts = {a: W.FieldDict.build(ix[a], rows, a) for a in analyzers}
    return ix, dicts


def touched_postings(queries: list[Query], dicts: dict) -> int:
    """Σdf over the distinct (field, term) pairs the stream's queries read."""
    seen: set[tuple[str, str]] = set()
    for q in queries:
        for f in (q.fields or {q.effective_analyzer: 1.0}):
            d = dicts[f]
            if q.kind in ("wildcard", "fuzzy"):
                terms = W.expand(d, q.groups[0][0], q.kind)
            else:
                terms = [t for g in q.groups for a in g for t in W.analyzed(a, f)]
            seen.update((f, t) for t in terms)
    return sum(dicts[f].stats.get(t, (0, 0))[0] for f, t in seen)


def inputs(workload: str, seed: int) -> tuple[dict, dict, dict[str, list[Query]]]:
    """(oracle indexes, run description, query lists)."""
    if workload == "ingest":
        base = W.corpus(seed)
        ds = W.deltas(seed, base)
        probes = W.stale_probes(base, ds)
        rows = W.logical_rows(base, ds)
        ix, dicts = _indexes(rows, ("standard",))
        commits = []  # per commit: marker and probe queries with their live docs
        for c, d in enumerate(ds):
            qs = [(Query(f"c{c}_{m}", "term", [[m]], k=W.K), keys) for m, keys in d.markers.items()]
            qs += [(Query(f"c{c}_{p}", "term", [[p]], k=W.K), []) for p in probes[c]]
            commits.append([{"query": W.query_to_dict(q), "live": keys} for q, keys in qs])
        final = [W.query_from_dict(c["query"]) for cs in commits for c in cs]
        stream = W.narrow_stream(seed, dicts, rows, W.STREAM_LEN[workload], tag=4, mix=W.INGEST_MIX)
        lists = {"queries": final + stream, "warmup": []}
        return ix, {"commits": commits, "touched_postings": touched_postings(stream, dicts)}, lists
    rows = W.corpus(seed).to_pylist()
    narrow = workload == "serve_narrow"
    ix, dicts = _indexes(rows, ("standard", "ws") if narrow else ("standard",))
    n = W.STREAM_LEN[workload]
    if narrow:
        stream = W.narrow_stream(seed, dicts, rows, n)
        warm = W.narrow_stream(seed, dicts, rows, 3, tag=9)
    else:
        stream = W.broad_stream(seed, dicts, rows, n + W.BROAD_WARMUP)
        stream, warm = stream[W.BROAD_WARMUP :], stream[: W.BROAD_WARMUP]
    return ix, {"touched_postings": touched_postings(stream, dicts)}, {"queries": stream, "warmup": warm}


def compute(workload: str, seed: int) -> dict:
    """The run description: query lists plus the oracle's hits per query
    (each distinct query scored once)."""
    ix, out, lists = inputs(workload, seed)
    by_key: dict[str, list] = {}
    for name, qs in lists.items():
        out[name] = [W.query_to_dict(q) for q in qs]
        out[f"{name}_expected"] = {}
        for q in qs:
            key = W.query_key(q)
            if key not in by_key:
                by_key[key] = expected_hits(q, ix)
            out[f"{name}_expected"][q.query_id] = by_key[key]
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=W.WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)
    out = compute(a.workload, a.seed)
    tmp = a.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, a.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
