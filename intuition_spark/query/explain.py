"""Query debug / score explanation — the Solr ``debugQuery=true`` analogue.

The reference turns on Solr's debug surface for its paged searches
(``query.setParam("debugQuery", "true")``, `util/SolrClientTool.java:274`),
which returns the parsed query, the chosen execution strategy, and per-doc
Lucene ``Explanation`` trees (idf/tf/norm factors summing to the hit score).
This module provides the same two surfaces over the engine:

* :func:`explain` — runs the query and reports the parse (the ENGINE'S own
  `_parse_atoms` output — atoms carry their raw text, nothing re-derived),
  the EXECUTED path and the kernel's score mode and prune flag (observed from
  the engine's `last_path`/`last_kernel` instrumentation), the
  driver-admission arithmetic (Σdf / Σcf vs budgets, folded with the
  fq fast-path resolution exactly as the router folds it), and the
  filterCache resolution.
* :func:`explain_doc` — a per-document score breakdown: one record per
  matching (field, distinct-term | phrase-atom) with boost, idf, tf, dl,
  avgdl and the BM25 contribution, whose sum reproduces the engine's hit
  score exactly (tests assert equality against ``search()``), plus the
  mm=100% group accounting and every non-scoring gate — fq predicates,
  MUST_NOT exclusions, tombstones — each evaluated across EVERY scored
  field (multi-field semantics: a doc excluded/deleted in any field is out,
  as in the kernel's exclude set).

Both execute like Solr's debug mode does — explain() observes a real run;
explain_doc() reuses the engine's own block cache, decode, and the kernel's
sloppy-phrase matcher (`wand._phrase_seg_match`), so the numbers ARE the
kernel's numbers.

Duplicate-term caveat (mirrors the engine's documented limitation at
`_kernel_spec`): a term reused across several single-term atoms is scored
once, under its first gid — explain_doc keeps one contribution per distinct
(field, term), so the sum matches the kernel; queries reusing a term across
GROUPS return no hits in the engine (group-coverage shortfall) and
explain_doc's mm accounting reproduces that.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from intuition_spark.analysis.analyzers import analyze_text
from intuition_spark.index import codec
from intuition_spark.index.builder import decode_blocks_df
from intuition_spark.query import wand
from intuition_spark.query.ast import Query
from intuition_spark.query.wand import bm25_idf

_SCORING_KINDS = ("term", "and", "or_groups", "phrase", "proximity")
_MULTITERM_KINDS = ("wildcard", "regex", "fuzzy")


def explain(engine, q: Query, mode: str = "auto") -> dict:
    """Run ``q`` and report parse + routing + admission + fq debug info.

    ``wall_s`` times the ``search()`` call itself, which runs the query to
    finished hits on either placement (the ``path`` field tells you which).

    COST NOTE (ADVICE r4): when the query is a result-cache hit, the report
    still shows the executor a COLD run takes — by re-running
    ``_search_uncached`` and timing it as ``cold_rederive_s``. Explaining a
    hot query therefore costs one full cold execution; that is intentional
    (the debug surface answers "which path WOULD this take", like Solr's
    debug on a queryResultCache hit), but don't put explain() on a
    per-request hot path.
    """
    a = engine._route(q)
    engine._ensure_warm(a)
    t0 = time.time()
    engine.search(q, mode)
    wall_s = round(time.time() - t0, 4)
    cached = engine.last_path == "result_cache"
    rederive_s = None
    if cached:
        # report the EXECUTOR a cold run takes, timed separately so wall_s
        # stays the latency of the call actually made
        t1 = time.time()
        engine._search_uncached(q, a, mode)
        rederive_s = round(time.time() - t1, 4)

    fields = dict(q.fields) if q.fields else {a: 1.0}
    # the engine's own fq fold and kernel spec — the SAME code the router
    # runs before admission, so the report can never claim a routing state
    # the router doesn't use (ADVICE r4)
    has_fq, fq_ids = engine._fq_fold(a, q)
    fast_ok = not has_fq or fq_ids is not None
    built = engine._kernel_spec(q, fields, prune=mode != "exhaustive")
    spec_terms = built[0].terms if built else {}
    score_mode, prune = engine.last_kernel or (None, None)
    out: dict = {
        "query_id": q.query_id,
        "kind": q.kind,
        "k": q.k,
        "offset": q.offset,
        "mode_requested": mode,
        "path": engine.last_path,
        "score_mode": score_mode,
        "prune": prune,
        "result_cache_hit": cached,
        "routed_index": a,
        "snapshot_id": (engine._snap.get(a) or {}).get("snapshot_id"),
        "wall_s": wall_s,
        **({"cold_rederive_s": rederive_s} if rederive_s is not None else {}),
    }

    per_field = []
    for f, w in fields.items():
        engine._ensure_warm(f)
        stats = engine.stats[f]
        finfo: dict = {
            "field": f,
            "boost": float(w),
            "analyzer": engine._analyzer_of(f),
            "N": int(stats["N"]),
            "avgdl": stats["avgdl"],
        }
        words = sorted(t for g, t in spec_terms if g == f)
        atoms_info = []
        if q.kind in _MULTITERM_KINDS:
            finfo["multiterm"] = {
                "pattern": q.groups[0][0],
                "rewrite": "constant_score",  # Lucene CONSTANT_SCORE rewrite
                "n_expanded": len(words),
                "expanded_sample": words[:20],
            }
        elif q.kind == "tf_sort":
            dfs = engine._dfs_for_terms(f, words)
            atoms_info = [{
                "gid": 0, "atom": q.groups[0][0], "terms": [t],
                "per_term": [{"term": t, "df": int(dfs[t])}],
                "note": "ranked by raw termfreq desc, ts desc — no BM25",
            } for t in words]
        else:
            atoms = engine._parse_atoms(q, f)  # the engine's own parse
            dfs = engine._dfs_for_terms(f, sorted({t for at in atoms for t in at.terms}))
            cache = engine._dict_cache.get(f)
            for at in atoms:
                atoms_info.append({
                    "gid": at.gid,
                    "atom": at.raw,
                    "terms": at.terms,
                    **({"slop": at.slop} if len(at.terms) > 1 else {}),
                    "per_term": [
                        {
                            "term": t,
                            "df": int(dfs.get(t, 0)),
                            # cf None (not 0) when the dictionary cache is
                            # absent — indistinguishable fallbacks lie; this
                            # mirrors sum_df/sum_cf's degradation (ADVICE r4)
                            "cf": (
                                int(cache.get(t, (0, 0))[1])
                                if cache is not None
                                else None
                            ),
                            "idf": round(bm25_idf(stats["N"], dfs.get(t, 0)), 6),
                        }
                        for t in at.terms
                    ],
                })
        adm_terms = built[1][f] if built else []
        positional = bool(built and built[2][f])
        dcache = engine._dict_cache.get(f)
        sum_df = (
            int(sum(dcache.get(t, (0, 0))[0] for t in adm_terms)) if dcache else None
        )
        sum_cf = (
            int(sum(dcache.get(t, (0, 0))[1] for t in adm_terms))
            if (dcache and positional)
            else None
        )
        small = engine._small_enough(f, adm_terms, positional)
        tombs_small = engine._tombstones(f) is not None
        finfo["atoms"] = atoms_info
        finfo["excluded_terms"] = engine._exclude_terms(q, f)
        finfo["admission"] = {
            "sum_df": sum_df,
            "postings_budget": engine.SMALL_QUERY_POSTINGS,
            "positional": positional,
            "sum_cf": sum_cf,
            "positions_budget": engine.SMALL_QUERY_POSITIONS if positional else None,
            # what `auto` mode actually checks: postings volume (scored and
            # MUST_NOT terms) AND the fq fast-path state (an oversize fq bars
            # the driver) AND a driver-side-bounded tombstone set
            "postings_small_enough": small,
            "fq_fast_path_ok": fast_ok,
            "tombstones_small": tombs_small,
            "driver_eligible": fast_ok and tombs_small and small,
        }
        per_field.append(finfo)
    out["fields"] = per_field

    if has_fq:
        preds = [f"{fcol}:{fval!r}" for fcol, fval in sorted((q.field_eq or {}).items())]
        if q.require_no_tool:
            preds.append("tool IS NULL")
        if q.ts_after is not None:
            preds.append(f"ts >= {q.ts_after}")
        if q.filter_docs is not None:
            preds.append(f"doc IN [{len(set(q.filter_docs))} docs]")
        out["fq"] = {
            "predicates": preds,
            "resolved_n_ids": None if fq_ids is None else int(fq_ids.size),
            "oversize_distributed": fq_ids is None,
            "max_ids": engine.FQ_MAX_IDS,
        }
    return out


def _find_posting(pdf: pd.DataFrame, doc_id: int):
    """(tf, dl, seg) of ``doc_id`` in decoded block rows, or None — the same
    delta/varint decode the driver scorer uses, narrowed by block ranges."""
    for row in pdf.itertuples(index=False):
        if int(row.first_doc) <= doc_id <= int(row.last_doc):
            docs = codec.delta_decode(row.docs_bin, int(row.n))
            i = int(np.searchsorted(docs, doc_id))
            if i < docs.size and int(docs[i]) == doc_id:
                tf = int(codec.varint_decode(row.tfs_bin, int(row.n))[i])
                dl = int(codec.varint_decode(row.dls_bin, int(row.n))[i])
                return tf, dl, int(row.seg)
    return None


def _doc_meta(engine, a: str, doc: str):
    """The docs row of ``doc``, or None: a local scan of the ``doc`` column
    finds its doc_ids, the way fq resolves ``filter_docs``, then a point
    lookup reads the row (`_LocalReader`; no Spark job). Until `compact`,
    an upserted key has one row per merge that wrote it; the newest one (the
    highest doc_id: a merge appends segments) is the live one."""
    reader = engine._local(a, "docs")
    pred = ("__doc_in__", (doc,))
    ids = reader.scan(["doc"], lambda t: engine._fq_mask(t, *pred), engine.FQ_MAX_IDS,
                      engine._fq_prune(*pred))
    if ids is None or not ids.size:
        return None
    cols = reader.files[0][2].schema.to_arrow_schema().names
    return reader.read([int(ids[-1])], cols).iloc[0]


def explain_doc(engine, q: Query, doc: str) -> dict:
    """Per-document score breakdown (the Lucene ``Explanation`` analogue)."""
    a = engine._route(q)
    engine._ensure_warm(a)
    if q.fields:
        engine._validate_fields(q)
    row = _doc_meta(engine, a, doc)
    if row is None:
        return {"doc": doc, "found": False, "matched": False}
    doc_id = int(row["doc_id"])
    out: dict = {"doc": doc, "found": True, "doc_id": doc_id}

    contributions: list[dict] = []
    groups_matched: set[int] = set()
    all_gids: set[int] = set()
    fields = dict(q.fields) if q.fields else {a: 1.0}
    ex_by_f = {f: engine._exclude_terms(q, f) for f in fields}

    if q.kind in _SCORING_KINDS:
        for f, w in fields.items():
            engine._ensure_warm(f)
            stats = engine.stats[f]
            N, avgdl = int(stats["N"]), stats["avgdl"]
            atoms = engine._parse_atoms(q, f)  # the engine's own parse
            all_gids |= {at.gid for at in atoms}
            singles = [at for at in atoms if len(at.terms) == 1]
            phrases = [at for at in atoms if len(at.terms) > 1]
            # one batched fetch per field: all single + exclude terms (no
            # positions) — the same granularity the driver scorer uses
            flat_terms = sorted(
                {at.terms[0] for at in singles} | set(ex_by_f[f])
            )
            flat_pdf = (
                engine._collect_blocks(f, flat_terms)
                if flat_terms
                else pd.DataFrame(columns=["term"])
            )
            # distinct-term dedup, first atom's gid — exactly the engine's
            # kernel spec (_kernel_spec)
            single_terms: dict[str, object] = {}
            for at in singles:
                single_terms.setdefault(at.terms[0], at)
            for t, at in single_terms.items():
                hit = _find_posting(flat_pdf[flat_pdf["term"] == t], doc_id)
                if hit is None:
                    continue
                tf, dl, _ = hit
                df = int(engine._dfs_for_terms(f, [t])[t])
                idf = bm25_idf(N, df)
                contributions.append({
                    "field": f, "boost": float(w), "gid": at.gid, "atom": at.raw,
                    "term": t, "df": df, "idf": idf, "tf": tf, "dl": dl,
                    "avgdl": avgdl,
                    "contribution": float(
                        w * idf * wand._weight(float(tf), float(dl), avgdl)
                    ),
                })
                groups_matched.add(at.gid)
            if phrases:
                ph_terms = sorted({t for at in phrases for t in at.terms})
                ph_pdf = engine._collect_blocks(f, ph_terms, with_positions=True)
                for at in phrases:
                    probe = _find_posting(
                        ph_pdf[ph_pdf["term"] == at.terms[0]], doc_id
                    )
                    if probe is None:
                        continue  # first token absent → phrase can't match
                    seg = probe[2]
                    mf = wand._phrase_seg_match(
                        ph_pdf[ph_pdf["seg"] == seg], at.terms, at.slop
                    )
                    mrow = mf[mf["doc_id"] == doc_id]
                    if mrow.empty:
                        continue
                    tf = float(mrow["tf"].iloc[0])  # sloppy freq (Σ 1/(1+dist))
                    dl = float(mrow["dl"].iloc[0])
                    dfs = engine._dfs_for_terms(f, sorted(set(at.terms)))
                    # per TOKEN POSITION, like Lucene PhraseWeight
                    idf_sum = sum(bm25_idf(N, dfs.get(t, 0)) for t in at.terms)
                    contributions.append({
                        "field": f, "boost": float(w), "gid": at.gid,
                        "atom": at.raw, "terms": at.terms, "slop": at.slop,
                        "idf_sum": idf_sum, "sloppy_tf": tf, "dl": dl,
                        "avgdl": avgdl,
                        "contribution": float(
                            w * idf_sum * wand._weight(tf, dl, avgdl)
                        ),
                    })
                    groups_matched.add(at.gid)
    elif q.kind in _MULTITERM_KINDS:
        pattern = q.groups[0][0]
        terms = engine._expand_cached(a, pattern, q.kind)
        if terms is None:
            terms = engine.expand_dictionary(a, pattern, q.kind)
        all_gids = {0}
        hit_terms = []
        if terms:
            hit_terms = sorted(
                r["term"]
                for r in decode_blocks_df(engine._blocks(a, terms))
                .filter(F.col("doc_id") == doc_id)
                .select("term").distinct().collect()
            )
        if hit_terms:
            groups_matched.add(0)
            contributions.append({
                "field": a, "gid": 0, "atom": pattern,
                "rewrite": "constant_score", "matched_terms": hit_terms,
                "contribution": 1.0,
            })
        out["n_expanded"] = len(terms)
    elif q.kind == "tf_sort":
        term = analyze_text(q.groups[0][0], engine._analyzer_of(a))[0][0]
        all_gids = {0}
        hit = _find_posting(engine._collect_blocks(a, [term]), doc_id)
        if hit is not None:
            groups_matched.add(0)
            contributions.append({
                "field": a, "gid": 0, "term": term, "tf": hit[0],
                "note": "score IS the raw termfreq (ts desc tiebreak)",
                "contribution": float(hit[0]),
            })

    # ---- non-scoring gates, each evaluated across EVERY scored field -----
    # (multi-field semantics: a doc containing an excluded term in ANY
    # field, or tombstoned in ANY field's index, is out — as in the kernel)
    gates: list[dict] = []
    any_ex = {f: ex for f, ex in ex_by_f.items() if ex}
    if any_ex:
        hit_ex = []
        for f, ex_terms in any_ex.items():
            pdf = engine._collect_blocks(f, sorted(set(ex_terms)))
            for t in ex_terms:
                if _find_posting(pdf[pdf["term"] == t], doc_id) is not None:
                    hit_ex.append({"field": f, "term": t})
        gates.append({
            "gate": "exclude (MUST_NOT)", "terms": any_ex,
            "pass": not hit_ex, "matched_excluded_terms": hit_ex,
        })
    dead_in = [
        f for f in fields
        if engine._has_tombstones(f) and engine._is_tombstoned(f, doc_id)
    ]
    if any(engine._has_tombstones(f) for f in fields):
        gates.append({"gate": "tombstones", "pass": not dead_in,
                      **({"deleted_in": dead_in} if dead_in else {})})
    for fcol, fval in sorted((q.field_eq or {}).items()):
        v = row.get(fcol)
        ok = (
            bool(fval in v)
            if isinstance(v, (list, np.ndarray))
            else bool(pd.notna(v) and v == fval)
        )
        gates.append({"gate": f"fq {fcol}:{fval!r}", "pass": ok,
                      "doc_value": v.tolist() if isinstance(v, np.ndarray) else v})
    if q.require_no_tool:
        gates.append({"gate": "fq tool IS NULL", "pass": bool(pd.isna(row.get("tool")))})
    if q.ts_after is not None:
        # parquet ts reads as UTC (naive for INT96), as in `_fq_mask`
        ts = pd.Timestamp(row["ts"])
        ts = ts.tz_localize("UTC") if ts.tzinfo is None else ts
        bound = engine._ts_bound(q.ts_after)
        gates.append({"gate": f"fq ts >= {q.ts_after}", "pass": bool(ts >= bound)})
    if q.filter_docs is not None:
        gates.append({"gate": "filter_docs", "pass": doc in q.filter_docs})

    n_groups = len(all_gids)
    mm_ok = groups_matched == all_gids and n_groups > 0
    gates_ok = all(g["pass"] for g in gates)
    out.update({
        "n_groups": n_groups,
        "groups_matched": sorted(groups_matched),
        "mm": "100%",
        "mm_pass": mm_ok,
        "gates": gates,
        "matched": mm_ok and gates_ok,
        "contributions": contributions,
        "score": float(sum(c["contribution"] for c in contributions))
        if (mm_ok and gates_ok)
        else None,
    })
    return out
