"""Analyzer chains (tokenize → filter → stem) as vectorized pandas UDFs.

Mirrors the reference's two implicit Solr field chains (SURVEY.md §2.4 B2):

* ``standard``  — the ``text`` field: lowercase → pre-clean (the
  ``textTransform`` normalization of `TextServiceImpl.java:720-755`: mutation
  super/subscript artifacts like ``BRAF^(V600E)`` become two tokens) → regex
  word tokenizer → English stopword filter (positions keep the stopword gap,
  exactly like Lucene's StopFilter position increments) → Porter stem.
* ``standard_nostem`` — same without stemming (Solr ``text_general``).
* ``ws``        — the ``text_ws`` field (`model/SolrItem.java:32-33`):
  whitespace tokenizer + lowercase, no stopwords, no stemming. Wildcard /
  regex / sequence queries run against this variant
  (`SolrServiceImpl.java:434`).

All entry points operate on whole pandas Series inside Arrow batches — no
per-row Python at the Spark boundary.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from intuition_spark.analysis.porter import porter_stem
from intuition_spark.analysis.stopwords import ENGLISH_STOPWORDS

# StandardTokenizer approximation: maximal alnum runs on lowercased text.
_TOKEN_RE = re.compile(r"[0-9a-z]+")
# textTransform pre-clean: "BRAF^(V600E)" / "BRAF(V600E)" caret+paren artifacts
# become separators so gene and mutation are separate tokens.
_SUPERSCRIPT_RE = re.compile(r"[\^()\[\]{}]")
_WS_RE = re.compile(r"\s+")


@dataclass(frozen=True)
class Analyzer:
    name: str
    whitespace_only: bool = False
    stop: bool = False
    stem: bool = False


ANALYZERS: dict[str, Analyzer] = {
    "standard": Analyzer("standard", stop=True, stem=True),
    "standard_nostem": Analyzer("standard_nostem", stop=True, stem=False),
    "ws": Analyzer("ws", whitespace_only=True),
}

# memo cache for stems — Zipfian corpora hit the same tokens constantly
_STEM_CACHE: dict[str, str] = {}


def _stem(tok: str) -> str:
    s = _STEM_CACHE.get(tok)
    if s is None:
        s = porter_stem(tok)
        if len(_STEM_CACHE) < 1_000_000:
            _STEM_CACHE[tok] = s
    return s


def analyze_flat(text: str | None, analyzer: str = "standard") -> tuple[list[str], list[int]]:
    """Analyze one string → (terms, positions) as two parallel lists — the
    allocation-light core (no per-token tuples; the index builder fills numpy
    arrays from these by slice assignment).

    Positions are indices in the *pre-filter* token stream: a removed stopword
    still consumes a position (Lucene StopFilter semantics), so phrase slop
    across a stopword behaves identically to the reference.
    """
    if not text:
        return [], []
    a = ANALYZERS[analyzer]
    low = text.lower()
    if a.whitespace_only:
        toks = [t for t in _WS_RE.split(low) if t]
    else:
        toks = _TOKEN_RE.findall(_SUPERSCRIPT_RE.sub(" ", low))
    terms: list[str] = []
    poss: list[int] = []
    ap_t, ap_p = terms.append, poss.append
    if a.stop or a.stem:
        sw = ENGLISH_STOPWORDS if a.stop else ()
        cache = _STEM_CACHE
        stem = a.stem
        for pos, tok in enumerate(toks):
            if tok in sw:
                continue
            if stem:
                s = cache.get(tok)
                if s is None:
                    s = _stem(tok)
                ap_t(s)
            else:
                ap_t(tok)
            ap_p(pos)
    else:
        terms = toks
        poss = list(range(len(toks)))
    return terms, poss


def analyze_text(text: str | None, analyzer: str = "standard") -> list[tuple[str, int]]:
    """Analyze one string → list of (term, position) tuples (query-side shape;
    see :func:`analyze_flat` for semantics and the builder's flat variant)."""
    terms, poss = analyze_flat(text, analyzer)
    return list(zip(terms, poss, strict=True))


def analyze_series(texts: pd.Series, analyzer: str = "standard") -> pd.Series:
    """Vectorized form: Series[str] → Series[list[(term,pos)]]."""
    return texts.map(lambda t: analyze_text(t, analyzer))


TOKEN_SCHEMA = T.ArrayType(
    T.StructType([T.StructField("term", T.StringType()), T.StructField("pos", T.IntegerType())])
)


def make_analyze_udf(analyzer: str = "standard"):
    """pandas UDF: text column → array<struct<term,pos>> (Arrow-batched)."""

    @F.pandas_udf(TOKEN_SCHEMA)
    def _analyze(texts: pd.Series) -> pd.Series:
        return analyze_series(texts, analyzer)

    return _analyze


def doc_postings(tokens: list[tuple[str, int]]) -> list[tuple[str, int, list[int]]]:
    """Collapse a token stream into per-document postings (term, tf, positions)."""
    agg: dict[str, list[int]] = {}
    for term, pos in tokens:
        agg.setdefault(term, []).append(pos)
    return [(term, len(ps), ps) for term, ps in agg.items()]
