"""Query AST — the engine's first IR.

The reference round-trips queries through *strings* (buildSearchExpression →
edismax parse → Lucene BooleanQuery, `service/SolrServiceImpl.java:336-413`).
We skip string (re)parsing entirely: callers construct a :class:`Query`
dataclass; the executor lowers it to a DataFrame plan (IR #2) which Catalyst
optimizes (IR #3).

Semantics (shared verbatim by the pure-Python oracle and the Spark engine):

* ``groups`` is an AND of OR-groups — the reference's
  ``+("BRAF" OR "B-RAF") +("V600E" OR "Val600Glu")`` shape. Every group must
  match (edismax ``mm=100%``, `SolrClientTool.java:130,144,166,181`); within a
  group every matching atom contributes (Lucene BooleanQuery disjunction sums
  matching SHOULD clauses).
* An atom that analyzes to multiple tokens is a phrase; ``slop`` > 0 makes it
  a sloppy (proximity) phrase — `"<mutation> <keyword>"~15` at
  `TextServiceImpl.java:531`. Phrase score follows Lucene PhraseQuery shape:
  idf = Σ idf(term_i) summed PER TOKEN POSITION (a repeated term counts
  twice, like Lucene PhraseWeight); tf = Σ over matches of 1/(1+distance)
  where distance is the matched window's spread beyond an exact phrase —
  Lucene SloppyPhraseScorer's sloppyFreq. Exact matches weigh 1.
* ``wildcard`` / ``regex`` / ``fuzzy`` atoms expand against the dictionary of
  the ``ws``-analyzed field (the reference flips default field to ``text_ws``
  for wildcards, `SolrServiceImpl.java:434`) and score constant 1.0 per doc
  (Lucene CONSTANT_SCORE multi-term rewrite, the Solr 8 default).
* ``tf_sort`` ranks by raw term frequency desc then ``ts`` desc — Solr's
  ``sort=termfreq(text,t) desc, date desc`` (`SolrClientTool.java:147-151`).
* ``filter_docs`` / ``ts_after`` / ``require_no_tool`` are non-scoring ``fq``
  predicates (`SolrClientTool.java:273,317`; `-pmid_supporting:*` analogue
  `SolrServiceImpl.java:88`).

Tiebreak everywhere: score desc, then (conv_id asc, turn_idx asc) — i.e. doc
key ascending with numeric turn index.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import datetime

KINDS = ("term", "and", "or_groups", "phrase", "proximity", "wildcard", "regex", "fuzzy", "tf_sort")

# metadata columns a field-qualified predicate may target (the stored,
# non-analyzed transcript fields; `text` is the default scored field)
FIELD_EQ_COLS = ("role", "tool", "conv_id")

# extension point for deployments indexing EXTRA stored metadata columns
# (builder `extra_meta_cols`): register the column name here and field_eq
# accepts it; the ENGINE decides semantics from the docs schema — equality
# for scalar columns, array_contains for array columns (the reference's
# multi-valued `authors:"…"` contains-match, SolrServiceImpl.java:397-404).
EXTRA_FIELD_EQ_COLS: set[str] = set()


def register_field_col(name: str) -> None:
    """Allow ``field_eq`` predicates on an extra stored metadata column."""
    EXTRA_FIELD_EQ_COLS.add(name)


@dataclass
class Query:
    query_id: str
    kind: str
    groups: list[list[str]]
    slop: int = 0
    k: int = 10
    # S7/T3 deep paging (`SolrClientTool.deepPage`, util/SolrClientTool.java:
    # 216-233): skip the first `offset` hits of the canonical order, return
    # the next k. The deterministic tiebreak (score desc, conv_id asc,
    # turn_idx asc) makes offset pages stable: concatenating pages equals the
    # one-shot ranking (tests/test_paging.py).
    offset: int = 0
    filter_docs: list[str] | None = None
    ts_after: datetime | None = None
    require_no_tool: bool = False
    analyzer: str = "standard"
    # MUST_NOT clauses (Lucene BooleanClause.Occur.MUST_NOT; the reference's
    # `-pmid_supporting:*` shape, SolrServiceImpl.java:88): docs containing
    # ANY of these single-term atoms are excluded. Non-scoring.
    exclude: list[str] | None = None
    # General field-qualified predicates — the reference's field-qualified
    # atoms (`authors:"…"` in buildSearchExpression, SolrServiceImpl.java:
    # 397-404; field-qualified booleans, Test1.java:577-586) mapped onto the
    # transcript metadata columns: exact match on role/tool/conv_id, applied
    # as a non-scoring fq like require_no_tool.
    field_eq: dict[str, str] | None = None
    # edismax qf: score ONE query across several analyzed-field indexes with
    # per-field boosts — the reference scores a boolean over `attr_content`
    # AND `text` in one query (Test1.java:577-586) and edismax qf weights
    # fields (`text^2 text_ws`). Keys are the engine's index names (each an
    # analyzed field over the same corpus); values are boosts (> 0). Group
    # semantics are unchanged (mm=100%: every group must match in at least
    # one field); each matching (field, term) contributes
    # boost_f · idf_f(term) · bm25_tf_f — Lucene BooleanQuery disjunction
    # sum across fields (dismax tie=1). None = single-field (`analyzer`).
    fields: dict[str, float] | None = None

    def __post_init__(self) -> None:
        if self.kind not in KINDS:
            raise ValueError(f"unknown query kind {self.kind!r}")
        if self.offset < 0:
            raise ValueError(f"offset must be >= 0, got {self.offset}")
        if self.fields is not None:
            if not self.fields:
                raise ValueError("fields must be a non-empty dict when set")
            for f, w in self.fields.items():
                if not (isinstance(w, (int, float)) and w > 0):
                    raise ValueError(f"field boost must be > 0: {f}^{w!r}")
            if self.kind in ("wildcard", "regex", "fuzzy", "tf_sort"):
                raise ValueError(
                    f"multi-field scoring does not apply to {self.kind!r} "
                    "(constant-score/termfreq queries are single-field)"
                )
        for f in self.field_eq or {}:
            if f not in FIELD_EQ_COLS and f not in EXTRA_FIELD_EQ_COLS:
                raise ValueError(
                    f"field_eq supports {sorted(FIELD_EQ_COLS)} plus columns "
                    f"registered via register_field_col(), got {f!r}"
                )

    @property
    def effective_analyzer(self) -> str:
        # wildcard/regex/fuzzy run against the whitespace field, like the
        # reference flipping default field to text_ws (SolrServiceImpl.java:434)
        if self.fields:
            # primary field: hydration source + single-field fallback routing
            return next(iter(self.fields))
        if self.kind in ("wildcard", "regex", "fuzzy"):
            return "ws"
        return self.analyzer


def doc_key(doc: str) -> tuple[str, int]:
    """Canonical tiebreak key for docID 'conv_id:turn_idx'."""
    conv, _, turn = doc.rpartition(":")
    return (conv, int(turn))
