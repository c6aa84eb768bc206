"""Gate entries that exercise the REAL engine (segmented block-compressed
index + WAND/exhaustive scorers) over the driver's `documents` table, yet stay
reproducible by from-scratch BM25 SQL in DuckDB.

documents rows are adapted to the transcript shape (conv_id=str(doc_id),
turn_idx=0) — docID becomes '<doc_id>:0'. The index is built once per sf_dir
and cached under /tmp keyed by the parquet file's size+mtime, so repeated gate
runs don't rebuild.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from intuition_spark.driver_gate import _BM25_CTES, B, K1, register
from intuition_spark.index.builder import build_index
from intuition_spark.query.ast import Query
from intuition_spark.query.engine import SearchEngine

_ENGINES: dict[str, SearchEngine] = {}


# bump when documents_as_transcripts changes the derived doc columns (the
# /tmp index cache must not serve a stale composition)
_DOCS_VARIANT = 2

# derived second analyzed field for multi-field (edismax qf) queries: the
# first TITLE_TOKENS ws tokens of text — the reference's `attr_content` vs
# `text` dual-field shape (Test1.java:577-586) mapped onto the gate corpus
TITLE_TOKENS = 8


def documents_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    # role varies deterministically by doc_id so field-qualified predicates
    # (role:assistant) have something to select — same formula in the oracles
    return docs.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("system")),
            (F.col("doc_id") % 3).cast("int") + 1,
        ).alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("ts"),
    )


def get_documents_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    from intuition_spark.driver_gate import publish_atomically, tmp_cache_path
    from intuition_spark.index.builder import LAYOUT_VERSION

    src = os.path.join(sf_dir, "documents.parquet")
    ix_dir = tmp_cache_path("ix_ws", src, f"v{LAYOUT_VERSION}d{_DOCS_VARIANT}")
    ix_title = tmp_cache_path(
        "ix_title", src, f"v{LAYOUT_VERSION}d{_DOCS_VARIANT}t{TITLE_TOKENS}"
    )
    if ix_dir in _ENGINES:
        return _ENGINES[ix_dir]
    # atomic publish (tmp build + rename): concurrent gate/serve processes
    # either win the rename or discard scratch; an interrupted build can
    # never squat the path with a partial index (stats.json is the marker)
    publish_atomically(
        ix_dir,
        lambda tmp: build_index(
            spark,
            documents_as_transcripts(spark, sf_dir),
            tmp,
            analyzer="ws",
            n_segments=4,
        ),
        marker="stats.json",
    )
    # second analyzed field over the SAME corpus rows (identical doc ids and
    # segments by builder determinism): title = first TITLE_TOKENS ws tokens
    publish_atomically(
        ix_title,
        lambda tmp: build_index(
            spark,
            documents_as_transcripts(spark, sf_dir).withColumn(
                "text", F.concat_ws(" ", F.slice(F.split("text", " "), 1, TITLE_TOKENS))
            ),
            tmp,
            analyzer="ws",
            n_segments=4,
        ),
        marker="stats.json",
    )
    eng = SearchEngine(spark, {"ws": ix_dir, "title": ix_title})
    _ENGINES[ix_dir] = eng
    return eng


@register(
    "fts_engine_bm25_topk",
    f"""
WITH {_BM25_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ('window','sort')
       GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (c.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({K1} + 1.0)
              / (tf.tf + {K1} * (1.0 - {B} + {B} * s.dl / c.avgdl)) ) AS score,
         count(*) AS ng
  FROM tf JOIN df USING(term) JOIN doc_stats s USING(doc_id) CROSS JOIN corpus c
  GROUP BY tf.doc_id)
SELECT doc_id || ':0' AS doc, round(score, 4) AS score
FROM scored WHERE ng = 2
ORDER BY score DESC, CAST(doc_id AS VARCHAR) LIMIT 10
""",
)
def fts_engine_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-term conjunctive BM25 top-k through the full stack: ws analyzer →
    segmented delta+varint posting blocks → block-max WAND per segment →
    global top-k merge. The DuckDB oracle recomputes BM25 from first
    principles on the same tokenization."""
    eng = get_documents_engine(spark, sf_dir)
    q = Query("gate_wand", "and", [["window"], ["sort"]], k=10, analyzer="ws")
    hits = eng.search(q, mode="wand")
    return hits.select("doc", F.round("score", 4).alias("score"))


@register(
    "fts_engine_phrase",
    f"""
WITH {_BM25_CTES},
a AS (SELECT doc_id, pos FROM toks WHERE term = 'table'),
b AS (SELECT doc_id, pos FROM toks WHERE term = 'part'),
ptf AS (SELECT a.doc_id, count(*) AS tf FROM a JOIN b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 GROUP BY a.doc_id),
dfs AS (SELECT
    (SELECT count(DISTINCT doc_id) FROM a) AS df_a,
    (SELECT count(DISTINCT doc_id) FROM b) AS df_b)
SELECT p.doc_id || ':0' AS doc,
       round( ( ln(1 + (c.n - d.df_a + 0.5) / (d.df_a + 0.5))
              + ln(1 + (c.n - d.df_b + 0.5) / (d.df_b + 0.5)) )
              * p.tf * ({K1} + 1.0)
              / (p.tf + {K1} * (1.0 - {B} + {B} * s.dl / c.avgdl)), 4) AS score
FROM ptf p JOIN doc_stats s USING(doc_id) CROSS JOIN corpus c CROSS JOIN dfs d
""",
)
def fts_engine_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase through the engine's positional path (delta-encoded
    position streams decoded per segment). No LIMIT: every matching doc is
    returned, so there is no top-k boundary to disagree on."""
    eng = get_documents_engine(spark, sf_dir)
    q = Query("gate_phrase", "phrase", [["table part"]], k=1_000_000, analyzer="ws")
    hits = eng.search(q, mode="exhaustive")
    return hits.select("doc", F.round("score", 4).alias("score"))


@register(
    "fts_engine_proximity",
    f"""
WITH {_BM25_CTES},
a AS (SELECT doc_id, pos FROM toks WHERE term = 'hash'),
b AS (SELECT doc_id, pos FROM toks WHERE term = 'merge'),
-- Lucene sloppy-freq: each 'hash' occurrence that completes within the window
-- contributes 1/(1+distance); for a two-term phrase the nearest following
-- 'merge' at gap g has distance g-1, so the weight is 1/g.
ptf AS (
  SELECT doc_id, sum(1.0 / (mb - pos)) AS tf FROM (
    SELECT a.doc_id, a.pos, min(b.pos) AS mb
    FROM a JOIN b ON b.doc_id = a.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 6
    GROUP BY a.doc_id, a.pos)
  GROUP BY doc_id),
dfs AS (SELECT
    (SELECT count(DISTINCT doc_id) FROM a) AS df_a,
    (SELECT count(DISTINCT doc_id) FROM b) AS df_b)
SELECT p.doc_id || ':0' AS doc,
       round( ( ln(1 + (c.n - d.df_a + 0.5) / (d.df_a + 0.5))
              + ln(1 + (c.n - d.df_b + 0.5) / (d.df_b + 0.5)) )
              * p.tf * ({K1} + 1.0)
              / (p.tf + {K1} * (1.0 - {B} + {B} * s.dl / c.avgdl)), 4) AS score
FROM ptf p JOIN doc_stats s USING(doc_id) CROSS JOIN corpus c CROSS JOIN dfs d
""",
)
def fts_engine_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sloppy phrase "hash merge"~5 through the engine's positional path with
    Lucene sloppy-freq weighting (each match weighs 1/(1+distance), matching
    Solr 8's SloppyPhraseScorer for the reference's "~15" queries); the
    oracle computes the same weighted tf from first principles."""
    eng = get_documents_engine(spark, sf_dir)
    q = Query("gate_prox", "proximity", [["hash merge"]], slop=5, k=1_000_000, analyzer="ws")
    hits = eng.search(q, mode="exhaustive")
    return hits.select("doc", F.round("score", 4).alias("score"))


@register(
    "fts_engine_tf_sort",
    f"""
WITH {_BM25_CTES},
tf AS (SELECT doc_id, count(*) AS tf FROM toks WHERE term = 'value' GROUP BY doc_id)
SELECT doc_id || ':0' AS doc, CAST(tf AS DOUBLE) AS score
FROM tf
ORDER BY tf DESC, CAST(doc_id AS VARCHAR) LIMIT 20
""",
)
def fts_engine_tf_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 termfreq ranking through the engine (tf decoded from varint blocks).
    ts is constant across gate docs, so the tiebreak is conv_id (string) asc —
    mirrored by CAST(doc_id AS VARCHAR) in the oracle."""
    eng = get_documents_engine(spark, sf_dir)
    q = Query("gate_tf", "tf_sort", [["value"]], k=20, analyzer="ws")
    return eng.search(q).select("doc", "score")


@register(
    "fts_engine_field_qual",
    f"""
WITH {_BM25_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ('table','value')
       GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (c.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({K1} + 1.0)
              / (tf.tf + {K1} * (1.0 - {B} + {B} * s.dl / c.avgdl)) ) AS score,
         count(*) AS ng
  FROM tf JOIN df USING(term) JOIN doc_stats s USING(doc_id) CROSS JOIN corpus c
  GROUP BY tf.doc_id)
SELECT doc_id || ':0' AS doc, round(score, 4) AS score
FROM scored WHERE ng = 2 AND doc_id % 3 = 1
""",
)
def fts_engine_field_qual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-qualified boolean query through the STRING parser and the engine:
    `+table +value role:assistant` — the reference's field-qualified atoms
    (`authors:"…"` in buildSearchExpression, SolrServiceImpl.java:397-404;
    `attr_content:… AND text:…`, Test1.java:577-586) as a non-scoring
    exact-match predicate on a stored metadata column. BM25 stats stay global
    (the filter restricts results, not scoring — fq semantics). role is
    derived as doc_id%3 → user/assistant/system, mirrored in the oracle."""
    eng = get_documents_engine(spark, sf_dir)
    hits = eng.search_str(
        "+table +value role:assistant", k=1_000_000, analyzer="ws", mode="exhaustive"
    )
    return hits.select("doc", F.round("score", 4).alias("score"))


@register(
    "fts_engine_multifield",
    f"""
WITH {_BM25_CTES},
ttoks AS (SELECT doc_id, term, pos FROM toks WHERE pos < {TITLE_TOKENS}),
tstats AS (SELECT doc_id, count(*) AS dl FROM ttoks WHERE term <> '' GROUP BY doc_id),
tcorpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM tstats),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ('window','sort')
       GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
ttf AS (SELECT doc_id, term, count(*) AS tf FROM ttoks WHERE term IN ('window','sort')
        GROUP BY doc_id, term),
tdf AS (SELECT term, count(*) AS df FROM ttf GROUP BY term),
contrib AS (
  SELECT tf.doc_id, tf.term,
         1.0 * ln(1 + (c.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf * ({K1} + 1.0)
             / (tf.tf + {K1} * (1.0 - {B} + {B} * s.dl / c.avgdl)) AS w
  FROM tf JOIN df USING(term) JOIN doc_stats s USING(doc_id) CROSS JOIN corpus c
  UNION ALL
  SELECT ttf.doc_id, ttf.term,
         2.0 * ln(1 + (tc.n - tdf.df + 0.5) / (tdf.df + 0.5))
             * ttf.tf * ({K1} + 1.0)
             / (ttf.tf + {K1} * (1.0 - {B} + {B} * ts.dl / tc.avgdl)) AS w
  FROM ttf JOIN tdf USING(term) JOIN tstats ts USING(doc_id) CROSS JOIN tcorpus tc),
scored AS (
  SELECT doc_id, sum(w) AS score, count(DISTINCT term) AS ng
  FROM contrib GROUP BY doc_id)
SELECT doc_id || ':0' AS doc, round(score, 4) AS score
FROM scored WHERE ng = 2
""",
)
def fts_engine_multifield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-field scored query (edismax qf) through the full engine: one
    `+window +sort` boolean scored across TWO analyzed-field indexes of the
    same corpus — `text` (ws) at boost 1 and `title` (first {TITLE_TOKENS}
    ws tokens) at boost 2 — the reference's field-qualified boolean over
    `attr_content` AND `text` (Test1.java:577-586) with edismax qf weights.
    mm=100% holds across the field UNION (a group matched in either field
    counts); each matching (field, term) contributes boost·idf_f·bm25_f with
    the field's own df/dl/avgdl stats. The oracle recomputes both fields'
    BM25 from first principles and sums the boosted contributions. No LIMIT:
    every matching doc returns, so there is no top-k boundary to disagree
    on."""
    eng = get_documents_engine(spark, sf_dir)
    q = Query(
        "gate_mf", "and", [["window"], ["sort"]], k=1_000_000,
        fields={"ws": 1.0, "title": 2.0},
    )
    hits = eng.search(q, mode="exhaustive")
    return hits.select("doc", F.round("score", 4).alias("score"))


def get_tags_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Documents index carrying a deterministic multi-valued metadata column
    (builder ``extra_meta_cols``): tags = ['g<doc_id%5>', role] — the
    reference's multi-valued `authors` shape (SolrServiceImpl.java:397-404).
    ``register_field_col`` admits it to field_eq; the engine resolves the
    predicate with array_contains through the filterCache. Cached like the
    other gate indexes."""
    from intuition_spark.driver_gate import publish_atomically, tmp_cache_path
    from intuition_spark.index.builder import LAYOUT_VERSION
    from intuition_spark.query.ast import register_field_col

    src = os.path.join(sf_dir, "documents.parquet")
    ix = tmp_cache_path("ix_tags", src, f"v{LAYOUT_VERSION}d{_DOCS_VARIANT}g5")
    if ix in _ENGINES:
        return _ENGINES[ix]
    publish_atomically(
        ix,
        lambda tmp: build_index(
            spark,
            documents_as_transcripts(spark, sf_dir).withColumn(
                "tags",
                F.array(
                    F.concat(
                        F.lit("g"), (F.col("conv_id").cast("long") % 5).cast("string")
                    ),
                    F.col("role"),
                ),
            ),
            tmp,
            analyzer="ws",
            n_segments=4,
            extra_meta_cols=["tags"],
        ),
        marker="stats.json",
    )
    register_field_col("tags")
    eng = SearchEngine(spark, {"ws": ix})
    _ENGINES[ix] = eng
    return eng


@register(
    "fts_engine_array_fq",
    f"""
WITH {_BM25_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ('window','sort')
       GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (c.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({K1} + 1.0)
              / (tf.tf + {K1} * (1.0 - {B} + {B} * s.dl / c.avgdl)) ) AS score,
         count(*) AS ng
  FROM tf JOIN df USING(term) JOIN doc_stats s USING(doc_id) CROSS JOIN corpus c
  GROUP BY tf.doc_id)
SELECT doc_id || ':0' AS doc, round(score, 4) AS score
FROM scored WHERE ng = 2 AND doc_id % 5 = 2
ORDER BY scored.score DESC, CAST(doc_id AS VARCHAR) LIMIT 10
""",
    gated=False,
)
def fts_engine_array_fq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 array-valued field predicate through the full engine: the index
    stores tags = ['g<doc_id%5>', role] (multi-valued `authors:"…"` parity,
    SolrServiceImpl.java:397-404) and the query filters
    ``field_eq={{'tags': 'g2'}}`` — array_contains via the filterCache,
    intersected BEFORE the top-k cut. The oracle is the same BM25 SQL with
    the equivalent scalar predicate ``doc_id % 5 = 2`` on the true-score
    order, so contains-semantics bugs or a filter-after-rank cut mismatch.
    (EXTRA registry: the driver's 50-entry gate window is full;
    tests/test_gate_extra.py runs the same dual-engine identity.)"""
    eng = get_tags_engine(spark, sf_dir)
    q = Query("gate_array_fq", "and", [["window"], ["sort"]], k=10,
              analyzer="ws", field_eq={"tags": "g2"})
    hits = eng.search(q, mode="wand")
    return hits.select("doc", F.round("score", 4).alias("score"))


_TT_DELTA_MOD = 17  # doc_id % 17 == 0 rows get rewritten by the delta


def get_time_travel_engine(spark: SparkSession, sf_dir: str) -> SearchEngine:
    """Documents index + a deterministic delta commit, opened AS OF snapshot 1
    (pre-delta). The delta rewrites every doc_id%{mod}==0 row's text to be a
    dense match for the gate query ('window sort …'), so if snapshot pruning
    leaked even one delta segment, tombstone, or stat, those docs would storm
    the top-k and the oracle (plain BM25 over the ORIGINAL corpus) would
    mismatch. Cached like the other gate indexes."""
    from intuition_spark.driver_gate import publish_atomically, tmp_cache_path
    from intuition_spark.index.builder import LAYOUT_VERSION, IndexPaths
    from intuition_spark.index.incremental import merge_delta

    src = os.path.join(sf_dir, "documents.parquet")
    ix_tt = tmp_cache_path(
        "ix_tt", src, f"v{LAYOUT_VERSION}d{_DOCS_VARIANT}m{_TT_DELTA_MOD}"
    )
    if ix_tt in _ENGINES:
        return _ENGINES[ix_tt]

    def _build(tmp: str) -> None:
        build_index(
            spark, documents_as_transcripts(spark, sf_dir), tmp, analyzer="ws", n_segments=4
        )
        delta = (
            documents_as_transcripts(spark, sf_dir)
            .filter(F.col("conv_id").cast("long") % _TT_DELTA_MOD == 0)
            .withColumn("text", F.lit("window sort window sort window"))
            .withColumn("ts", F.lit("2025-06-01 00:00:00").cast("timestamp"))
        )
        merge_delta(spark, IndexPaths(tmp), delta)

    publish_atomically(ix_tt, _build, marker="stats.json")
    eng = SearchEngine(spark, {"ws": ix_tt}, as_of=1)
    _ENGINES[ix_tt] = eng
    return eng


@register(
    "fts_engine_time_travel",
    f"""
WITH {_BM25_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ('window','sort')
       GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (c.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({K1} + 1.0)
              / (tf.tf + {K1} * (1.0 - {B} + {B} * s.dl / c.avgdl)) ) AS score,
         count(*) AS ng
  FROM tf JOIN df USING(term) JOIN doc_stats s USING(doc_id) CROSS JOIN corpus c
  GROUP BY tf.doc_id)
SELECT doc_id || ':0' AS doc, round(score, 4) AS score
FROM scored WHERE ng = 2
ORDER BY score DESC, CAST(doc_id AS VARCHAR) LIMIT 10
""",
    gated=False,
)
def fts_engine_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel through the full engine (Iceberg snapshot /
    GlobalTimestamp analogue, SURVEY §1.4): the index receives a delta commit
    that rewrites every 17th doc's text into a dense `window sort` match, yet
    the AS-OF-snapshot-1 view must return exactly the pre-delta BM25 top-10 —
    the oracle is plain from-scratch BM25 over the ORIGINAL documents, so any
    leak of delta segments, tombstones, or post-commit df/N/avgdl into the
    as-of view mismatches. (EXTRA registry: the driver's 50-entry gate window
    is full; tests/test_gate_extra.py runs the same dual-engine identity.)"""
    eng = get_time_travel_engine(spark, sf_dir)
    q = Query("gate_tt", "and", [["window"], ["sort"]], k=10, analyzer="ws")
    hits = eng.search(q, mode="wand")
    return hits.select("doc", F.round("score", 4).alias("score"))


@register(
    "fts_engine_paged",
    f"""
WITH {_BM25_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ('window','sort')
       GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (c.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({K1} + 1.0)
              / (tf.tf + {K1} * (1.0 - {B} + {B} * s.dl / c.avgdl)) ) AS score,
         count(*) AS ng
  FROM tf JOIN df USING(term) JOIN doc_stats s USING(doc_id) CROSS JOIN corpus c
  GROUP BY tf.doc_id)
SELECT doc_id || ':0' AS doc, round(score, 4) AS score
FROM scored WHERE ng = 2
ORDER BY scored.score DESC, CAST(doc_id AS VARCHAR) LIMIT 10 OFFSET 25
""",
    gated=False,
)
def fts_engine_paged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/T3 deep paging through the full engine (`SolrClientTool.deepPage`,
    util/SolrClientTool.java:216-233): rows 25..34 of the canonical BM25
    ranking via Query.offset on the WAND path — the oracle is the SAME
    two-term BM25 SQL as `fts_engine_bm25_topk` with LIMIT/OFFSET on the
    true-score order, so a page-boundary bug (dropping score ties at
    offset+k, or cutting before the fq/tombstone filters) mismatches.
    (EXTRA registry: the driver's 50-entry gate window is full;
    tests/test_gate_extra.py runs the same dual-engine identity.)"""
    eng = get_documents_engine(spark, sf_dir)
    q = Query("gate_paged", "and", [["window"], ["sort"]], k=10, offset=25,
              analyzer="ws")
    hits = eng.search(q, mode="wand")
    return hits.select("doc", F.round("score", 4).alias("score"))


@register(
    "fts_engine_spell",
    f"""
WITH {_BM25_CTES}
SELECT term, count(*) AS df FROM (
  SELECT DISTINCT doc_id, term FROM toks WHERE term <> ''
) GROUP BY term HAVING levenshtein(term, 'tble') <= 1
""",
)
def fts_engine_spell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 spell-suggest via the engine's REAL dictionary table (fuzzy
    expansion by length-bucketed Levenshtein scan)."""
    eng = get_documents_engine(spark, sf_dir)
    terms = eng.expand_dictionary("ws", "tble", "fuzzy")
    dic = spark.read.parquet(eng.paths["ws"].dictionary)
    return dic.filter(F.col("term").isin(terms)).select("term", "df")


_SPELL_Q = [(0, "tble"), (1, "vlue"), (2, "merge"), (3, "zzzzqq")]
_SPELL_LOW_DF, _SPELL_DOM = 3, 2


@register(
    "fts_engine_spell_collate",
    f"""
WITH {_BM25_CTES},
dic AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks WHERE term <> ''
        GROUP BY term),
q(pos, token) AS (VALUES {", ".join(f"({p}, '{t}')" for p, t in _SPELL_Q)}),
orig AS (SELECT q.pos, q.token, coalesce(d.df, 0) AS df
         FROM q LEFT JOIN dic d ON d.term = q.token),
cand AS (
  SELECT o.pos, d.term AS suggestion, d.df AS sdf
  FROM orig o JOIN dic d
       ON abs(length(d.term) - length(o.token)) <= 1
      AND d.term <> o.token
      AND levenshtein(d.term, o.token) <= 1
  WHERE o.df < {_SPELL_LOW_DF}
    AND d.df >= {_SPELL_DOM} * greatest(o.df, 1)),
best AS (
  SELECT pos, suggestion, sdf FROM cand
  QUALIFY row_number() OVER (PARTITION BY pos ORDER BY sdf DESC, suggestion ASC) = 1),
rowsx AS (
  SELECT o.pos, o.token, CAST(o.df AS BIGINT) AS df, b.suggestion,
         CAST(coalesce(b.sdf, 0) AS BIGINT) AS suggestion_df,
         coalesce(b.suggestion, o.token) AS effective
  FROM orig o LEFT JOIN best b USING (pos))
SELECT r.pos, r.token, r.df, r.suggestion, r.suggestion_df, r.effective,
       c.collated
FROM rowsx r CROSS JOIN
     (SELECT string_agg(effective, ' ' ORDER BY pos) AS collated FROM rowsx) c
""",
    gated=False,  # the 50-entry driver window is full; dual-engine-checked
    # by pytest (tests/test_gate_extra.py)
)
def fts_engine_spell_collate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-word spell suggestion + whole-query collation
    (`util/SpellChecking.java:80-92` suggests per word; the reference
    composes corrected queries — Solr spellcheck.collate): the seeded-typo
    query `tble vlue merge zzzzqq` against the engine's real dictionary.
    'tble'→'table' and 'vlue'→'value' (absent, dominated by a lev-1 common
    term), 'merge' is left alone (present, high df), 'zzzzqq' is left alone
    (no candidate). The oracle reproduces the exact suggestion AND collation
    choice — see query/spell.py for the rule."""
    from intuition_spark.query.spell import collate_suggestions

    eng = get_documents_engine(spark, sf_dir)
    dic = spark.read.parquet(eng.paths["ws"].dictionary)
    return collate_suggestions(
        dic, [t for _, t in _SPELL_Q],
        low_df=_SPELL_LOW_DF, dominance=_SPELL_DOM,
    )
