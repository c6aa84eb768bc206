"""Driver-facing query registry: Spark implementations + DuckDB oracle SQL.

Each entry is one operator from SURVEY.md §2 expressed twice with identical
semantics and column names: as a PySpark DataFrame program over the driver's
parquet tables (documents / embeddings / events / TPC-H-ish star schema), and
as ANSI SQL for DuckDB. The driver's correctness gate runs both at sf=0.01 and
compares row-count + schema + order-insensitive value hashes.

The `documents` table doubles as the full-text corpus for the gate: its text
is single-space-separated lowercase words, so the ``ws`` analyzer (whitespace
tokenizer) is exactly ``string_split(text, ' ')`` in SQL — tokenization parity
is structural, not approximate. Scored queries round to 4 decimals on both
sides to absorb last-ulp differences between JVM and C math libraries.

The ``fts_engine_*`` entries are the strongest gate: they run the REAL engine
(segmented block-compressed index + WAND scorer from index/ + query/) over the
documents table and are still reproduced by a from-scratch BM25 in DuckDB SQL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from intuition_spark.query.wand import B, K1

# the tiny stopword subset used by gate quality metrics (kept inline so the
# SQL literal below is character-identical)
GATE_STOPWORDS = ("the", "a", "of", "and", "to")

QUERIES: dict = {}
ORACLE_SQL: dict[str, str] = {}

# Demoted entries: the driver's correctness gate only reads the first 50
# registrations, so redundant non-engine twins of engine-backed entries live
# here instead — still importable, still benched (bench.py runs both
# registries), still oracle-checked by pytest (tests/test_gate_extra.py), just
# not taking a slot in the driver's 50-entry oracle window.
EXTRA_QUERIES: dict = {}
EXTRA_ORACLE_SQL: dict[str, str] = {}

GATE_WINDOW = 50  # driver-side cap on oracle-gated entries per round


def register(name: str, sql: str | None, gated: bool = True):
    def deco(fn):
        (QUERIES if gated else EXTRA_QUERIES)[name] = fn
        if sql is not None:
            (ORACLE_SQL if gated else EXTRA_ORACLE_SQL)[name] = sql
        return fn

    return deco


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def tmp_cache_path(prefix: str, src: str, *extra) -> str:
    """Shared /tmp cache path keyed by sha1(abspath) + size + mtime of the
    source file plus caller tokens. The path hash makes basename collisions
    impossible (two corpora named sf0.001 with equal size+mtime, ADVICE r2);
    size+mtime invalidate naturally when the source is regenerated."""
    import hashlib

    src = os.path.abspath(src)
    st = os.stat(src)
    ph = hashlib.sha1(src.encode()).hexdigest()[:10]
    tokens = "".join(f"_{e}" for e in extra)
    return f"/tmp/intuition_spark_gate/{prefix}_{ph}_{st.st_size}_{int(st.st_mtime)}{tokens}"


def publish_atomically(path: str, write_fn, marker: str = "_SUCCESS") -> None:
    """Build via write_fn(tmp_dir), then publish with ONE os.rename — readers
    never observe a partial directory, and concurrent builders either win the
    rename or discard their scratch. A rename failure is treated as a lost
    race ONLY if a complete publication (marker file) actually exists;
    anything else (EXDEV, permissions) re-raises instead of silently serving
    broken data. Self-healing (ADVICE r3): a marker-LESS directory already
    squatting at `path` (a crash between the pre-atomic code's mkdir and its
    marker write, or an interrupted rename target) is removed up front — it
    can never be valid, and leaving it made every future build fail on the
    rename. The tmp scratch dir is likewise removed when write_fn raises."""
    if os.path.exists(os.path.join(path, marker)):
        return
    import shutil

    if os.path.isdir(path):  # stale partial publication — heal, don't wedge
        # claim-by-rename before deleting: a concurrent builder's rename can
        # land between the marker check above and this heal, and rmtree'ing
        # its complete publication would tear down a live index. os.rename is
        # atomic, so after claiming we re-check the marker INSIDE the claimed
        # dir: garbage → delete; a just-completed publication → put it back
        # (and if another publication occupied `path` meanwhile, theirs wins
        # and the claimed duplicate is dropped — builds are deterministic).
        claim = f"{path}_stale_{os.getpid()}"
        try:
            os.rename(path, claim)
        except OSError:
            pass  # another process claimed/removed it first
        else:
            if os.path.exists(os.path.join(claim, marker)):
                try:
                    os.rename(claim, path)
                    return
                except OSError:
                    shutil.rmtree(claim, ignore_errors=True)
            else:
                shutil.rmtree(claim, ignore_errors=True)
    if os.path.exists(os.path.join(path, marker)):
        return  # a concurrent publication completed while healing
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}_build_{os.getpid()}"
    try:
        write_fn(tmp)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, path)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(path, marker)):
            raise


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, term, pos) — ws tokenization of documents; Catalyst prunes to
    (doc_id, text) at the scan."""
    docs = _read(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    ).filter(F.col("term") != "")


_TOKS_CTE = """
toks AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS term,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
  FROM documents
)
"""

_BM25_CTES = (
    _TOKS_CTE
    + """,
doc_stats AS (SELECT doc_id, count(*) AS dl FROM toks WHERE term <> '' GROUP BY doc_id),
corpus AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM doc_stats)
"""
)


def _bm25_score_col(avgdl_col="avgdl"):
    tf = F.col("tf")
    dl = F.col("dl")
    return (
        F.col("idf") * tf * F.lit(K1 + 1.0)
        / (tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * dl / F.col(avgdl_col)))
    )


def _bm25_parts(spark: SparkSession, sf_dir: str, terms: list[str]):
    """Shared scaffolding: tf rows for query terms + doc stats + idf."""
    toks = _tokens(spark, sf_dir)
    stats = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    corpus = stats.agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
    tf = (
        toks.filter(F.col("term").isin(terms))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = df.crossJoin(F.broadcast(corpus)).select(
        "term",
        F.log(F.lit(1.0) + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)).alias("idf"),
        "avgdl",
    )
    return tf, stats, idf


# --------------------------------------------------------------------------
# Q1: analyzed term query + BM25 top-k, mm=100% (SolrClientTool.java:162-214)
# --------------------------------------------------------------------------
@register(
    "fts_q1_bm25_and",
    f"""
WITH {_BM25_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ('spark','join')
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
SELECT doc_id, round(score, 4) AS score
FROM scored WHERE ng = 2
ORDER BY score DESC, doc_id LIMIT 10
""",
    gated=False,
)
def fts_q1_bm25_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = ["spark", "join"]
    tf, stats, idf = _bm25_parts(spark, sf_dir, terms)
    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(stats, "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(_bm25_score_col()).alias("score"), F.count("*").alias("ng"))
        .filter(F.col("ng") == len(terms))
        .select("doc_id", F.round("score", 4).alias("score"))
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(10)


# --------------------------------------------------------------------------
# Q2: boolean AND of OR-groups (buildSearchExpression, SolrServiceImpl.java:336-413)
# --------------------------------------------------------------------------
@register(
    "fts_q2_or_groups",
    f"""
WITH {_BM25_CTES},
qt(term, gid) AS (VALUES ('spark', 0), ('query', 0), ('merge', 1)),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       WHERE term IN (SELECT term FROM qt) GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         sum( ln(1 + (c.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({K1} + 1.0)
              / (tf.tf + {K1} * (1.0 - {B} + {B} * s.dl / c.avgdl)) ) AS score,
         count(DISTINCT qt.gid) AS ng
  FROM tf JOIN df USING(term) JOIN qt USING(term)
       JOIN doc_stats s USING(doc_id) CROSS JOIN corpus c
  GROUP BY tf.doc_id)
SELECT doc_id, round(score, 4) AS score
FROM scored WHERE ng = 2
ORDER BY score DESC, doc_id LIMIT 15
""",
    gated=False,
)
def fts_q2_or_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = {"spark": 0, "query": 0, "merge": 1}
    tf, stats, idf = _bm25_parts(spark, sf_dir, list(groups))
    gmap = spark.createDataFrame(list(groups.items()), "term string, gid int")
    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(F.broadcast(gmap), "term")
        .join(stats, "doc_id")
        .groupBy("doc_id")
        .agg(F.sum(_bm25_score_col()).alias("score"), F.countDistinct("gid").alias("ng"))
        .filter(F.col("ng") == 2)
        .select("doc_id", F.round("score", 4).alias("score"))
    )
    return scored.orderBy(F.desc("score"), "doc_id").limit(15)


# --------------------------------------------------------------------------
# Q3: phrase query — positional adjacency (quote(), SolrClientTool.java:636-638)
# --------------------------------------------------------------------------
@register(
    "fts_q3_phrase",
    f"""
WITH {_TOKS_CTE}
SELECT a.doc_id, count(*) AS phrase_tf
FROM (SELECT doc_id, pos FROM toks WHERE term = 'table') a
JOIN (SELECT doc_id, pos FROM toks WHERE term = 'part') b
  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
GROUP BY a.doc_id
""",
    gated=False,
)
def fts_q3_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    a = toks.filter(F.col("term") == "table").select("doc_id", "pos")
    b = toks.filter(F.col("term") == "part").select("doc_id", F.col("pos").alias("pos_b"))
    return (
        a.join(b, (a.doc_id == b.doc_id) & (F.col("pos_b") == F.col("pos") + 1))
        .groupBy(a.doc_id)
        .agg(F.count("*").alias("phrase_tf"))
    )


# --------------------------------------------------------------------------
# Q4: proximity "a b"~5 — ordered window match count (TextServiceImpl.java:531)
# --------------------------------------------------------------------------
@register(
    "fts_q4_proximity",
    f"""
WITH {_TOKS_CTE}
SELECT a.doc_id, count(*) AS prox_pairs
FROM (SELECT doc_id, pos FROM toks WHERE term = 'hash') a
JOIN (SELECT doc_id, pos FROM toks WHERE term = 'merge') b
  ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 5
GROUP BY a.doc_id
""",
    gated=False,
)
def fts_q4_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    a = toks.filter(F.col("term") == "hash").select("doc_id", "pos")
    b = toks.filter(F.col("term") == "merge").select("doc_id", F.col("pos").alias("pos_b"))
    return (
        a.join(
            b,
            (a.doc_id == b.doc_id)
            & (F.col("pos_b") > F.col("pos"))
            & (F.col("pos_b") <= F.col("pos") + 5),
        )
        .groupBy(a.doc_id)
        .agg(F.count("*").alias("prox_pairs"))
    )


# --------------------------------------------------------------------------
# Q5: wildcard — dictionary expansion, constant-score doc set (SolrServiceImpl.java:434)
# --------------------------------------------------------------------------
@register(
    "fts_q5_wildcard",
    f"""
WITH {_TOKS_CTE}
SELECT DISTINCT doc_id FROM toks WHERE term LIKE 'sc%'
""",
    gated=False,
)
def fts_q5_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tokens(spark, sf_dir).filter(F.col("term").like("sc%")).select("doc_id").distinct()


# --------------------------------------------------------------------------
# Q8: termfreq() ranking — raw tf sort (SolrClientTool.java:147-151)
# --------------------------------------------------------------------------
@register(
    "fts_q6_tf_rank",
    f"""
WITH {_TOKS_CTE}
SELECT doc_id, count(*) AS tf FROM toks WHERE term = 'table' GROUP BY doc_id
ORDER BY tf DESC, doc_id LIMIT 20
""",
    gated=False,
)
def fts_q6_tf_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _tokens(spark, sf_dir)
        .filter(F.col("term") == "table")
        .groupBy("doc_id")
        .agg(F.count("*").alias("tf"))
        .orderBy(F.desc("tf"), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# B4: global dictionary (term, df, cf) — the merged-segment term stats
# --------------------------------------------------------------------------
@register(
    "fts_dictionary",
    f"""
WITH {_TOKS_CTE}
SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
FROM toks WHERE term <> '' GROUP BY term
ORDER BY df DESC, term LIMIT 50
""",
)
def fts_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _tokens(spark, sf_dir)
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"), F.count("*").alias("cf"))
        .orderBy(F.desc("df"), "term")
        .limit(50)
    )


# --------------------------------------------------------------------------
# B5: doc-length stats (Lucene norms analogue)
# --------------------------------------------------------------------------
@register(
    "fts_doc_stats",
    f"""
WITH {_TOKS_CTE}
SELECT doc_id, count(*) AS dl FROM toks WHERE term <> '' GROUP BY doc_id
""",
)
def fts_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _tokens(spark, sf_dir).groupBy("doc_id").agg(F.count("*").alias("dl"))


# --------------------------------------------------------------------------
# B8: forward index — doc → topics (ArticleIndexServiceImpl.java:40-129):
# per-doc count of distinct "entity" terms from a small dictionary
# --------------------------------------------------------------------------
@register(
    "fts_forward_index",
    f"""
WITH {_TOKS_CTE}
SELECT doc_id, count(DISTINCT term) AS n_topics
FROM toks WHERE term IN ('spark','query','join','merge','window')
GROUP BY doc_id
""",
)
def fts_forward_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _tokens(spark, sf_dir)
        .filter(F.col("term").isin(["spark", "query", "join", "merge", "window"]))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_topics"))
    )


# --------------------------------------------------------------------------
# Dedup (training-data ops): exact duplicate text groups via md5 hash-groupBy
# --------------------------------------------------------------------------
@register(
    "dedup_exact",
    """
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keeper
FROM documents GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _read(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper"))
    )


# --------------------------------------------------------------------------
# Text quality scoring (training-data ops): token count, distinct ratio,
# stopword ratio — integers and 4-dp rounds
# --------------------------------------------------------------------------
@register(
    "text_quality",
    f"""
WITH {_TOKS_CTE}
SELECT doc_id,
       count(*) AS n_tokens,
       count(DISTINCT term) AS n_distinct,
       round(count(DISTINCT term) * 1.0 / count(*), 4) AS distinct_ratio,
       round(sum(CASE WHEN term IN ('the','a','of','and','to') THEN 1 ELSE 0 END) * 1.0
             / count(*), 4) AS stopword_ratio
FROM toks WHERE term <> '' GROUP BY doc_id
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    return toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("term").alias("n_distinct"),
        F.round(F.countDistinct("term") / F.count("*"), 4).alias("distinct_ratio"),
        F.round(
            F.sum(F.when(F.col("term").isin(list(GATE_STOPWORDS)), 1).otherwise(0)) / F.count("*"),
            4,
        ).alias("stopword_ratio"),
    )


# --------------------------------------------------------------------------
# J1 hydration join: top-k ids ⋈ dimension (ArticleController.java:465-473)
# --------------------------------------------------------------------------
@register(
    "rel_j1_hydration",
    """
SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 20
""",
)
def rel_j1_hydration(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# W1: rank-by-score, top-5 tier assignment (AnalyticsServiceImpl.java:866-908)
# --------------------------------------------------------------------------
@register(
    "rel_w1_top5_tiers",
    """
SELECT c_mktsegment, c_custkey, rn, CASE WHEN rn <= 5 THEN 'tier1' ELSE 'tier2' END AS tier
FROM (
  SELECT c_mktsegment, c_custkey,
         row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn
  FROM customer)
WHERE rn <= 10
""",
)
def rel_w1_top5_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _read(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select(
            "c_mktsegment",
            "c_custkey",
            "rn",
            F.when(F.col("rn") <= 5, "tier1").otherwise("tier2").alias("tier"),
        )
    )


# --------------------------------------------------------------------------
# W2/Q13: version-max dedupe (SolrServiceImpl.findArticle:498-517)
# --------------------------------------------------------------------------
@register(
    "rel_w2_latest_event",
    """
SELECT user_id, event_id, event_type
FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
WHERE rn = 1
""",
)
def rel_w2_latest_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


# --------------------------------------------------------------------------
# A3/A5: per-key sum aggregation (AnalyticsServiceImpl.java:413-414)
# --------------------------------------------------------------------------
@register(
    "rel_a3_sum_per_key",
    """
SELECT user_id, event_type, round(sum(value), 4) AS total, count(*) AS n
FROM events GROUP BY user_id, event_type
""",
)
def rel_a3_sum_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _read(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.round(F.sum("value"), 4).alias("total"), F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# P5: range predicate date:[x TO y] (SolrServiceImpl.java:407)
# --------------------------------------------------------------------------
@register(
    "rel_p5_ts_range",
    """
SELECT event_type, count(*) AS n
FROM events
WHERE ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
GROUP BY event_type
""",
)
def rel_p5_ts_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _read(spark, sf_dir, "events")
    return (
        e.filter(
            (F.col("ts") >= F.lit("2024-01-08 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
    )


# --------------------------------------------------------------------------
# SO2: set intersection (consensus sets, AnalyticsServiceImpl.java:450-458)
# --------------------------------------------------------------------------
@register(
    "rel_so2_intersect",
    """
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'error'
""",
)
def rel_so2_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _read(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "error").select("user_id")
    return a.intersect(b)


# --------------------------------------------------------------------------
# Q7/Q20: fuzzy term expansion (Levenshtein ≤ 1) → doc set
# (GeneMINDImpl.wildcard fuzzy, MIND/GeneMINDImpl.java:74-83; SpellChecking.java)
# --------------------------------------------------------------------------
@register(
    "fts_q7_fuzzy",
    f"""
WITH {_TOKS_CTE}
SELECT DISTINCT doc_id FROM toks WHERE levenshtein(term, 'tble') <= 1
""",
    gated=False,
)
def fts_q7_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _tokens(spark, sf_dir)
        .filter(F.levenshtein(F.col("term"), F.lit("tble")) <= 1)
        .select("doc_id")
        .distinct()
    )


# --------------------------------------------------------------------------
# P2: non-scoring fq candidate filter — BM25 stats stay global, the filter
# only restricts the result set (SolrClientTool.java:273,317)
# --------------------------------------------------------------------------
@register(
    "fts_q9_filtered",
    f"""
WITH {_BM25_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term = 'stream'
       GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
SELECT tf.doc_id,
       round( ln(1 + (c.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({K1} + 1.0)
              / (tf.tf + {K1} * (1.0 - {B} + {B} * s.dl / c.avgdl)), 4) AS score
FROM tf JOIN df USING(term) JOIN doc_stats s USING(doc_id) CROSS JOIN corpus c
JOIN documents d ON d.doc_id = tf.doc_id
WHERE d.lang = 'en'
""",
    gated=False,  # P2 is gate-covered by the engine path (fts_engine_filtered
    # + fts_engine_field_qual); this DataFrame twin stays pytest-gated
)
def fts_q9_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf, stats, idf = _bm25_parts(spark, sf_dir, ["stream"])
    en_docs = _read(spark, sf_dir, "documents").filter(F.col("lang") == "en").select("doc_id")
    return (
        tf.join(F.broadcast(idf), "term")
        .join(stats, "doc_id")
        .select("doc_id", F.round(_bm25_score_col(), 4).alias("score"))
        .join(en_docs, "doc_id", "left_semi")
    )


# --------------------------------------------------------------------------
# F6: synonym-ring expansion — OR of synonyms, sum of matched contributions
# (AminoAcids.mutationSynonym / Target.synonyms, AnalyticsServiceImpl.java:206-227)
# --------------------------------------------------------------------------
@register(
    "fts_synonyms",
    f"""
WITH {_BM25_CTES},
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ('scan','filter','sort')
       GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
SELECT tf.doc_id,
       round(sum( ln(1 + (c.n - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * ({K1} + 1.0)
              / (tf.tf + {K1} * (1.0 - {B} + {B} * s.dl / c.avgdl)) ), 4) AS score
FROM tf JOIN df USING(term) JOIN doc_stats s USING(doc_id) CROSS JOIN corpus c
GROUP BY tf.doc_id
""",
)
def fts_synonyms(spark: SparkSession, sf_dir: str) -> DataFrame:
    terms = ["scan", "filter", "sort"]  # one synonym ring, expanded query-side
    tf, stats, idf = _bm25_parts(spark, sf_dir, terms)
    return (
        tf.join(F.broadcast(idf), "term")
        .join(stats, "doc_id")
        .groupBy("doc_id")
        .agg(F.round(F.sum(_bm25_score_col()), 4).alias("score"))
    )


# --------------------------------------------------------------------------
# SO3: set difference (kinases.removeAll(receptors), TestMIND.java:84-93)
# --------------------------------------------------------------------------
@register(
    "rel_so3_except",
    """
SELECT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM events
WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-03 00:00:00'
""",
)
def rel_so3_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _read(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(
        (F.col("event_type") == "error")
        & (F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp"))
    ).select("user_id")
    return a.subtract(b)  # EXCEPT (set semantics), matching SQL EXCEPT


# --------------------------------------------------------------------------
# A6: distinct counts (unique journals / gene symbols, Test1.java:334-342)
# --------------------------------------------------------------------------
@register(
    "rel_a6_distinct",
    """
SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
FROM events GROUP BY event_type
""",
    gated=False,  # demoted to EXTRA in r4 (still pytest-oracle-gated +
    # benched) to free a driver-window slot for fts_engine_multifield —
    # countDistinct agg coverage remains via rel_a3/rel_a4/fts_forward_index
)
def rel_a6_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _read(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"), F.count("*").alias("n_events"))
    )


# --------------------------------------------------------------------------
# F1-F12 scalar family: lower/split/levenshtein/least (SURVEY §2.10)
# --------------------------------------------------------------------------
@register(
    "rel_f_scalar",
    """
SELECT p_partkey,
       lower(p_name) AS name_lc,
       split_part(p_type, ' ', 1) AS type_head,
       levenshtein(p_brand, 'Brand#11') AS brand_dist,
       least(p_size, 25) AS size_capped
FROM part WHERE p_partkey <= 200
""",
)
def rel_f_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _read(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lc"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.levenshtein(F.col("p_brand"), F.lit("Brand#11")).alias("brand_dist"),
        F.least(F.col("p_size"), F.lit(25)).alias("size_capped"),
    )


# --------------------------------------------------------------------------
# MinHash signatures (training-data dedup): md5-based min-hash per band —
# deterministic across engines, the LSH banding primitive
# --------------------------------------------------------------------------
@register(
    "dedup_minhash_sigs",
    f"""
WITH {_TOKS_CTE},
dt AS (SELECT DISTINCT doc_id, term FROM toks WHERE term <> '')
SELECT doc_id,
       min(md5('0|' || term)) AS sig0,
       min(md5('1|' || term)) AS sig1,
       min(md5('2|' || term)) AS sig2,
       min(md5('3|' || term)) AS sig3
FROM dt GROUP BY doc_id
""",
    gated=False,
)
def dedup_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    dt = _tokens(spark, sf_dir).select("doc_id", "term").distinct()
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("term")))).alias(f"sig{j}") for j in range(4)
    ]
    return dt.groupBy("doc_id").agg(*aggs)


# --------------------------------------------------------------------------
# Similarity search: exact cosine top-k over the embeddings table
# --------------------------------------------------------------------------
@register(
    "sim_cosine_topk",
    """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id <> 0),
ex AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
              generate_subscripts(embedding, 1) AS i FROM e),
qx AS (SELECT CAST(unnest(qv) AS DOUBLE) AS qv_x, generate_subscripts(qv, 1) AS i FROM q),
dots AS (SELECT vec_id, sum(x * qv_x) AS dot, sum(x * x) AS nx
         FROM ex JOIN qx USING(i) GROUP BY vec_id),
qn AS (SELECT sqrt(sum(qv_x * qv_x)) AS nq FROM qx)
SELECT vec_id, round(dot / (sqrt(nx) * nq), 4) AS cosine
FROM dots CROSS JOIN qn
ORDER BY cosine DESC, vec_id LIMIT 10
""",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from intuition_spark.functions.similarity import cosine_scores

    emb = _read(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    # score all, then cut on the ROUNDED cosine + vec_id tiebreak to match the
    # oracle's k-boundary exactly (raw-cosine cuts are data-dependent at ties)
    allc = cosine_scores(emb.filter(F.col("vec_id") != 0), qvec)
    return (
        allc.select("vec_id", F.round("cosine", 4).alias("cosine"))
        .orderBy(F.desc("cosine"), "vec_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# B7: regex-scan entity posting-list build (MapServiceImpl.addOneTerm:256-367,
# patterns from ArticleQuery.java:122-213) — rlike scan → doc set per pattern
# --------------------------------------------------------------------------
@register(
    "fts_b7_regex_scan",
    """
SELECT 'p_spark' AS pattern, doc_id FROM documents WHERE regexp_matches(text, 'spark [a-z]+ query')
UNION ALL
SELECT 'p_window' AS pattern, doc_id FROM documents WHERE regexp_matches(text, 'window (sort|merge)')
""",
)
def fts_b7_regex_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _read(spark, sf_dir, "documents")
    pats = [("p_spark", "spark [a-z]+ query"), ("p_window", "window (sort|merge)")]
    parts = [
        docs.filter(F.col("text").rlike(rx)).select(F.lit(name).alias("pattern"), "doc_id")
        for name, rx in pats
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# A4: weighted score-code accumulation (AnalyticsServiceImpl.java:601-716):
# each code is a boolean/int column, score = weighted sum expression
# --------------------------------------------------------------------------
@register(
    "rel_a4_weighted_codes",
    f"""
WITH {_TOKS_CTE},
feats AS (
  SELECT doc_id,
         max(CASE WHEN term = 'spark' THEN 1 ELSE 0 END) AS has_a,
         max(CASE WHEN term = 'query' THEN 1 ELSE 0 END) AS has_b,
         CASE WHEN count(*) > 200 THEN 1 ELSE 0 END AS is_long
  FROM toks WHERE term <> '' GROUP BY doc_id)
SELECT doc_id, 3 * has_a + 2 * has_b + 5 * is_long AS code_score
FROM feats WHERE 3 * has_a + 2 * has_b + 5 * is_long > 0
""",
)
def rel_a4_weighted_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _tokens(spark, sf_dir)
    feats = toks.groupBy("doc_id").agg(
        F.max(F.when(F.col("term") == "spark", 1).otherwise(0)).alias("has_a"),
        F.max(F.when(F.col("term") == "query", 1).otherwise(0)).alias("has_b"),
        F.when(F.count("*") > 200, 1).otherwise(0).alias("is_long"),
    )
    score = F.col("has_a") * 3 + F.col("has_b") * 2 + F.col("is_long") * 5
    return feats.select("doc_id", score.alias("code_score")).filter(F.col("code_score") > 0)


# --------------------------------------------------------------------------
# F11: JSON extraction (Gson serialize, Article.java:279-285) over events.props
# --------------------------------------------------------------------------
@register(
    "rel_f11_json",
    """
SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
FROM events WHERE event_id < 500
""",
    gated=False,  # trivial scalar (F11) — demoted to the pytest-gated EXTRA
    # window to make room for fts_engine_field_qual / fts_q18_kmer_fuzzy
)
def rel_f11_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _read(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("bigint").alias("k")
    )
