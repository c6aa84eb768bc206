"""Portable (dual-engine) hash arithmetic: every primitive here is expressed
once as a Spark Column program and once as DuckDB SQL text, computing
BIT-IDENTICAL integers in both engines. This is what lets the MinHash-LSH /
SimHash / fingerprint pipelines be *fully* oracle-gated: the DuckDB oracle
replicates the entire pipeline (hashing, banding, candidate generation), not
just a downstream summary, so there is no recall/approximation gap between the
engine under test and its oracle.

Everything is plain ``pyspark.sql.functions`` expressions on the Spark side —
JVM-side, whole-stage-codegen'd, no Python in the hot path. The pandas-UDF
variants in :mod:`intuition_spark.functions.dedup` remain the vectorized scale
path (64-bit FNV, 64-hash signatures); this module trades hash width for
portability, which is what a correctness gate needs.

All arithmetic stays inside int64: the modulus P = 1e9+7 keeps every product
``a*h`` < 1e18 < 2^63.

Scale notes (100 TB): the per-document work is a handful of array expressions
over the token array — embarrassingly parallel, no shuffle until the band-key
/ shingle join, which shuffles only (id, key) pairs, never document text.
Band-bucket skew (a degenerate key shared by millions of docs) is the one
skew surface; AQE skew-join plus an optional bucket-size cap handle it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

P = 1_000_000_007  # modulus for every fold; products stay < 2^63
FP_BASE = 101  # fingerprint rolling-hash base


def hash_params(n: int, seed: int = 7) -> list[tuple[int, int]]:
    """n universal-hash (a, b) pairs, deterministic; inlined as literals into
    BOTH the Spark plan and the oracle SQL text."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, P, size=n, dtype=np.int64)
    b = rng.integers(0, P, size=n, dtype=np.int64)
    return [(int(x), int(y)) for x, y in zip(a, b)]


# -- character fold: h(s) = fold(acc*31 + codepoint) mod P --------------------

def s_charfold(col: Column) -> Column:
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(31) + F.ascii(c)) % F.lit(P),
    )


def d_charfold(expr: str) -> str:
    return (
        "list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(range(1, length({expr})+1), "
        f"i -> ascii(substr({expr}, i, 1))::BIGINT)), "
        f"(a, x) -> (a*31 + x) % {P})"
    )


# -- tokens -------------------------------------------------------------------

def s_tokens(text_col: Column) -> Column:
    """Whitespace tokens (gate text is single-space separated)."""
    return F.filter(F.split(F.lower(text_col), " "), lambda t: t != "")


D_TOKENS = "list_filter(string_split(lower({t}), ' '), t -> t <> '')"


# -- minhash signature over distinct shingle hashes ---------------------------

def s_minhash_cols(shingle_hashes: Column, params: list[tuple[int, int]]) -> list[Column]:
    """m_i = min over shingles of (a_i*h + b_i) mod P."""
    def mk(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(P)

    return [
        F.array_min(F.transform(shingle_hashes, mk(a, b))).alias(f"m{i}")
        for i, (a, b) in enumerate(params)
    ]


def d_minhash_exprs(hashes_expr: str, params: list[tuple[int, int]]) -> list[str]:
    return [
        f"list_min(list_transform({hashes_expr}, h -> ({a}::BIGINT*h + {b}) % {P})) AS m{i}"
        for i, (a, b) in enumerate(params)
    ]


# -- simhash: 32 portable bit votes ------------------------------------------

def s_simhash_votes(h_col: Column, tf_col: Column, params: list[tuple[int, int]]) -> list[Column]:
    """Per (doc, term) row: vote contribution for each bit i — aggregate with
    sum() then threshold >0."""
    out = []
    for i, (a, b) in enumerate(params):
        parity = ((h_col * F.lit(a) + F.lit(b)) % F.lit(P)) % 2
        out.append(F.when(parity == 1, tf_col).otherwise(-tf_col).alias(f"v{i}"))
    return out


def d_simhash_vote_exprs(h_expr: str, tf_expr: str, params: list[tuple[int, int]]) -> list[str]:
    return [
        f"CASE WHEN (({h_expr}*{a}::BIGINT + {b}) % {P}) % 2 = 1 "
        f"THEN {tf_expr} ELSE -{tf_expr} END AS v{i}"
        for i, (a, b) in enumerate(params)
    ]


def s_simhash_from_votes(n_bits: int) -> Column:
    return sum(
        F.when(F.col(f"sv{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        for i in range(n_bits)
    )


def d_simhash_from_votes(n_bits: int) -> str:
    return " + ".join(
        f"CASE WHEN sv{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END" for i in range(n_bits)
    )


# -- rolling-window fingerprints ---------------------------------------------

def s_window_fps(token_hashes: Column, window: int = 3) -> Column:
    """Rolling polynomial over `window` consecutive token hashes (winnowing-
    style document fingerprints); empty array when the doc is too short."""
    size = F.size(token_hashes)
    coeffs = [pow(FP_BASE, window - 1 - j, P) for j in range(window)]

    def wh(i):
        acc = F.lit(0).cast("long")
        for j, c in enumerate(coeffs):
            acc = (acc + F.element_at(token_hashes, i + j + 1) * F.lit(c)) % F.lit(P)
        return acc

    return F.when(
        size >= window,
        F.transform(F.sequence(F.lit(0), size - window), wh),
    ).otherwise(F.array().cast("array<long>"))


def d_window_fps(hashes_expr: str, window: int = 3) -> str:
    coeffs = [pow(FP_BASE, window - 1 - j, P) for j in range(window)]
    body = " + ".join(f"{hashes_expr}[i+{j+1}]*{c}::BIGINT" for j, c in enumerate(coeffs))
    return (
        f"CASE WHEN len({hashes_expr}) >= {window} THEN "
        f"list_transform(range(0, len({hashes_expr}) - {window} + 1), "
        f"i -> ({body}) % {P}) "
        f"ELSE []::BIGINT[] END"
    )


# -- fast per-doc token-hash arrays ------------------------------------------
#
# Folding characters inside nested higher-order functions is interpreted (no
# whole-stage codegen for the lambda body), so hashing every token occurrence
# in place is O(total_chars) of slow-path work. Instead: hash each DISTINCT
# term once, broadcast the tiny dictionary, and join — at 100 TB the
# dictionary is still orders of magnitude smaller than the corpus (Heaps'
# law), and the per-occurrence cost collapses to a broadcast-hash lookup.

def s_token_hash_arrays(df, text_col: str = "text", id_col: str = "doc_id"):
    """(id, hs: array<long>) — per-token portable hashes, position-ordered.
    One charfold per distinct term; broadcast join back to occurrences."""
    toks = df.select(
        F.col(id_col).alias("id"), F.posexplode(s_tokens(F.col(text_col))).alias("pos", "term")
    )
    dic = toks.select("term").distinct().withColumn("h", s_charfold(F.col("term")))
    return (
        toks.join(F.broadcast(dic), "term")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "h"))).alias("ph"))
        .select("id", F.transform("ph", lambda x: x["h"]).alias("hs"))
    )


def _s_whole_fold(hs_col: Column) -> Column:
    return F.aggregate(
        hs_col,
        F.lit(0).cast("long"),
        lambda a, h: (a * F.lit(FP_BASE) + h) % F.lit(P),
    )


def s_shingle_hash_set(hs_col: Column, n: int = 3) -> Column:
    """Distinct shingle hashes derived arithmetically from token hashes (the
    window polynomial), replacing charfold-of-concatenated-string: same
    discriminating power, no per-character work per shingle."""
    return F.array_distinct(
        F.when(F.size(hs_col) >= n, s_window_fps(hs_col, n)).otherwise(
            F.array(_s_whole_fold(hs_col))
        )
    )


def d_shingle_hash_set(hs_expr: str, n: int = 3) -> str:
    whole = (
        f"list_reduce(list_prepend(0::BIGINT, {hs_expr}), "
        f"(a, x) -> (a*{FP_BASE} + x) % {P})"
    )
    return (
        f"list_distinct(CASE WHEN len({hs_expr}) >= {n} THEN {d_window_fps(hs_expr, n)} "
        f"ELSE [{whole}] END)"
    )


# -- embedding folds (identical summation order both engines) -----------------

def s_dot(va: str, vb: str) -> Column:
    return F.aggregate(
        F.zip_with(va, vb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def s_norm(v: str) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def d_dot(va: str, vb: str) -> str:
    """Sequential left fold — same order as Spark's aggregate(). list_extract
    (not [] indexing) so cast literals like `[..]::DOUBLE[]` work as operands."""
    return (
        f"list_reduce(list_prepend(0.0, list_transform(range(1, len({va})+1), "
        f"i -> list_extract({va}, i)::DOUBLE * list_extract({vb}, i)::DOUBLE)), (a, x) -> a + x)"
    )


def d_norm(v: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(0.0, list_transform({v}, "
        f"x -> x::DOUBLE * x::DOUBLE)), (a, x) -> a + x))"
    )


def s_signlsh_bits(vec, planes: np.ndarray) -> Column:
    """Sign-LSH bucket id: bit j set iff round(vec · plane_j, 9) >= 0.
    The dot is quantized to 9dp BEFORE the sign decision — Spark's ordered
    fold and an oracle's unordered SUM can differ in the last ulp, and a dot
    near zero must land in the same bucket in both engines (ADVICE r2)."""
    acc = F.lit(0)
    for j, plane in enumerate(planes):
        lit = F.array(*[F.lit(float(x)) for x in plane.tolist()])
        dot = F.aggregate(
            F.zip_with(vec, lit, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        acc = acc + F.when(F.round(dot, 9) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return acc


def d_plane_literal(p: np.ndarray) -> str:
    return "[" + ", ".join(f"{x!r}" for x in p.tolist()) + "]"


def d_signlsh_bits(vec: str, planes: np.ndarray) -> str:
    bits = []
    for j, plane in enumerate(planes):
        dot = d_dot(vec, f"{d_plane_literal(plane)}::DOUBLE[]")
        bits.append(f"CASE WHEN round({dot}, 9) >= 0 THEN {1 << j} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


def signlsh_tables(n_tables: int, n_planes: int, dim: int, seed: int = 11) -> list[np.ndarray]:
    """Independent hyperplane tables for multi-table sign-LSH; table t's key
    is (t << 8) + bits, so n_planes must stay <= 8."""
    assert n_planes <= 8, "bucket key packs bits below the table id (t << 8)"
    return [hyperplanes(n_planes, dim, seed=seed + 18 * t) for t in range(n_tables)]


def hyperplanes(n_planes: int, dim: int, seed: int = 11) -> np.ndarray:
    """Deterministic random-hyperplane set for sign-LSH; small enough to inline
    as literals in the oracle SQL and broadcast free in the Spark plan."""
    rng = np.random.default_rng(seed)
    return np.round(rng.standard_normal((n_planes, dim)), 6)
