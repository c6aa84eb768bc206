"""Result checks and summary statistics for the benchmark (no Spark)."""

from __future__ import annotations

import math
import statistics

SCORE_TOL = 1e-6  # tier-1 rule (tests/test_engine_oracle.py:_run_and_compare)
MIN_BEYOND = 10


def percentile(samples: list[float], p: float) -> float | None:
    """Nearest-rank p-th percentile, or None unless at least MIN_BEYOND
    samples lie beyond it (p90 needs 100 samples)."""
    xs = sorted(samples)
    if not xs:
        return None
    i = max(0, math.ceil(p / 100 * len(xs)) - 1)
    if len(xs) - (i + 1) < MIN_BEYOND:
        return None
    return xs[i]


def tail(samples: list[float]) -> tuple[float, float] | None:
    """(p, value): the highest nearest-rank percentile with MIN_BEYOND
    samples beyond it, or None with too few samples."""
    xs = sorted(samples)
    if len(xs) <= MIN_BEYOND:
        return None
    i = len(xs) - MIN_BEYOND - 1
    return 100 * (i + 1) / len(xs), xs[i]


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


def compare_ranked(got: list[tuple[str, float]], expected: list[list]) -> str | None:
    """None when docIDs match rank for rank and scores within SCORE_TOL,
    else the first difference."""
    if len(got) != len(expected):
        return f"{len(got)} hits, expected {len(expected)}"
    for i, ((gd, gs), (ed, es)) in enumerate(zip(got, expected)):
        if gd != ed:
            return f"rank {i}: {gd} != {ed}"
        if not abs(gs - es) < SCORE_TOL:
            return f"rank {i}: score {gs!r} vs {es!r}"
    return None


def compare_live(got: list[tuple[str, float]], live: list[str]) -> str | None:
    """Between a commit and compaction the engine scores with N/df/avgdl
    that still count superseded turns (Lucene semantics), so only the hit
    SET is checked: every live doc holding the term is returned, and
    nothing else — a superseded version surfacing is an extra hit."""
    docs = [d for d, _ in got]
    extra = sorted(set(docs) - set(live))
    missing = sorted(set(live) - set(docs))
    if len(docs) != len(set(docs)):
        return f"duplicate hits {docs}"
    if extra or missing:
        return f"extra {extra}, missing {missing}"
    return None
