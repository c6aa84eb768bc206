"""Dump formatted physical plans for the headline queries → PLANS.md.

Evidence that the plans are the ones we want: term-IN pushdown at the
postings scan, column pruning, ONE per-segment kernel (FlatMapGroupsInPandas,
or FlatMapCoGroupsInPandas when distributed ids ride along) per query, and no
docs scan outside an oversize fq's side and the tf pre-cut's TakeOrdered. A
search returns a LocalTableScan, so each shows its captured kernel stage.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from intuition_spark.corpus import transcripts_path
from intuition_spark.index.builder import build_index
from intuition_spark.query.ast import Query
from intuition_spark.query.engine import SearchEngine
from intuition_spark.session import get_spark


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def capture(method: str) -> list:
    """Frames ``SearchEngine.<method>`` builds from now on, in order."""
    frames: list = []
    build = getattr(SearchEngine, method)
    setattr(SearchEngine, method, lambda self, *a: frames.append(build(self, *a)) or frames[-1])
    return frames


def stage_plan(eng: SearchEngine, stages: list, q: Query, mode: str, docs_scans: int = 0) -> str:
    """Run ``q`` distributed; return its kernel stage's plan, which scans the
    docs table ``docs_scans`` times."""
    assert "LocalTableScan" in plan_of(eng.search(q, mode=mode)) and eng.last_path == "distributed"
    stage = stages[-1]._jdf.queryExecution().sparkPlan().toString()
    assert stage.count(eng.paths["standard"].docs + "]") == docs_scans, stage
    return plan_of(stages[-1])


def main() -> None:
    spark = get_spark("plans")
    ix_dir = "/tmp/intuition_spark_plans_ix"
    if not os.path.exists(os.path.join(ix_dir, "stats.json")):
        df = spark.read.parquet(transcripts_path(20000))
        build_index(spark, df, ix_dir, analyzer="standard", n_segments=8)
    ix_ws = "/tmp/intuition_spark_plans_ix_ws"
    if not os.path.exists(os.path.join(ix_ws, "stats.json")):
        df = spark.read.parquet(transcripts_path(20000))
        build_index(spark, df, ix_ws, analyzer="ws", n_segments=8)
    eng = SearchEngine(spark, {"standard": ix_dir, "ws": ix_ws})
    stages, cuts = capture("_kernel_stage"), capture("_precut")

    sections = []
    cases = [
        ("WAND top-k (two-term AND)", Query("p1", "and", [["braf"], ["v600e"]], k=10), "wand"),
        # exhaustive = the same kernel with pruning off: same plan shape
        ("Exhaustive scorer (OR-groups)", Query("p2", "or_groups", [["braf", "kras"], ["v600e", "g12c"]], k=10), "exhaustive"),
        ("Phrase (positional)", Query("p3", "phrase", [["braf v600e"]], k=10), "exhaustive"),
        # mode="exhaustive" forces the distributed path, as auto would not
        ("tf-sort (termfreq ranking)", Query("p4", "tf_sort", [["spark"]], k=10), "exhaustive"),
        # fused multi-field WAND — check ONE Union of two pushdown scans
        # feeding ONE Exchange(seg) + FlatMapGroupsInPandas (no per-field
        # shuffles)
        ("Multi-field WAND (edismax qf, standard + ws)",
         Query("p5", "and", [["braf"], ["v600e"]], k=10,
               fields={"standard": 1.0, "ws": 0.5}), "wand"),
        # r4: deep page — the kernel keeps offset+k rows per segment
        ("Deep page (offset=100, k=10)",
         Query("p6", "term", [["spark"]], k=10, offset=100), "exhaustive"),
    ]
    for title, q, mode in cases:
        sections.append(f"## {title}\n\n```\n{stage_plan(eng, stages, q, mode)}\n```\n")

    # tf-sort keeps every boundary tie, so its kernel may emit df(term) rows;
    # past SMALL_QUERY_POSTINGS check ONE docs join under one TakeOrdered
    eng_tf = SearchEngine(spark, {"standard": ix_dir})
    eng_tf.SMALL_QUERY_POSTINGS = 1
    eng_tf.search(Query("p4c", "tf_sort", [["spark"]], k=10), mode="exhaustive")
    assert len(cuts) == 1 and "TakeOrderedAndProject" in plan_of(cuts[0])
    sections.append(f"## tf-sort pre-cut (Σdf over the bound)\n\n```\n{plan_of(cuts[0])}\n```\n")

    blocks = eng._blocks("standard", ["braf", "v600e"])
    sections.append(f"## Postings scan (term pushdown)\n\n```\n{plan_of(blocks)}\n```\n")

    # r5: WAND under an OVERSIZE fq predicate (FQ_MAX_IDS exceeded) — check
    # FlatMapCoGroupsInPandas over TWO pushdown scans (blocks filtered by
    # term-IN; docs filtered by the predicate, both pruned to their own
    # columns), each with one Exchange(seg): the filter reaches the scorer
    # co-partitioned with the postings instead of abandoning pruning
    eng_fq = SearchEngine(spark, {"standard": ix_dir, "ws": ix_ws})
    eng_fq.FQ_MAX_IDS = 1  # force the distributed-fq route
    q_fq = Query("p7", "and", [["braf"], ["v600e"]], k=10,
                 field_eq={"role": "user"})
    plan = stage_plan(eng_fq, stages, q_fq, "wand", docs_scans=1)
    sections.append(
        "## WAND under oversize fq (distributed filterCache, cogrouped)"
        f"\n\n```\n{plan}\n```\n"
    )

    # r4: snapshot time travel — the as-of seg predicate must land in
    # PartitionFilters (seg is the partition column), NOT in PushedFilters/
    # post-scan Filter: an as-of scan prunes whole segment directories and
    # never lists or reads newer commits' files, which is what makes time
    # travel free at 100 TB
    ix_tt = "/tmp/intuition_spark_plans_ix_tt"
    if not os.path.exists(os.path.join(ix_tt, "snapshots.json")):
        import shutil

        from intuition_spark.index.builder import IndexPaths
        from intuition_spark.index.incremental import merge_delta

        shutil.rmtree(ix_tt, ignore_errors=True)
        df = spark.read.parquet(transcripts_path(20000))
        build_index(spark, df, ix_tt, analyzer="standard", n_segments=8)
        from pyspark.sql import functions as F

        delta = df.limit(500).withColumn("text", F.lit("rewritten delta text"))
        merge_delta(spark, IndexPaths(ix_tt), delta)
    eng_tt = SearchEngine(spark, ix_tt, as_of=1)
    blocks_tt = eng_tt._blocks("standard", ["braf", "v600e"])
    sections.append(
        "## Time-travel postings scan (as_of=1: seg partition-pruned + term pushdown)"
        f"\n\n```\n{plan_of(blocks_tt)}\n```\n"
    )

    # r5: oversize TOMBSTONE set (TOMB_MAX_IDS exceeded) — the delta-built
    # ix_tt index carries real tombstones; check the exclusion rides the
    # same cogroup (FlatMapCoGroupsInPandas with the tombstone parquet scan
    # as the second side) and NO LocalTableScan of collected ids appears:
    # nothing materializes on the driver
    eng_dt = SearchEngine(spark, ix_tt)
    eng_dt.TOMB_MAX_IDS = 1
    plan = stage_plan(eng_dt, stages, Query("p8", "and", [["braf"], ["v600e"]], k=10), "wand")
    sections.append(
        "## WAND under oversize tombstones (distributed exclusion, cogrouped)"
        f"\n\n```\n{plan}\n```\n"
    )

    # r2: plans of the three gate entries whose r1 shapes were scale-killers —
    # check: no CartesianProduct in dedup_embed_cosine (bucket-key SortMerge/
    # ShuffledHash join instead), kmer postings scan with In(kmer,…) pushdown,
    # and rel_j2's global Window fed by a TakeOrderedAndProject(limit=100)
    sf_dir = "/root/testdata/sf0.01"
    import intuition_spark.driver_gate_ext as ext  # noqa: E402

    gate_cases = [
        ("dedup_embed_cosine (sign-LSH bucketed verify)", "dedup_embed_cosine"),
        ("fts_q18_kmer (persistent k-mer postings join)", "fts_q18_kmer"),
        ("rel_j2_rank_fold (bounded rank window)", "rel_j2_rank_fold"),
    ]
    from intuition_spark.driver_gate import QUERIES

    for title, name in gate_cases:
        df = QUERIES[name](spark, sf_dir)
        sections.append(f"## Gate: {title}\n\n```\n{plan_of(df)}\n```\n")
    _ = ext

    header = (
        "# PLANS — formatted physical plans of the headline queries\n\n"
        "Generated by `python scripts/dump_plans.py` over a 20k-turn index\n"
        "(8 segments). Things to check: `PushedFilters: [In(term, …)]` on the\n"
        "postings scan, `ReadSchema` without unused columns, one\n"
        "`FlatMapGroupsInPandas` (the segment kernel; `FlatMapCoGroupsInPandas`\n"
        "when oversize fq ids or tombstones ride along) per query, shown as the\n"
        "kernel stage a search collects, and no docs scan outside the oversize\n"
        "fq's side and the tf-sort pre-cut's `TakeOrderedAndProject`.\n\n"
    )
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(header + "\n".join(sections))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
