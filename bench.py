"""Benchmark harness — prints ONE JSON line about the run it just made.

Measures, at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]:

* the gate queries over the driver tables (per-query seconds), and
* the full-text engine itself on the synthetic transcript corpus of
  $SPARK_GRAFT_BENCH_TURNS turns: index-build turns/sec + top-k query latency
  p50/p95 over the reference query set.

`value` is the wall time of both. `host` is a constant-work probe
(scripts/host_probe.py) taken before and after, so a throttled run is
self-identifying.

`--scaling` instead runs the same index build over the same corpus at
local[1] and local[4] and reports throughput at both plus scaling efficiency
(= (thr4/thr1)/4) — the in-process stand-in for N vs 4N executors.

The repo benchmark with per-layer spans and bounds is perfbench/run.py.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# 400k turns: at 100k the ~15s of fixed stage cost (session, scan planning,
# parquet commit) dominates and the build number under-reads the engine by
# ~3x (BENCH_r01 8.4k turns/s vs 24-27k measured at 1.6M+ turns); 400k puts
# per-core compute in charge while keeping the whole bench under ~3 min
BENCH_TURNS = int(os.environ.get("SPARK_GRAFT_BENCH_TURNS", "400000"))

# N=1 vs 4N=4 cores: the north rule's two cluster sizes, on one host
SCALING_CORES = (1, 4)

WORKDIR = "/tmp/intuition_spark_bench"


def _host_probe() -> dict[str, float]:
    """Mean per-process seconds of a constant-work loop at width 1 and at
    the host's core count (scripts/host_probe.py)."""
    from scripts.host_probe import probe

    return probe((1, min(32, os.cpu_count() or 8)))


def _quantile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    i = min(len(xs) - 1, int(round(q * (len(xs) - 1))))
    return xs[i]


def run_engine_bench(spark) -> dict:
    from intuition_spark.corpus import reference_queries, transcripts_path
    from intuition_spark.index.builder import build_index
    from intuition_spark.query.engine import SearchEngine

    df = spark.read.parquet(transcripts_path(BENCH_TURNS))
    n_turns = df.count()

    # Untimed warm-up through the same build path (small slice, all cores):
    # the first mapInArrow job in a session pays python-worker fork + numpy/
    # pandas import per worker and JVM JIT of the codegen'd stages — measured
    # ~60-70 s at 400k turns (97.5 s cold vs 33.1 s after a 13 s warm-up
    # build). That is session boot cost, not engine throughput.
    ix_warm = os.path.join(WORKDIR, "ix_warmup")
    shutil.rmtree(ix_warm, ignore_errors=True)
    build_index(spark, df.limit(20000).repartition(32), ix_warm,
                analyzer="standard", n_segments=16)
    shutil.rmtree(ix_warm, ignore_errors=True)

    ix_dir = os.path.join(WORKDIR, "ix_std")
    shutil.rmtree(ix_dir, ignore_errors=True)
    t0 = time.time()
    build_index(spark, df, ix_dir, analyzer="standard", n_segments=16)
    build_s = time.time() - t0

    # real dual-field story (SolrItem.java:32-33): a second ws-analyzed index
    # serves wildcard/regex/fuzzy, exactly like the reference's text_ws field
    ix_ws = os.path.join(WORKDIR, "ix_ws")
    shutil.rmtree(ix_ws, ignore_errors=True)
    build_index(spark, df, ix_ws, analyzer="ws", n_segments=16)

    eng = SearchEngine(spark, {"standard": ix_dir, "ws": ix_ws})
    lat = []
    for q in reference_queries(k=10):
        t0 = time.time()
        eng.search(q).collect()
        lat.append(time.time() - t0)
    return {
        "build_turns_per_sec": round(n_turns / build_s, 1),
        "n_turns": n_turns,
        "query_p50_sec": round(_quantile(lat, 0.50), 3),
        "query_p95_sec": round(_quantile(lat, 0.95), 3),
    }


def run_gate_bench(spark, sf_dir: str) -> dict[str, float]:
    """Per-entry seconds of the gated queries; the EXTRA twins run after
    them, untimed per entry but inside the bench's wall. A warm-up pass (one
    cheap scan per driver table + one gated entry, untimed) runs first so the
    first timed entry doesn't absorb ~6 s of session/scan-planning cost
    (BENCH_r02's fts_dictionary artifact)."""
    import __spark_entry__ as entrymod
    from intuition_spark.driver_engine import get_documents_engine, get_time_travel_engine
    from intuition_spark.driver_gate import EXTRA_QUERIES
    from intuition_spark.driver_gate_ext import _kmer_index

    gated = entrymod.queries()
    for t in ("documents", "embeddings", "events", "orders"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            spark.read.parquet(p).limit(1).collect()
    first = next(iter(gated))
    gated[first](spark, sf_dir).collect()  # untimed warm-up run
    # build-once indexes (mtime-cached under /tmp) are server-boot cost, not
    # query cost: the gate engine index, the persisted k-mer postings table
    # and the time-travel index (build + delta commit) are built here so the
    # timed entries measure their queries
    get_documents_engine(spark, sf_dir)
    _kmer_index(spark, sf_dir)
    get_time_travel_engine(spark, sf_dir)

    out: dict[str, float] = {}
    for name, fn in gated.items():
        t0 = time.time()
        fn(spark, sf_dir).collect()
        out[name] = round(time.time() - t0, 3)
    for fn in EXTRA_QUERIES.values():
        fn(spark, sf_dir).collect()
    return out


def run_scaling() -> dict:
    """The same build job over the same input at N and 4N local cores.

    In-process and not CPU-confined: both legs share one JVM, and local[N]
    bounds task slots, not the cores the driver and Python workers use.
    """
    from intuition_spark.corpus import transcripts_path
    from intuition_spark.index.builder import build_index
    from intuition_spark.session import get_spark

    src = transcripts_path(BENCH_TURNS)
    n_lo, n_hi = SCALING_CORES
    results = {"turns": BENCH_TURNS, "cores": [n_lo, n_hi]}
    for cores in (n_lo, n_hi):
        spark = get_spark(f"bench-scale-{cores}", master=f"local[{cores}]",
                          shuffle_partitions=cores * 2)
        try:
            df = spark.read.parquet(src)
            n = df.count()
            ix = os.path.join(WORKDIR, f"ix_scale_{cores}")
            shutil.rmtree(ix, ignore_errors=True)
            t0 = time.time()
            build_index(spark, df, ix, analyzer="standard", n_segments=128,
                        segs_per_job=128)
            dt = time.time() - t0
            results[f"thr_{cores}"] = round(n / dt, 1)
            results[f"wall_{cores}"] = round(dt, 1)
        finally:
            spark.stop()
    results["efficiency_N_to_4N"] = round(
        results[f"thr_{n_hi}"] / results[f"thr_{n_lo}"] / (n_hi / n_lo), 3
    )
    return results


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true",
                    help="run the local[1] vs local[4] build scaling pair instead")
    args = ap.parse_args()
    os.makedirs(WORKDIR, exist_ok=True)

    if args.scaling:
        host_pre = _host_probe()
        res = run_scaling()
        res["host"] = {"pre": host_pre, "post": _host_probe()}
        print(json.dumps({"scaling": res}))
        return

    from intuition_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    host_pre = _host_probe()
    spark = get_spark("bench", master=f"local[{cpus}]")
    t_all = time.time()
    gate_times = run_gate_bench(spark, sf_dir)
    engine = run_engine_bench(spark)
    total = round(time.time() - t_all, 3)
    host_post = _host_probe()
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    line = {
        "metric": "gate+engine wall sec",
        "value": total,
        "unit": "sec",
        "queries": {k: round(v, 2) for k, v in gate_times.items()},
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "engine": engine,
        "host": {"pre": host_pre, "post": host_post},
    }
    print(json.dumps(line, separators=(",", ":")))
    spark.stop()


if __name__ == "__main__":
    main()
