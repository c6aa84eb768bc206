"""Benchmark harness for the intuition_spark engine.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Drives the engine's public API from outside the package as a closed loop:
one client, ``local[<cores>]``, one operation at a time. Every query result
is checked against the pure-Python BM25 oracle (computed beforehand by
perfbench/oracle_job.py in its own process and cached under
perfbench/.cache). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the BENCHMARK.json
``end_to_end`` metrics (``--trace 0``) or ``per_layer`` metrics
(``--trace 1``). Details go to perfbench/out/<workload>-s<seed>-t<trace>.json.
See perfbench/README.md for the workloads and metrics.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = os.path.join(ROOT, "intuition_spark")
if __name__ == "__main__" and not (
    os.path.isdir(PKG) and os.path.exists(os.path.join(ROOT, "BENCHMARK.json"))
):
    sys.exit(f"perfbench: no engine package at {PKG} (or no BENCHMARK.json); nothing to run")
sys.path.insert(0, ROOT)

import pyarrow.parquet as pq  # noqa: E402
from pyspark import SparkContext  # noqa: E402

from intuition_spark.index import builder, incremental, snapshots  # noqa: E402
from intuition_spark.session import get_spark  # noqa: E402
from perfbench import checks  # noqa: E402
from perfbench import workloads as W  # noqa: E402
from perfbench.spans import Tracer  # noqa: E402

SETUP_REPS = 3  # engine opens per serve run; setup_s takes their median
WARMUP_TURNS = 200  # corpus prefix the set-up's warm-up build indexes
# the executed-path class each workload's queries must never take
# (engine.last_path); a result-cache hit counts as neither
FORBIDDEN_PATH = {"ingest": "distributed", "serve_narrow": "distributed", "serve_broad": "driver"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description="intuition_spark benchmark")
    p.add_argument("--workload", required=True, choices=W.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def source_hash() -> str:
    """Keys the oracle cache: the engine package plus the input generators."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, f) for f in ("workloads.py", "oracle_job.py")]
    for d, _, names in sorted(os.walk(PKG)):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def oracle_results(workload: str, seed: int, n_turns: int, env: dict) -> dict:
    """Expected results from the oracle process, cached by seed, corpus size
    and source hash; computing them counts in no metric."""
    cache = os.path.join(HERE, ".cache")
    os.makedirs(cache, exist_ok=True)
    path = os.path.join(cache, f"{workload}-s{seed}-n{n_turns}-{source_hash()}.json")
    if not os.path.exists(path):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "oracle_job.py"), "--workload", workload,
             "--seed", str(seed), "--out", path],
            check=True, env=env, timeout=600,
        )
    with open(path) as f:
        return json.load(f)


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under a directory."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return total, files


def proc_status_kb(field: str, pid: str = "self") -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(line.split()[1]) for line in f if line.startswith(field + ":"))


def reset_peak_rss() -> None:
    """Restart this process's VmHWM from its current RSS (Linux clear_refs)."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def path_class(path: str | None) -> str:
    if path == "result_cache":
        return "result_cache"
    if path is None:
        return "unknown"
    for c in ("empty", "driver"):
        if path.startswith(c):
            return c
    return "distributed"


class Run:
    """One benchmark process: Spark session, engine calls, checks, metrics."""

    def __init__(self, args, tracer: Tracer):
        self.args, self.tr = args, tracer
        self.work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-{os.getpid()}")
        self.ops: list[dict] = []  # one record per checked operation
        self.timings: dict[str, list[float]] = {}
        self.failures: list[str] = []
        self.pressure: list[dict] = []  # compaction_pressure gauges (traced runs)
        self.spark = None

    # ---- bookkeeping ---------------------------------------------------------
    def timed(self, name: str, fn, *a, **kw):
        t = time.perf_counter()
        with self.tr.span(name):
            out = fn(*a, **kw)
        self.timings.setdefault(name, []).append(time.perf_counter() - t)
        return out

    def start_spark(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.driver.memory": "1g",
            # C1 only: runs are short, and C2's background compiles on a few
            # cores made latencies drift through a run
            "spark.driver.extraJavaOptions":
                f"-Xms1g -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        cores = len(os.sched_getaffinity(0))
        self.spark = self.timed(
            "session.start", get_spark, "perfbench", master=f"local[{cores}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        # driver_rss_growth_mb counts from here: the Python driver, where
        # the engine keeps its driver-side caches, after session start
        self.rss_base_kb = proc_status_kb("VmRSS")
        reset_peak_rss()

    def stop_spark(self) -> int:
        """Stop Spark and its JVM, wait for it, return the JVM's peak RSS (KB)."""
        gw = SparkContext._gateway
        peak = proc_status_kb("VmHWM", str(gw.proc.pid)) if gw is not None else 0
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            try:
                gw.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        return peak

    # ---- engine calls --------------------------------------------------------
    def build(self, df, root: str, analyzer: str):
        """build_index untraced; the traced run calls its three stages in
        build_index's order instead, so each gets a span."""
        if not self.tr.enabled:
            return builder.build_index(self.spark, df, root, analyzer=analyzer)
        paths = builder.IndexPaths(root)
        os.makedirs(root, exist_ok=True)
        self.timed("builder.prepare_docs", builder.prepare_docs, self.spark, df, paths, analyzer=analyzer)
        self.timed("builder.build_postings", builder.build_postings, self.spark, paths)
        self.timed("builder.build_dictionary", builder.build_dictionary, self.spark, paths)
        with open(paths.stats) as f:
            snapshots.append_snapshot(root, "build", json.load(f))
        return paths

    def warm_up(self, corpus_path: str):
        """Set-up: the process's first Spark work is a build, which pays the
        JVM's and the Python workers' start-up, so the timed bulk build runs
        warm. serve_narrow builds the ws index it serves; the other
        workloads build a small standard index and drop it."""
        if self.args.workload == "serve_narrow":
            df = self.spark.read.parquet(corpus_path)
            return builder.build_index(self.spark, df, os.path.join(self.work, "ix_ws"), analyzer="ws")
        path = os.path.join(self.work, "warm.parquet")
        pq.write_table(self.corpus.slice(0, WARMUP_TURNS), path)
        builder.build_index(self.spark, self.spark.read.parquet(path),
                            os.path.join(self.work, "ix_warm"), analyzer="standard")
        return None

    def bulk_build(self, corpus_path: str):
        """The timed bulk build: the standard index over the corpus."""
        df = self.spark.read.parquet(corpus_path)
        paths = self.timed("builder.build_index", self.build, df, os.path.join(self.work, "ix_standard"), "standard")
        self.build_s = self.timings["builder.build_index"][0]
        self.build_turns = self.write_turns = self.corpus.num_rows
        self.index_bytes = {part: dir_bytes(getattr(paths, part)) for part in ("docs", "postings", "dictionary")}
        return paths

    def query(self, eng, q, expected=None, live=None, phase: str = "timed") -> dict:
        """One closed-loop query: search() then collect(), then the check."""
        rec = {"qid": q.query_id, "phase": phase, "ok": False}
        t_op = time.perf_counter()
        sc = self.spark.sparkContext
        group = f"q{len(self.ops)}"
        if self.tr.enabled:
            t = time.perf_counter()
            sc.setJobGroup(group, q.query_id)
            self.tr.bookkeeping_s += time.perf_counter() - t
        try:
            with self.tr.span("query", request=group) as span:
                t0 = time.perf_counter()
                with self.tr.span("engine.search"):
                    df = eng.search(q)
                t1 = time.perf_counter()
                rec["path"] = eng.last_path
                with self.tr.span("engine.collect"):
                    rows = df.collect()
                t2 = time.perf_counter()
            rec.update(search_s=t1 - t0, collect_s=t2 - t1, lat_s=t2 - t0)
            if span is not None:
                rec["coverage"] = sum(
                    self.tr.duration(s) for s in self.tr.spans[span["id"] + 1 :]
                    if s["parent"] == span["id"]
                ) / self.tr.duration(span)
            got = [(r["doc"], r["score"]) for r in rows]
            if live is not None:
                why = checks.compare_live(got, live)
            else:
                why = checks.compare_ranked(got, expected)
            if why is None and path_class(rec["path"]) == FORBIDDEN_PATH.get(self.args.workload):
                why = f"executed path {rec['path']} on {self.args.workload}"
            rec["ok"] = why is None
            if why:
                self.failures.append(f"{q.query_id} [{rec['path']}]: {why}")
        except Exception:  # an engine error is a failed operation; keep measuring
            self.failures.append(f"{q.query_id}: {traceback.format_exc(limit=3)}")
        if self.tr.enabled:
            t = time.perf_counter()
            rec["jobs"], rec["tasks"] = self.job_counts(group)
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.tr.bookkeeping_s += time.perf_counter() - t
        rec["op_s"] = time.perf_counter() - t_op
        self.ops.append(rec)
        return rec

    def job_counts(self, group: str) -> tuple[int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = st.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return len(jobs), tasks

    def query_loop(self, eng, queries: list, expected: dict) -> None:
        """Closed loop over the whole stream: a fixed workload per run."""
        for q in queries:
            self.query(eng, q, expected[q.query_id])

    def open_engine(self, dirs: dict):
        # imported late: its size bounds read the environment main() sets
        from intuition_spark.query.engine import SearchEngine

        return self.timed("engine.open", SearchEngine, self.spark, dirs)

    # ---- workloads -----------------------------------------------------------
    def load_corpus(self) -> str:
        self.corpus = W.corpus(self.args.seed)
        self.text_bytes = W.text_bytes(self.corpus)
        path = os.path.join(self.work, "corpus.parquet")
        pq.write_table(self.corpus, path)
        return path

    def serve(self, exp: dict) -> None:
        Q = W.query_from_dict
        corpus_path = self.timed("corpus.load", self.load_corpus)
        ws = self.timed("warmup.build", self.warm_up, corpus_path)
        # the index is an input, built outside set-up and timed on its own
        std = self.bulk_build(corpus_path)
        dirs = {"standard": std.root} | ({"ws": ws.root} if ws else {})
        for _ in range(SETUP_REPS):
            eng = self.open_engine(dirs)
        t = time.perf_counter()
        for q in map(Q, exp["warmup"]):
            self.query(eng, q, exp["warmup_expected"][q.query_id], phase="warmup")
        self.timings["warmup.queries"] = [time.perf_counter() - t]
        self.setup_s = (self.timings["session.start"][0] + self.timings["corpus.load"][0]
                        + self.timings["warmup.build"][0] + checks.median(self.timings["engine.open"])
                        + self.timings["warmup.queries"][0])
        self.query_loop(eng, [Q(d) for d in exp["queries"]], exp["queries_expected"])
        self.write_s = self.build_s
        if self.tr.enabled:
            self.pressure = [incremental.compaction_pressure(self.spark, std)]

    def ingest(self, exp: dict) -> None:
        Q = W.query_from_dict

        def load():
            path = self.load_corpus()
            self.deltas = W.deltas(self.args.seed, self.corpus)
            for c, d in enumerate(self.deltas):
                pq.write_table(d.table, os.path.join(self.work, f"delta{c}.parquet"))
            return path

        corpus_path = self.timed("corpus.load", load)
        self.timed("warmup.build", self.warm_up, corpus_path)
        self.setup_s = sum(self.timings[k][0] for k in ("session.start", "corpus.load", "warmup.build"))
        std = self.bulk_build(corpus_path)
        eng = self.open_engine({"standard": std.root})
        for c, checks in enumerate(exp["commits"]):
            delta = self.spark.read.parquet(os.path.join(self.work, f"delta{c}.parquet"))
            self.timed("incremental.merge_delta", incremental.merge_delta, self.spark, std, delta)
            if self.tr.enabled:
                self.pressure.append(incremental.compaction_pressure(self.spark, std))
            self.timed("engine.refresh", eng.refresh)
            for i, chk in enumerate(checks):
                rec = self.query(eng, Q(chk["query"]), live=chk["live"], phase=f"commit{c}")
                if i == 0 and "lat_s" in rec:
                    self.timings.setdefault("first_query_after_refresh", []).append(rec["lat_s"])
        self.timed("incremental.compact", incremental.compact, self.spark, std)
        self.timed("engine.refresh", eng.refresh)
        # post-compact reads: the marker and probe checks, then the stream
        for q in map(Q, exp["queries"]):
            self.query(eng, q, exp["queries_expected"][q.query_id])
        n_delta = sum(d.table.num_rows for d in self.deltas)
        n_live = self.corpus.num_rows + n_delta - sum(len(d.superseded) for d in self.deltas)
        self.write_s = self.build_s + sum(self.timings["incremental.merge_delta"]) + sum(
            self.timings["incremental.compact"])
        self.write_turns += n_delta + n_live

    # ---- metrics -------------------------------------------------------------
    def end_to_end(self, exp: dict, growth_kb: int) -> dict:
        timed = [r for r in self.ops if r["phase"] != "warmup" and "lat_s" in r]
        lat_ms = [r["lat_s"] * 1000 for r in timed]
        return {
            "setup_s": self.setup_s,
            "build_turns_per_s": self.build_turns / self.build_s,
            "write_turns_per_s": self.write_turns / self.write_s,
            "query_p50_ms": checks.median(lat_ms),
            # query-phase wall time of a closed loop: the operations back to back
            "qps": sum(r["ok"] for r in timed) / max(sum(r["op_s"] for r in timed), 1e-9),
            "driver_rss_growth_mb": growth_kb / 1024,
            "index_bytes_per_text_byte": sum(b for b, _ in self.index_bytes.values()) / self.text_bytes,
        }

    def per_layer(self, exp: dict, growth_kb: int) -> dict:
        med = checks.median
        t = self.timings
        timed = [r for r in self.ops if r["phase"] != "warmup" and "lat_s" in r]
        by = {c: [r for r in timed if path_class(r.get("path")) == c]
              for c in ("driver", "distributed", "result_cache", "empty")}
        n = max(1, len(timed))
        out = {
            "session.start_s": t["session.start"][0],
            "builder.prepare_docs_s": sum(t.get("builder.prepare_docs", [0.0])),
            "builder.build_postings_s": sum(t.get("builder.build_postings", [0.0])),
            "builder.build_dictionary_s": sum(t.get("builder.build_dictionary", [0.0])),
            "builder.docs_bytes": self.index_bytes["docs"][0],
            "builder.postings_bytes": self.index_bytes["postings"][0],
            "builder.dictionary_bytes": self.index_bytes["dictionary"][0],
            "builder.postings_files": self.index_bytes["postings"][1],
            "incremental.merge_delta_s": med(t.get("incremental.merge_delta", [])),
            "incremental.compact_s": sum(t.get("incremental.compact", [0.0])),
            "incremental.tombstones": max((p["n_tombstones"] for p in self.pressure), default=0),
            "incremental.segments": max((p["n_segments"] for p in self.pressure), default=0),
            "engine.open_s": med(t["engine.open"]),
            "engine.refresh_s": med(t.get("engine.refresh", [])),
            "engine.first_query_after_refresh_ms": 1000 * med(t.get("first_query_after_refresh", [])),
            "engine.result_cache_hit_ratio": len(by["result_cache"]) / n,
            "stream.repeat_share": self.repeat_share(timed, exp),
            "stream.touched_postings": exp["touched_postings"],
            "trace.query_p50_ms": 1000 * med([r["lat_s"] for r in timed]),
            "trace.overhead_ms_per_query": 1000 * self.tr.bookkeeping_s / max(1, len(self.ops)),
            "trace.span_coverage_min": min((r["coverage"] for r in timed), default=0.0),
        }
        for c in ("driver", "distributed"):
            rs = by[c]
            out[f"engine.search_ms.{c}"] = 1000 * med([r["search_s"] for r in rs])
            out[f"engine.collect_ms.{c}"] = 1000 * med([r["collect_s"] for r in rs])
            out[f"engine.spark_jobs_per_query.{c}"] = sum(r["jobs"] for r in rs) / max(1, len(rs))
            out[f"engine.spark_tasks_per_query.{c}"] = sum(r["tasks"] for r in rs) / max(1, len(rs))
        for c in ("driver", "distributed", "empty"):
            out[f"engine.path_share.{c}"] = len(by[c]) / n
        return out

    @staticmethod
    def repeat_share(timed: list[dict], exp: dict) -> float:
        """Share of timed queries identical to an earlier one in the run."""
        spec = {d["query_id"]: d for d in exp["queries"]}
        keys = [W.query_key(W.query_from_dict(spec[r["qid"]])) for r in timed if r["qid"] in spec]
        return (len(keys) - len(set(keys))) / max(1, len(keys))

    def failed(self) -> int:
        return sum(not r["ok"] for r in self.ops)

    def detail(self, metrics: dict) -> dict:
        timed = [r for r in self.ops if r["phase"] != "warmup" and "lat_s" in r]
        lat_ms = [r["lat_s"] * 1000 for r in timed]
        paths: dict[str, list[float]] = {}
        for r in timed:
            paths.setdefault(r["path"], []).append(r["lat_s"] * 1000)
        return {
            "args": vars(self.args),
            "metrics": metrics,
            "queries_timed": len(timed),
            "query_p90_ms": checks.percentile(lat_ms, 90),
            "query_tail_p_ms": checks.tail(lat_ms),
            "failed_ratio": self.failed() / max(1, len(self.ops)),
            "failures": self.failures,
            "paths": {p: {"n": len(v), "p50_ms": checks.median(v)} for p, v in paths.items()},
            "ops": [{k: r.get(k) for k in ("qid", "phase", "path", "ok", "lat_s")} for r in self.ops],
            "timings_s": self.timings,
            "rss_mb": getattr(self, "rss_mb", None),
            "host": {"nproc": len(os.sched_getaffinity(0))},
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    env = dict(os.environ)
    # Spark's Python workers import intuition_spark by path: put the repo
    # root on their PYTHONPATH, whatever directory the harness starts from
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env.update({k: str(v) for k, v in W.BOUNDS.items()})
    env["TMPDIR"] = os.path.join(HERE, ".work", "tmp")
    os.makedirs(env["TMPDIR"], exist_ok=True)
    t = time.perf_counter()
    exp = oracle_results(args.workload, args.seed, W.N_TURNS, env)
    oracle_s = time.perf_counter() - t
    os.environ.update(env)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = spec["per_layer" if args.trace else "end_to_end"]
    run = Run(args, Tracer(bool(args.trace)))
    os.makedirs(run.work, exist_ok=True)
    try:
        run.start_spark()
        getattr(run, "ingest" if args.workload == "ingest" else "serve")(exp)
        growth_kb = proc_status_kb("VmHWM") - run.rss_base_kb
        t = time.perf_counter()
        jvm_kb = run.stop_spark()
        run.timings["session.stop"] = [time.perf_counter() - t]
        run.rss_mb = {"driver_growth": growth_kb / 1024, "driver_base": run.rss_base_kb / 1024,
                      "jvm_peak": jvm_kb / 1024}
        values = (run.per_layer if args.trace else run.end_to_end)(exp, growth_kb)
    finally:
        if SparkContext._gateway is not None:  # the run failed before its own stop
            run.stop_spark()
        shutil.rmtree(run.work, ignore_errors=True)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}")
    detail = run.detail(metrics)
    detail["process_s"] = time.perf_counter() - T_PROCESS
    detail["oracle_s"] = oracle_s
    with open(stem + ".json", "w") as f:
        json.dump(detail, f, indent=1)
    if args.trace:
        run.tr.write(stem + ".spans.json")
    for line in run.failures:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    attempted = len(run.ops)
    print(json.dumps({
        "correct": run.failed() == 0 and attempted > 0,
        "attempted": max(1, attempted),
        "failed": run.failed(),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
