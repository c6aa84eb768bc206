"""spark-submit entry point: build (or resume) a full-text index.

Cluster usage (the north-rule deployment shape):

    cd repo && zip -r /tmp/intuition_spark.zip intuition_spark
    spark-submit --py-files /tmp/intuition_spark.zip \
        scripts/build_index_job.py \
        --input s3://bucket/transcripts --output s3://bucket/indexes/main \
        --analyzer standard --segments 4096 --segs-per-job 256 [--resume]

Locally it runs on local[N]. The build is `build_index`, so a rebuild over an
existing index drops its old segments and tombstones and commits a 'build'
snapshot. Emits one JSON line of per-stage throughput metrics (the
lineage/metrics requirement of B9), read from the stage record `build_index`
writes into stats.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet dir/file of transcripts")
    ap.add_argument("--output", required=True, help="index root directory")
    ap.add_argument("--analyzer", default="standard", choices=["standard", "standard_nostem", "ws"])
    ap.add_argument("--segments", type=int, default=16)
    ap.add_argument("--segs-per-job", type=int, default=16)
    ap.add_argument("--resume", action="store_true", help="skip segments marked done in manifest")
    args = ap.parse_args()

    from intuition_spark.index.builder import build_index
    from intuition_spark.session import get_spark

    spark = get_spark("build-index")
    t0 = time.time()
    paths = build_index(
        spark, spark.read.parquet(args.input), args.output,
        analyzer=args.analyzer, n_segments=args.segments,
        segs_per_job=args.segs_per_job, resume=args.resume,
    )
    total_s = round(time.time() - t0, 2)
    with open(paths.stats) as f:
        stats = json.load(f)
    stage_s = stats["stage_s"]
    print(json.dumps({
        "input": args.input,
        "output": args.output,
        "resume": args.resume,
        "n_turns": stats["N"],
        "docs_stage_s": stage_s["docs"],
        "postings_stage_s": stage_s["postings"],
        "dictionary_stage_s": stage_s["dictionary"],
        "total_s": total_s,
        "turns_per_sec": round(stats["N"] / total_s, 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
