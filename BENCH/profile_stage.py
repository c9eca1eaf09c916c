"""Isolate which stage anti-scales: extract-only vs full pipeline.

Usage: spark-submit --master local[N] BENCH/profile_stage.py \
           --input PATH --stage read|extract|write

``extract`` is the whole extraction kernel, field rules included
(``run_pipeline`` without reviews); ``write`` adds the job's table
commit (``with_block_stats`` + ``partition_metrics``, as
``jobs/run_extract.py`` runs it).
"""
from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--stage", default="extract",
                    choices=["read", "extract", "write"])
    ap.add_argument("--out", default="/tmp/profile_out")
    ap.add_argument("--salt", type=int, default=16)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    sys.path.insert(0, "/root/repo")
    from textract_demo_spark.engine.metrics import (partition_metrics,
                                                    with_block_stats)
    from textract_demo_spark.engine.pipeline import run_pipeline
    from textract_demo_spark.engine.tables import IcebergLike, with_part_key

    spark = SparkSession.builder.appName("profile").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    df = spark.read.parquet(args.input)

    t0 = time.time()
    if args.stage == "read":
        n = df.count()
    elif args.stage == "extract":
        n = run_pipeline(df, reviews=None, salt=args.salt).count()
    else:
        import shutil
        shutil.rmtree(args.out, ignore_errors=True)
        # the job's write: block stats ride the staged write, and
        # the metrics aggregate reads only those columns
        results = with_block_stats(
            run_pipeline(df, reviews=None, salt=args.salt))
        results = with_part_key(results, 64)
        table = IcebergLike(args.out)
        snap = table.write(results, metrics_fn=partition_metrics,
                           input_fingerprint=args.input)
        n = len(snap["newly_committed"])
    wall = time.time() - t0
    print(json.dumps({"stage": args.stage, "n": n,
                      "wall_sec": round(wall, 2)}))


if __name__ == "__main__":
    main()
