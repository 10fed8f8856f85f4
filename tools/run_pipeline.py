"""spark-submit entry point for the dedup pipeline.

Production invocation (north rule):

    zip -r dedup.zip dedup/
    spark-submit --py-files dedup.zip tools/run_pipeline.py \\
        --input  <transcripts parquet/iceberg path> \\
        --run-dir <checkpoint dir> --output <clusters path> \\
        [--strict] [--keep-policy oldest] [--min-size N] [--no-span] ...

On a cluster, spark-submit supplies master/executors; this script only
declares the job. Local smoke: PYTHONPATH=. python tools/run_pipeline.py ...
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="near-duplicate transcript dedup pipeline")
    p.add_argument("--input", required=True, help="transcripts table path (parquet dir)")
    p.add_argument("--output", required=True, help="clusters output path")
    p.add_argument("--run-dir", default=None, help="checkpoint/lineage dir (enables resume)")
    p.add_argument("--strict", action="store_true", help="full-content hash exact tier")
    p.add_argument("--keep-policy", default="oldest",
                   choices=["oldest", "newest", "longest", "first_id"])
    p.add_argument("--min-size", default="1",
                   help="int chars or byte-size literal ('100kb', '2MiB')")
    p.add_argument("--include-tools", default="", help="comma-separated")
    p.add_argument("--exclude-tools", default="", help="comma-separated")
    p.add_argument("--shingle-k", type=int, default=9)
    p.add_argument("--num-perm", type=int, default=128)
    p.add_argument("--lsh-bands", type=int, default=32)
    p.add_argument("--lsh-rows", type=int, default=4)
    p.add_argument("--jaccard-threshold", type=float, default=0.7)
    p.add_argument("--min-span-len", type=int, default=4096)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--no-simhash", action="store_true")
    p.add_argument("--no-span", action="store_true")
    p.add_argument("--apply-delete", action="store_true",
                   help="also write the deduplicated turns table (<output>_turns)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    from dedup.config import DedupConfig
    from dedup.keep import apply_delete_rewrite, losers
    from dedup.pipeline import DedupPipeline

    # on a cluster the session comes from spark-submit; locally fall back
    spark = SparkSession.builder.appName("dedup-pipeline").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # runtime-settable scale posture (cluster-level confs come from submit)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    cfg = DedupConfig(
        strict=args.strict,
        min_size=args.min_size,
        include_tools=tuple(t for t in args.include_tools.split(",") if t),
        exclude_tools=tuple(t for t in args.exclude_tools.split(",") if t),
        shingle_k=args.shingle_k,
        num_perm=args.num_perm,
        lsh_bands=args.lsh_bands,
        lsh_rows=args.lsh_rows,
        jaccard_threshold=args.jaccard_threshold,
        min_span_len=args.min_span_len,
        seed=args.seed,
    )
    turns = spark.read.parquet(args.input)
    pipe = DedupPipeline(
        spark,
        cfg,
        run_dir=args.run_dir,
        enable_simhash=not args.no_simhash,
        enable_span=not args.no_span,
        keep_policy=args.keep_policy,
        log=lambda m: print(f"[dedup] {m}", file=sys.stderr),
    )
    result = pipe.run(turns)
    result.clusters.write.mode("overwrite").parquet(args.output)
    if args.apply_delete:
        kept = apply_delete_rewrite(turns, losers(result.clusters))
        kept.write.mode("overwrite").parquet(args.output + "_turns")
    printable = {
        k: v for k, v in result.metrics.items() if isinstance(v, (int, str, list, dict))
    }
    print(json.dumps(printable, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
