#!/usr/bin/env python3
"""spark-submit entry point for the KG-construction pipeline.

Usage (north-rule launch shape):

    spark-submit --py-files phonlp_spark.zip jobs/run_kg_job.py \
        --input  <documents parquet dir (interleaved spans schema)> \
        --output <out dir>  [--buckets 256] [--alias-names <txt file>] \
        [--salt-partitions N] [--no-resume] [--dedup] \
        [--checkpoint <weights dir>]

The job is resumable: buckets recorded 'done' in <output>/manifest for
the same input fingerprint AND bucket layout are skipped; interrupted
buckets are recomputed and overwritten idempotently.  Prints one JSON
line of run stats (lineage: processed/skipped buckets, docs, sentences,
triples, wall_ms).

--checkpoint points executors at trained model weights
(kernel/checkpoint.py format, or a reference phonlp.pt where torch is
installed); ship the directory with --files and it is loaded once per
executor worker.  Without it, the seeded sandbox weights run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow running straight from a repo checkout (spark-submit ships the
# package via --py-files in production)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--buckets", type=int, default=256)
    p.add_argument("--alias-names", default=None,
                   help="one canonical entity name per line; default: "
                        "FIXTURES seeded names")
    p.add_argument("--salt-partitions", type=int, default=None)
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--dedup", action="store_true",
                   help="exact-dedup documents (min doc_id per span-"
                        "sequence digest) before the annotation kernel")
    p.add_argument("--checkpoint", default=None,
                   help="model weights dir (weights.npz + meta.json); "
                        "propagated to executors via "
                        "spark.executorEnv.PHONLP_SPARK_CHECKPOINT")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from phonlp_spark.pipeline.ingest import _seeded_names
    from phonlp_spark.pipeline.linking import build_alias_dict
    from phonlp_spark.pipeline.materialize import run_kg
    from phonlp_spark.pipeline.session import get_spark

    extra = {}
    if args.checkpoint:
        extra["spark.executorEnv.PHONLP_SPARK_CHECKPOINT"] = args.checkpoint
        os.environ["PHONLP_SPARK_CHECKPOINT"] = args.checkpoint  # local mode
    spark = get_spark(master=args.master, app_name="phonlp_spark_kg",
                      extra=extra)
    spark.sparkContext.setLogLevel("WARN")
    docs = spark.read.parquet(args.input)

    if args.alias_names:
        with open(args.alias_names) as f:
            names = [ln.strip() for ln in f if ln.strip()]
    else:
        names = _seeded_names(40, 43)
    alias = build_alias_dict(spark, names)

    stats = run_kg(
        spark, docs, alias, args.output,
        n_buckets=args.buckets,
        salt_partitions=args.salt_partitions,
        resume=not args.no_resume,
        dedup=args.dedup,
    )
    print(json.dumps(stats))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
