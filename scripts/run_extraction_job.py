"""spark-submit entry point for the extraction pipeline.

    spark-submit --py-files dist/ocr_api_spark.zip \
        scripts/run_extraction_job.py \
        --pages <pages.parquet> --claims <claims.parquet> --out <dir> \
        [--buckets 64] [--salts 8] [--parts N] [--per-commit 16]

The job is resumable: re-submitting with the same --out skips buckets
already committed by a manifest in <out>/_snapshots.  ``--per-commit``
switches to chunked mode (run_extraction_chunked): one manifest commit
per bucket group, two groups in flight at once, so a mid-flight crash
loses at most the two in-flight groups' work — the right mode for very
long runs; see PROD.md.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--claims", default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--salts", type=int, default=8)
    ap.add_argument("--parts", type=int, default=None)
    ap.add_argument("--per-commit", type=int, default=None,
                    help="buckets per manifest commit (chunked resume mode)")
    args = ap.parse_args()

    # spark-submit owns master and conf: this sets only the app name.
    # The package arrives in the --py-files zip, so the workers keep
    # PySpark's own daemon (see PROD.md, Launch)
    spark = SparkSession.builder.appName("ocr_api_spark.extraction").getOrCreate()
    from ocr_api_spark.plans.pipeline import run_extraction, run_extraction_chunked

    if args.per_commit:
        stats = run_extraction_chunked(
            spark,
            args.pages,
            args.claims,
            args.out,
            n_buckets=args.buckets,
            buckets_per_commit=args.per_commit,
            n_salts=args.salts,
            repartition=args.parts,
        )
    else:
        stats = run_extraction(
            spark,
            args.pages,
            args.claims,
            args.out,
            n_buckets=args.buckets,
            n_salts=args.salts,
            repartition=args.parts,
        )
    print(json.dumps(stats))
    spark.stop()


if __name__ == "__main__":
    main()
