#!/usr/bin/env python
"""spark-submit entry point for the extraction job.

Usage (sandbox)::

    spark-submit --py-files engine.zip jobs/extract.py \
        --fixture-sf 0.1 --warehouse /tmp/wh --run-id r1 \
        --n-parts 64 --engine sql --partitions-per-commit 16

    # or over an existing parquet/IceLite input table:
    spark-submit ... jobs/extract.py --input /path/docs.parquet ...

On a real cluster the input switches to an Iceberg catalog table scan and
the IceLite warehouse to Iceberg append snapshots — same job shape.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    from document_processor_spark import pipeline

    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet path with (doc_id, spans)")
    src.add_argument("--fixture-sf", type=float, help="generate fixture corpus at SF")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--n-parts", type=int, default=32)
    ap.add_argument("--engine", choices=sorted(pipeline.ENGINES), default="sql")
    ap.add_argument("--partitions-per-commit", type=int, default=None)
    ap.add_argument("--max-commits", type=int, default=None)
    ap.add_argument("--cores", type=int, default=None)
    ap.add_argument("--executors", type=int, default=None,
                    help="run on local-cluster[N,exec-cores,mem] — real "
                         "separate executor JVMs, the sandbox stand-in for "
                         "a multi-executor cluster submit")
    ap.add_argument("--exec-cores", type=int, default=4)
    ap.add_argument("--first-page", type=int, default=1,
                    help="first page to extract (1-based, inclusive — the "
                         "reference's first_page request param)")
    ap.add_argument("--last-page", type=int, default=None,
                    help="last page to extract (1-based, inclusive; "
                         "default: through the end)")
    ap.add_argument("--ocr-pipeline", choices=("hybrid", "fast", "full"),
                    default="hybrid",
                    help="converter chain (the reference's OcrPipeline "
                         "request param): hybrid = per-page fast->full "
                         "fallback; fast/full = single converter)")
    args = ap.parse_args(argv)

    from document_processor_spark import fixtures
    from document_processor_spark.job import run_extraction_job
    from document_processor_spark.session import build_spark

    spark = build_spark(app=f"extract-{args.run_id}", cores=args.cores,
                        executors=args.executors, exec_cores=args.exec_cores)
    if args.input:
        docs = spark.read.parquet(args.input)
    else:
        docs = fixtures.corpus_df(spark, args.fixture_sf,
                                  n_partitions=args.n_parts)
    summary = run_extraction_job(
        spark, docs, args.warehouse, args.run_id, n_parts=args.n_parts,
        engine=args.engine, partitions_per_commit=args.partitions_per_commit,
        max_commits=args.max_commits, first_page=args.first_page,
        last_page=args.last_page, ocr_pipeline=args.ocr_pipeline)
    print(json.dumps({
        "run_id": summary.run_id,
        "commits": len(summary.commits),
        "partitions_done": summary.partitions_done,
        "resumed_skipping": summary.skipped_partitions,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
