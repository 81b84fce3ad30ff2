#!/usr/bin/env python
"""spark-submit entry point for the extraction pipeline (north_rule:
``spark-submit --py-files`` launch on a multi-executor cluster).

Package and launch::

    python package_pyfiles.py                       # -> dist/ai_pdf_ocr_spark.zip
    spark-submit --master <cluster> \\
        --py-files dist/ai_pdf_ocr_spark.zip \\
        submit_job.py --input /data/documents --output /data/out \\
        --run-id nightly-01 --partitions 4096

The job is checkpointed and resumable: rerunning with the same
``--run-id`` and ``--output`` skips every bin with a committed lineage
row (engine/checkpoint.py).  The master, executor count, and memory
come from spark-submit — the job never hardcodes a master, so the same
invocation runs on local[N], YARN, or k8s.

``--generate N`` synthesizes the deterministic interleaved corpus on
the executors instead of reading ``--input`` (demo / bench runs).

``--stream-input DIR`` switches to the Structured Streaming ingest
mode (engine/streaming.py): drain every file the stream checkpoint has
not yet seen from DIR (availableNow), then exit — cron it for
continuous file-arrival extraction with exactly-once file tracking.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group()
    src.add_argument("--input",
                     help="parquet path of documents(doc_id, spans)")
    src.add_argument("--generate", type=int, default=0,
                     help="synthesize N docs on the executors instead of "
                          "reading --input")
    src.add_argument("--stream-input",
                     help="streaming mode: drain new files from this "
                          "directory (availableNow) instead of a batch "
                          "--input read")
    p.add_argument("--input-format", choices=("parquet", "jsonl"),
                   default="parquet",
                   help="--input source format (default parquet; jsonl "
                        "reads line-delimited JSON with the fixed "
                        "documents schema, no inference pass)")
    p.add_argument("--output", required=True,
                   help="table-store root (documents_extracted/ + "
                        "checkpoint/ land here)")
    p.add_argument("--run-id", required=True,
                   help="resume key: reruns with the same run-id skip "
                        "committed bins")
    p.add_argument("--partitions", type=int, default=0,
                   help="extraction bins (default: 2x defaultParallelism)")
    p.add_argument("--buckets", type=int, default=4096,
                   help="salt buckets for the weight profile")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not args.input and not args.generate and not args.stream_input:
        print("error: one of --input / --generate / --stream-input is "
              "required", file=sys.stderr)
        return 2

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("ai-pdf-ocr-spark-extract") \
        .getOrCreate()
    # runtime-settable scale configs (cluster-level ones — executor
    # memory, shuffle service — belong on the spark-submit line)
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.sparkContext.setLogLevel("WARN")

    from ai_pdf_ocr_spark.engine.checkpoint import run_extraction
    from ai_pdf_ocr_spark.engine.io import TableStore

    p = args.partitions or 2 * spark.sparkContext.defaultParallelism
    store = TableStore(spark, args.output)
    if args.stream_input:
        from ai_pdf_ocr_spark.engine.streaming import stream_extract
        summary = stream_extract(spark, args.stream_input, store,
                                 args.run_id, p, buckets=args.buckets)
        print(json.dumps({"run_id": args.run_id, **summary}))
        spark.stop()
        return 0

    if args.generate:
        from ai_pdf_ocr_spark.flagship import synthetic_documents_distributed
        documents = synthetic_documents_distributed(
            spark, args.generate, heavy_tail_frac=0.02)
    else:
        from ai_pdf_ocr_spark.engine.sources import read_documents
        documents = read_documents(spark, args.input, args.input_format)

    summary = run_extraction(spark, documents, store, args.run_id, p,
                             buckets=args.buckets)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
