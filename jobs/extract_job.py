#!/usr/bin/env python3
"""Production extraction job — launched via spark-submit --py-files.

    spark-submit --py-files packages_sgml_spark.zip \
        jobs/extract_job.py --input <pages_parquet_or_table> \
        --output <sink_dir> --run-id run42 [--dialect html5] \
        [--repartition N] [--resume]

Reads the pages table (url, warc_ts, html, text, lang), extracts text
+ parse metrics with the packages_sgml_spark engine, writes parquet
sinks with per-partition lineage + metrics (north rule).  On a real
cluster, pass --repartition ~2-3x total cores; with --resume the job
anti-joins the existing sink and only processes new urls.
"""

import argparse
import sys
import time


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="run-%d" % int(time.time()))
    ap.add_argument("--dialect", default="html5")
    ap.add_argument("--repartition", default="auto",
                    help="N (url-hash shuffle to N partitions), "
                         "0 (keep source partitioning), or 'auto' "
                         "(spread only when under-partitioned)")
    ap.add_argument("--resume", action="store_true")
    args = ap.parse_args(argv)

    from pyspark import StorageLevel
    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName(
        "packages-sgml-spark-extract").getOrCreate()

    from packages_sgml_spark.spark.extract import extract
    from packages_sgml_spark.spark.checkpoint import (
        append_metrics, with_lineage, resume_filter)

    pages = spark.read.parquet(args.input)
    if args.resume:
        from packages_sgml_spark.spark.checkpoint import \
            read_parquet_or_none
        done = read_parquet_or_none(spark, args.output + "/text")
        if done is not None:
            pages = resume_filter(pages, done)
    rep = args.repartition
    if rep != "auto":
        rep = int(rep)
    ex = extract(pages, dialect=args.dialect, nodes=False,
                 repartition=rep)
    # materialized once: the text write and the metrics both read it,
    # and the metrics cover the rows this launch wrote, nothing else
    rows = with_lineage(ex, args.run_id).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY)
    cols = ["url", "url_hash", "text_extracted", "n_errors",
            "html_bytes", "status", "run_id", "partition_id"]
    rows.select(*cols).write.mode("append") \
        .parquet(args.output + "/text")
    n = append_metrics(spark, args.output + "/metrics", rows)
    print("extracted %d documents (run_id=%s)" % (n, args.run_id))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
