#!/usr/bin/env python3
"""End-to-end crawl extraction job — the north-star pipeline as one
spark-submit launch:

    spark-submit --py-files packages_sgml_spark.zip \
        jobs/crawl_job.py --input <warc_dir_or_glob> \
        --output <sink_dir> [--run-id run42] [--dialect html5] \
        [--wet] [--statuses 200]

WARC archives in -> pages shape (WET-style UTF-8 normalization) ->
text extraction with parse-error metrics -> parquet text sink +
per-partition metrics sidecar [+ WET archives].  Resume is two-level
and always on:

- file level: archives recorded in <output>/archives (appended only
  AFTER the text write commits) are pruned from the next run's input
  at plan time — a killed run re-reads only its own unfinished
  archives;
- url level: an anti-join against the text sink makes the re-read
  exact — documents already extracted by the killed run are never
  appended twice.

At crawl scale (~10^5 archives of ~1 GB) the archive list and its
manifest are driver-side metadata, read on the driver: the input is
listed once per launch (warc.list_archives, a fixed number of py4j
calls, no Spark job), the manifest is read back with pyarrow
(checkpoint.read_rows), and the pruned listing plans the scan as it
stands — on a fresh output the first Spark job of a launch is the
parse writing the text sink.  The url-level done-set stays
distributed (key-partitioned anti-join, no broadcast of 10^12 urls).
"""

import argparse
import json
import sys
import time


def run(spark, args):
    """Body, session-injected so tests and notebooks can drive it;
    returns the summary dict that main() prints."""
    from pyspark.sql import functions as F

    from packages_sgml_spark.spark.warc import (warc_pages, warc_todo,
                                                write_wet_pages)
    from packages_sgml_spark.spark.extract import extract
    from packages_sgml_spark.spark.checkpoint import (
        append_rows, read_rows, with_lineage, partition_metrics,
        resume_filter)

    out = args.output.rstrip("/")
    archives_path = out + "/archives"
    text_path = out + "/text"

    def read_or_none(path):
        from packages_sgml_spark.spark.checkpoint import \
            read_parquet_or_none
        return read_parquet_or_none(spark, path)

    # file-level resume on the driver: the one listing of the input,
    # pruned by the archive manifest, plans the scan below as it
    # stands — neither runs a Spark job
    done = (r[0] for r in read_rows(spark, archives_path, ["warc_file"]))
    todo = warc_todo(spark, args.input, done)
    summary = {"run_id": args.run_id, "archives": len(todo),
               "docs_new": 0}
    if not todo:
        return summary

    statuses = tuple(int(s) for s in args.statuses.split(",")) \
        if args.statuses else ()
    pages = warc_pages(spark, todo, statuses=statuses)
    done_text = read_or_none(text_path)
    if done_text is not None:
        pages = resume_filter(pages, done_text)

    rep = args.repartition
    if rep != "auto":
        rep = int(rep)
    ex = extract(pages, dialect=args.dialect, nodes=False,
                 repartition=rep,
                 text_format=getattr(args, "text_format", "plain"))
    tagged = with_lineage(ex, args.run_id)
    tagged.select("url", "url_hash", "text_extracted", "n_errors",
                  "html_bytes", "status", "run_id", "partition_id") \
          .write.mode("append").parquet(text_path)

    this_run = spark.read.parquet(text_path) \
        .filter(F.col("run_id") == args.run_id)
    partition_metrics(this_run).write.mode("append") \
        .parquet(out + "/metrics")
    summary["docs_new"] = this_run.count()

    if args.quality:
        # doc-level corpus filters over the fresh extractions:
        # Gopher quality rules + C4 line cleaning + stopword lang-id,
        # one sidecar row per url.  The Python kernel form: this job
        # already runs Python workers for the parse, so one
        # mapInArrow pass costs less than the JVM projection's
        # higher-order-function lambdas, which do not codegen and
        # are JIT-compiled anew in every launch.  Values equal
        # quality_features (tests/test_quality_fused.py,
        # tests/test_jobs.py)
        from packages_sgml_spark.spark.textops import \
            quality_features_arrow
        # url-level resume for the sidecar itself: quality rows are
        # produced for text rows that don't have one yet, NOT for
        # this_run — a crash between the text and quality commits
        # (or a same-run-id rerun) would otherwise leave urls
        # permanently unsided or doubly-sided
        todo_q = spark.read.parquet(text_path)
        done_q = read_or_none(out + "/quality")
        if done_q is not None:
            todo_q = todo_q.join(done_q.select("url"), "url",
                                 "left_anti")
        # repartition ONCE so the quality pass's internal spread
        # no-ops (r7 history: three separate spreads shuffled the
        # text column three times; r8's single projection would need
        # no shuffle at all, but the explicit url-hash repartition
        # stays — it is the north rule's skew leveller for the
        # CPU-heavy filter pass)
        docs = (todo_q.select(F.col("url").alias("doc_id"),
                              F.col("text_extracted").alias("text"))
                .repartition(spark.sparkContext.defaultParallelism,
                             "doc_id"))
        quality = (quality_features_arrow(docs)
                   .withColumnRenamed("doc_id", "url")
                   .withColumn("run_id", F.lit(args.run_id)))
        quality.write.mode("append").parquet(out + "/quality")
        # count from the WRITTEN sink: re-executing the join plan
        # would double the whole quality stage
        summary["docs_pass_quality"] = (
            spark.read.parquet(out + "/quality")
            .where((F.col("run_id") == args.run_id) &
                   (F.col("gopher_pass") == 1) &
                   (F.col("c4_keep") == 1)).count())

    if args.wet:
        wet_pages = (this_run
                     .select("url",
                             F.lit(None).cast("timestamp")
                             .alias("warc_ts"),
                             F.col("text_extracted").alias("text")))
        manifest = write_wet_pages(wet_pages, out + "/wet",
                                   prefix="wet-" + args.run_id)
        summary["wet_records"] = sum(
            m.n_records for m in manifest.collect())

    # commit the archive manifest LAST: a crash before this line
    # leaves these archives "todo" for the next run, and the
    # url-level anti-join absorbs the partial text they wrote.  The
    # driver writes the rows itself (one parquet part file, renamed
    # into place): the file list is already on the driver, and a
    # createDataFrame write would add a Spark job that re-serializes
    # it through Python workers.  Only archives the listing saw with
    # content are recorded: one still being written (zero-length, or
    # a ._COPYING_ name) was not parsed and stays todo
    append_rows(spark, archives_path,
                [(p, args.run_id) for p, _n in todo],
                "warc_file string, run_id string")
    return summary


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="WARC dir or glob (*.warc / *.warc.gz)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="run-%d" % int(time.time()))
    ap.add_argument("--dialect", default="html5")
    ap.add_argument("--text-format", default="plain",
                    choices=("plain", "markdown"), dest="text_format",
                    help="text_extracted shape: plain text or "
                         "Markdown (LLM-corpus shape; quality "
                         "filters then score the markdown text)")
    ap.add_argument("--statuses", default="200",
                    help="comma list of HTTP statuses to keep; "
                         "empty = all")
    ap.add_argument("--repartition", default="auto")
    ap.add_argument("--wet", action="store_true",
                    help="also publish the text layer as WET archives")
    ap.add_argument("--quality", action="store_true",
                    help="also write a per-url quality sidecar "
                         "(Gopher rules + C4 line filter + lang-id)")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName(
        "packages-sgml-spark-crawl").getOrCreate()
    summary = run(spark, args)
    print(json.dumps(summary, sort_keys=True))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
