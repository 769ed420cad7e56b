#!/usr/bin/env python3
"""End-to-end crawl extraction job — the north-star pipeline as one
spark-submit launch:

    spark-submit --py-files packages_sgml_spark.zip \
        jobs/crawl_job.py --input <warc_dir_or_glob> \
        --output <sink_dir> [--run-id run42] [--dialect html5] \
        [--wet] [--quality] [--statuses 200]

WARC archives in -> pages shape (WET-style UTF-8 normalization) ->
text extraction with parse-error metrics [and the quality features]
in one Python pass per page -> parquet text sink + per-partition
metrics sidecar [+ per-url quality sidecar] [+ WET archives].

The task plan (warc.plan_ranges, on the driver, no Spark job): every
locally readable archive of the listing becomes a (path, start, end)
range, and one pandas-free mapInArrow per task reads its ranges,
decodes the records, and parses and scores each page
(warc.warc_text_quality): one Python worker per task, and no page
bytes cross the Arrow boundary.  `--repartition auto` plans the
session's default parallelism in tasks: ranges pack into tasks by
Spark's file-packing rule, and with fewer ranges than cores the
`.warc.gz` archives split at gzip-member boundaries, so even one
archive parses on every core.  `--repartition N` asks for at least N
ranges the same way; `0` reads each archive in one task.  Every
`.warc.gz` is read gzip member by member by the one reader of every
WARC scan, so the rows do not depend on the plan: a corrupt member is
skipped with the rest of its archive still read, and a truncated last
member is dropped.  Archives on non-local schemes are read whole
through binaryFile, one per row, by the same reader.

The parse runs once: checkpoint.write_text_sink materializes its
rows by one eager localCheckpoint to disk, and every sink is written
from those rows, in the order text -> metrics -> quality -> WET ->
archive manifest.  `docs_new` and the metrics sidecar count exactly
the rows this launch wrote, never a re-read of a sink.  The
trade-off: the checkpoint's blocks live on executor-local disk and
cannot be recomputed, so an executor lost after the parse fails the
launch's remaining writes, and the launch's whole parse is lost, not
one task.  No data is: the archive manifest is committed last,
so a relaunch re-reads the launch's archives and the url-level
anti-join skips every page whose text row was committed.  A reliable
checkpoint() to a checkpoint directory would survive the loss, at
the cost of writing the rows there.

Resume is two-level and always on:

- file level: archives recorded in <output>/archives (appended only
  AFTER the text write commits) are pruned from the next run's input
  at plan time — a killed run re-reads only its own unfinished
  archives;
- url level: an anti-join against the text sink, on the parsed rows
  after the pass, makes the re-read exact — documents already
  extracted by the killed run are never appended twice.  Only pages
  of archives the manifest has not committed are parsed at all, so
  the join costs the re-read pages of the killed run's own archives.
  The quality sidecar resumes the same way: text rows of earlier
  launches with no quality row are sided in this launch's quality
  write.

At crawl scale (~10^5 archives of ~1 GB) the archive list and its
manifest are driver-side metadata, read on the driver: the input is
listed once per launch (warc.list_archives, a fixed number of py4j
calls, no Spark job), the manifest is read back with pyarrow
(checkpoint.read_rows), the sinks resumed against are read with their
known columns (no schema-inference job), and the pruned listing plans
the scan as it stands — the first Spark job of a launch is the parse.
The url-level done-set stays distributed (key-partitioned anti-join,
no broadcast of 10^12 urls).
"""

import argparse
import sys
import time


def run(spark, args):
    """Body, session-injected so tests and notebooks can drive it;
    returns the summary dict that main() prints."""
    from pyspark.sql import Observation, functions as F

    from packages_sgml_spark.core.quality import FIELDS
    from packages_sgml_spark.spark.warc import (warc_text_quality,
                                                warc_todo,
                                                write_wet_pages)
    from packages_sgml_spark.spark.checkpoint import (
        append_rows, read_rows, read_parquet_or_none, resume_filter,
        write_text_sink)

    out = args.output.rstrip("/")
    archives_path = out + "/archives"
    quality_path = out + "/quality"

    # file-level resume on the driver: the one listing of the input,
    # pruned by the archive manifest, plans the scan below as it
    # stands — neither runs a Spark job
    done = (r[0] for r in read_rows(spark, archives_path, ["warc_file"]))
    todo = warc_todo(spark, args.input, done)
    summary = {"run_id": args.run_id, "archives": len(todo),
               "docs_new": 0}
    if not todo:
        return summary

    # the text sink as it stands before this launch writes to it,
    # read with the columns it is known to have (no inference job);
    # its file listing is taken here, so the quality repair below
    # never sees this launch's own text rows
    done_text = read_parquet_or_none(
        spark, out + "/text", "url string, text_extracted string")

    statuses = tuple(int(s) for s in args.statuses.split(",")) \
        if args.statuses else ()
    rep = args.repartition
    if rep != "auto":
        rep = int(rep)
    # the one Python pass: read, decode, parse and score each page in
    # the task that reads its archive range
    ex = warc_text_quality(
        spark, todo, statuses=statuses, dialect=args.dialect,
        text_format=getattr(args, "text_format", "plain"),
        quality=args.quality, tasks=rep)
    if done_text is not None:
        # url-level resume after the pass: only pages of archives the
        # manifest has not committed are parsed at all
        ex = resume_filter(ex, done_text)
    rows, summary["docs_new"] = write_text_sink(ex, out, args.run_id)

    if args.quality:
        # doc-level corpus filters over the fresh extractions:
        # Gopher quality rules + C4 line cleaning + stopword lang-id,
        # one sidecar row per url.  The features came out of the
        # parse pass (core.quality.features on each extracted text),
        # so the fresh rows need no second Python pass and no
        # shuffle
        quality = rows.select("url", *(name for name, _ in FIELDS),
                              "run_id")
        if done_text is not None:
            # url-level resume for the sidecar itself: text rows of
            # earlier launches without a quality row (a crash between
            # the text and quality commits) are sided in this write,
            # by the same kernel in its own mapInArrow
            from packages_sgml_spark.spark.textops import \
                quality_features_arrow
            orphans = done_text
            done_q = read_parquet_or_none(spark, quality_path,
                                          "url string")
            if done_q is not None:
                orphans = orphans.join(done_q, "url", "left_anti")
            quality = quality.unionByName(
                quality_features_arrow(
                    orphans.select(F.col("url").alias("doc_id"),
                                   F.col("text_extracted")
                                   .alias("text")))
                .withColumnRenamed("doc_id", "url")
                .withColumn("run_id", F.lit(args.run_id)))
        passed = Observation()
        quality.observe(passed, F.count_if(
            (F.col("gopher_pass") == 1) & (F.col("c4_keep") == 1))
            .alias("n")).write.mode("append").parquet(quality_path)
        summary["docs_pass_quality"] = passed.get["n"]

    if args.wet:
        wet_pages = rows.select(
            "url", F.lit(None).cast("timestamp").alias("warc_ts"),
            F.col("text_extracted").alias("text"))
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
    from packages_sgml_spark.spark.session import launch
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
    ap.add_argument("--repartition", default="auto",
                    help="parse tasks: auto = one per core (archives "
                         "pack, or split at gzip members); N = at "
                         "least N; 0 = one per archive")
    ap.add_argument("--wet", action="store_true",
                    help="also publish the text layer as WET archives")
    ap.add_argument("--quality", action="store_true",
                    help="also write a per-url quality sidecar "
                         "(Gopher rules + C4 line filter + lang-id)")
    return launch("packages-sgml-spark-crawl", ap, run, argv)


if __name__ == "__main__":
    sys.exit(main())
