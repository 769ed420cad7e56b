#!/usr/bin/env python3
"""Production extraction job over a pages table — launched via
spark-submit --py-files:

    spark-submit --py-files packages_sgml_spark.zip \
        jobs/extract_job.py --input <pages_parquet_or_table> \
        --output <sink_dir> [--run-id run42] [--dialect html5] \
        [--repartition N]

Reads the pages table (url, html [, dialect]; e.g. warc_pages or
docs_as_pages output), extracts each page's text and parse metrics
with the packages_sgml_spark engine in one Python pass
(extract.extract_text_quality without the quality columns), and
appends them to the parquet text sink plus the per-partition metrics
sidecar with lineage (checkpoint.write_text_sink, the crawl job's
writer).  Prints one JSON line, {"docs_new", "run_id"}.

Resume is url-level and always on, as in the crawl job: pages whose
url the text sink already holds are dropped before the parse, so a
rerun into the same output appends only new urls.  On a real
cluster, pass --repartition ~2-3x total cores.
"""

import argparse
import sys
import time


def run(spark, args):
    """Body, session-injected so tests and notebooks can drive it;
    returns the summary dict that main() prints."""
    from packages_sgml_spark.spark.checkpoint import (
        read_parquet_or_none, resume_filter, write_text_sink)
    from packages_sgml_spark.spark.extract import extract_text_quality

    out = args.output.rstrip("/")
    pages = spark.read.parquet(args.input)
    done = read_parquet_or_none(spark, out + "/text", "url string")
    if done is not None:
        pages = resume_filter(pages, done)
    rep = args.repartition
    if rep != "auto":
        rep = int(rep)
    ex = extract_text_quality(pages, dialect=args.dialect,
                              repartition=rep, quality=False)
    _rows, docs_new = write_text_sink(ex, out, args.run_id)
    return {"run_id": args.run_id, "docs_new": docs_new}


def main(argv=None):
    from packages_sgml_spark.spark.session import launch
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="run-%d" % int(time.time()))
    ap.add_argument("--dialect", default="html5")
    ap.add_argument("--repartition", default="auto",
                    help="N (url-hash shuffle to N partitions), "
                         "0 (keep source partitioning), or 'auto' "
                         "(spread only when under-partitioned)")
    return launch("packages-sgml-spark-extract", ap, run, argv)


if __name__ == "__main__":
    sys.exit(main())
