#!/usr/bin/env python3
"""End-to-end training-data curation job — the corpus half of the
pipeline (crawl_job.py produces the text; this consumes it) as one
spark-submit launch:

    spark-submit --py-files packages_sgml_spark.zip \
        jobs/curate_job.py --input <documents_parquet> \
        --output <sink_dir> [--run-id cur42] [--strip-spans] \
        [--min-kept-words 5] [--n-shards 64]

documents in (any parquet with an id column and a text column — the
crawl job's text sink or a documents table) ->
  decisions:  corpus_keep in ONE plan (MinHash-LSH dedup_keep AND
              Gopher AND C4, lang_pred riding along) -> sidecar
  clean:      kept docs, optionally with cross-doc duplicated
              8-gram spans REMOVED (dedup_spans) and a minimum
              surviving-words floor; span removal preserves the
              original token case but reflows whitespace to single
              spaces (token-level surgery, documented in
              dedup_spans)
  shards:     deterministic md5-shuffled training shards
              (shard_assign), written partitioned by shard and
              sorted by shard_pos — the layout a training run reads
  metrics:    one funnel row (docs in -> kept -> tokens before /
              after span removal) per run

Resume is STAGE-level, not url-level, and that is deliberate: every
decision here is a GLOBAL function of the corpus snapshot (a dup
cluster, a duplicated n-gram, a shard permutation all change if the
input grows), so incremental per-doc resume — crawl_job's shape,
where each document's extraction is independent — would silently
compute decisions against a different corpus than the one it claims
to describe.  Instead each stage commits its sink (overwrite mode;
every stage is deterministic, so re-running converges to identical
bytes) and THEN appends a manifest row to <output>/stages; a killed
run redoes at most the one stage whose manifest row never landed,
and finished stages are re-read, never recomputed.  The driver writes
each manifest row itself (checkpoint.append_rows: one parquet part
file through the session's Hadoop FileSystem, renamed into place).
A createDataFrame write would run a Spark job and start Python
workers in this otherwise JVM-only job just to store one row.

At 100 TB the stage sinks are exactly the checkpoints you want
anyway (decisions and clean text are reusable corpus artifacts, not
scratch), shard count is the explicit scale knob for the final
sort, and nothing in the plan collects to the driver.
"""

import argparse
import json
import sys
import time


def run(spark, args):
    """Body, session-injected so tests and notebooks can drive it;
    returns the summary dict that main() prints."""
    from pyspark.sql import functions as F

    from packages_sgml_spark.spark.checkpoint import (
        append_rows, read_parquet_or_none)
    from packages_sgml_spark.spark.datafilters import (
        corpus_keep, dedup_spans, shard_assign)

    out = args.output.rstrip("/")
    stages_path = out + "/stages"
    # resume is only valid against the SAME job: the manifest rows
    # carry a parameter fingerprint, and a rerun with different
    # arguments (or a different input path) into the same output
    # refuses loudly instead of silently reusing sinks computed
    # under the old contract (session-5 review catch: --n-shards 64
    # over an 8-shard sink exited 0 with the 8-shard layout)
    params = json.dumps(
        {"input": args.input, "id_col": args.id_col,
         "text_col": args.text_col,
         "strip_spans": bool(args.strip_spans), "ngram": args.ngram,
         "min_kept_words": args.min_kept_words,
         "n_shards": args.n_shards}, sort_keys=True)
    manifest = read_parquet_or_none(spark, stages_path)
    done = set()
    mrows = []
    if manifest is not None:
        mrows = manifest.select("stage", "params", "rows").collect()
        stale = sorted({r["stage"] for r in mrows
                        if r["params"] != params})
        if stale:
            raise ValueError(
                "output %s was produced with different parameters "
                "(stages %s); curation decisions are a global "
                "function of the corpus and its parameters — use a "
                "fresh --output (or delete %s to recompute "
                "everything)" % (out, ", ".join(stale), out))
        done = {r["stage"] for r in mrows}

    def sink_count(path):
        # an all-filtered corpus leaves a PARTITIONED sink with no
        # part files at all (partitionBy writes nothing for 0 rows),
        # which reads as UNABLE_TO_INFER_SCHEMA — that is a valid
        # empty result, not a missing stage
        df = read_parquet_or_none(spark, path)
        return 0 if df is None else df.count()

    def commit_stage(stage, rows):
        append_rows(spark, stages_path,
                    [(stage, args.run_id, rows, params)],
                    "stage string, run_id string, rows long, "
                    "params string")

    docs = (spark.read.parquet(args.input)
            .select(F.col(args.id_col).alias("doc_id"),
                    F.col(args.text_col).alias("text")))
    if "decisions" in done:
        # the other half of the stale-resume guard: same path, grown
        # corpus — decisions are a function of the snapshot they saw
        want = [r["rows"] for r in mrows
                if r["stage"] == "decisions"][0]
        have = docs.count()
        if have != want:
            raise ValueError(
                "input %s has %d docs but the committed decisions "
                "were computed over %d — the corpus changed under "
                "the output; use a fresh --output"
                % (args.input, have, want))
    summary = {"run_id": args.run_id,
               "resumed_stages": sorted(done)}

    # -- decisions: the whole filter stack in one plan ------------
    if "decisions" not in done:
        (corpus_keep(docs)
         .write.mode("overwrite").parquet(out + "/decisions"))
        commit_stage("decisions", sink_count(out + "/decisions"))
    decisions = spark.read.parquet(out + "/decisions")

    # -- clean: kept docs, optional exact-substring removal -------
    if "clean" not in done:
        kept = (docs.join(decisions.filter(F.col("keep") == 1)
                          .select("doc_id"), "doc_id"))
        if args.strip_spans:
            # dedup_spans runs over the KEPT corpus: spans that were
            # only duplicated against since-removed near-dup copies
            # are not evidence any more (the cluster representative
            # keeps its text), which is the Lee et al. order of
            # operations — near-dup removal first, exact-substring
            # pass over the survivors
            spans = dedup_spans(kept, n=args.ngram)
            clean = (spans
                     .filter(F.col("n_kept") >= args.min_kept_words)
                     .select("doc_id",
                             F.col("kept_text").alias("text"),
                             "n_words", "n_kept"))
        else:
            clean = kept.select(
                "doc_id", "text",
                F.lit(None).cast("int").alias("n_words"),
                F.lit(None).cast("int").alias("n_kept"))
        clean.write.mode("overwrite").parquet(out + "/clean")
        commit_stage("clean", sink_count(out + "/clean"))
    clean = spark.read.parquet(out + "/clean")

    # -- shards: deterministic training layout --------------------
    if "shards" not in done:
        assign = shard_assign(clean, n_shards=args.n_shards)
        (clean.join(assign, "doc_id")
         .repartition(args.n_shards, "shard")
         .sortWithinPartitions("shard", "shard_pos")
         .write.mode("overwrite").partitionBy("shard")
         .parquet(out + "/shards"))
        commit_stage("shards", sink_count(out + "/shards"))

    # -- metrics: the curation funnel, one row ---------------------
    if "metrics" not in done:
        funnel = (docs.agg(F.count("*").alias("docs_in"))
                  .crossJoin(decisions.agg(
                      F.sum("keep_dedup").alias("pass_dedup"),
                      F.sum("gopher_pass").alias("pass_gopher"),
                      F.sum("c4_keep").alias("pass_c4"),
                      F.sum("keep").alias("docs_kept")))
                  .crossJoin(clean.agg(
                      F.count("*").alias("docs_out"),
                      F.sum("n_words").alias("tokens_before_strip"),
                      F.sum("n_kept").alias("tokens_after_strip")))
                  .withColumn("run_id", F.lit(args.run_id)))
        funnel.coalesce(1).write.mode("overwrite") \
            .parquet(out + "/metrics")
        commit_stage("metrics", 1)

    m = spark.read.parquet(out + "/metrics").collect()[0]
    summary.update({k: m[k] for k in m.asDict() if k != "run_id"})
    return summary


def main(argv=None):
    from packages_sgml_spark.spark.session import launch
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="documents parquet (dir or glob)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="cur-%d" % int(time.time()))
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--strip-spans", action="store_true",
                    help="also remove cross-doc duplicated 8-gram "
                         "spans from kept docs (dedup_spans); "
                         "token-level surgery — case is preserved, "
                         "whitespace is reflowed to single spaces")
    ap.add_argument("--ngram", type=int, default=8)
    ap.add_argument("--min-kept-words", type=int, default=5,
                    help="drop docs with fewer surviving words "
                         "after span removal")
    ap.add_argument("--n-shards", type=int, default=8)
    return launch("packages-sgml-spark-curate", ap, run, argv)


if __name__ == "__main__":
    sys.exit(main())
