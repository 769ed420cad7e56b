"""Scale probe for jobs/curate_job.py — the whole curation funnel
(decisions -> clean+strip -> shards -> metrics) over a deterministic
skewed corpus that actually PASSES the quality gates, unlike
scale_staged's (no stopwords, no punctuated lines — every doc there
fails Gopher/C4 by construction, which is right for the operator
probes but makes the funnel trivial).

Corpus (all from doc_id, no rand()):
- 30% byte-identical boilerplate docs (the dedup mega-cluster);
- the rest: 5-11 lines of 12 words each, every 3rd word from an
  English function-word list (Gopher's required stopwords guaranteed
  per line), the rest unique-ish Zipf tokens, each line ending in a
  period (>= 3 C4-surviving lines per doc);
- a shared "footer" line on every non-boilerplate doc — cross-doc
  duplicated 8-grams for dedup_spans to cut.

Invariants re-checked at scale: funnel counts consistent
(kept <= pass_dedup, docs_out <= kept), the boilerplate cluster
keeps exactly one representative, every clean doc is sharded exactly
once with contiguous ranks, the shared footer is cut from EVERY
surviving doc (tokens_after < tokens_before by at least
footer_len * docs_out), and a rerun resumes all four stages.

`stage_s` splits the first run's wall time per stage: a stage ends
when its sink's `_SUCCESS` marker is written and starts when the
previous one ended (perfbench's stage_times rule), so each stage
also carries the previous stage's manifest commit.

Usage: python tools/scale_curate.py [n_docs] [cpus]
"""

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

FOOTER = ("all rights reserved contact the site owner today for "
          "more information about this page .")          # 15 words
STOPS = ["the", "and", "that", "with", "have", "this", "from",
         "they", "be", "of", "to", "in", "is", "was", "for", "on"]


def _mk_docs(spark, n_docs):
    from pyspark.sql import functions as F
    base = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    d = F.col("doc_id")
    src = F.when(d % 10 < 6, F.lit("host0")).otherwise(
        F.concat(F.lit("host"), ((d * 2654435761) % 200 + 1)
                 .cast("string")))
    n_lines = (d % 7 + 5).cast("int")
    stop_arr = F.array(*[F.lit(s) for s in STOPS])
    line = lambda li: F.concat(
        F.array_join(F.transform(
            F.sequence(F.lit(0), F.lit(11)),
            lambda i: F.when(
                i % 3 == 0,
                F.element_at(stop_arr,
                             ((li * 7 + i * 3 + d) % 16 + 1)
                             .cast("int")))
            .otherwise(F.concat(
                F.lit("word"),
                ((d * 131 + li * 977 + i * 1009) % 30000)
                .cast("string")))), " "),
        F.lit(" ."))
    body = F.array_join(
        F.transform(F.sequence(F.lit(0), n_lines - 1), line), "\n")
    boiler = F.lit("\n".join(
        " ".join("the bp%d and bq%d item %d ." % (i % 9, i % 7, i)
                 for i in range(2)) for _ in range(6)))
    text = F.when(d % 10 < 3, boiler) \
            .otherwise(F.concat(body, F.lit("\n"), F.lit(FOOTER)))
    return base.select("doc_id", src.alias("source"),
                       text.alias("text"))


STAGES = ("decisions", "clean", "shards", "metrics")


def stage_times(out, start, stages=STAGES):
    """Seconds per stage, from each stage sink's _SUCCESS mtime."""
    times, prev = {}, start
    for stage in stages:
        t = os.stat(os.path.join(out, stage, "_SUCCESS")).st_mtime
        times[stage] = round(t - prev, 2)
        prev = t
    return times


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_docs = int(args[0]) if args else 200_000
    cpus = int(args[1]) if len(args) > 1 else 32
    import argparse

    from pyspark.sql import functions as F

    from jobs.curate_job import run
    from packages_sgml_spark.spark.session import get_spark

    spark = get_spark(app="scale-curate", cpus=cpus)
    work = tempfile.mkdtemp(prefix="curate-scale-")
    inp = work + "/docs"
    docs = _mk_docs(spark, n_docs)
    docs.write.parquet(inp)
    mb = spark.read.parquet(inp).select(
        F.sum(F.length("text"))).collect()[0][0] / 1e6
    ja = argparse.Namespace(
        input=inp, output=work + "/out", run_id="scale1",
        id_col="doc_id", text_col="text", strip_spans=True, ngram=8,
        min_kept_words=5, n_shards=64)
    t0 = time.time()
    s = run(spark, ja)
    wall = time.time() - t0
    stage_s = stage_times(ja.output, t0)
    n_bp = sum(1 for i in range(n_docs) if i % 10 < 3)

    assert s["docs_in"] == n_docs
    # boilerplate cluster: exactly one representative survives dedup
    assert s["pass_dedup"] <= n_docs - n_bp + 1
    assert s["docs_kept"] <= s["pass_dedup"]
    assert s["docs_out"] <= s["docs_kept"]
    # the shared footer line (15 words, 8 cross-doc-duplicated
    # 8-grams covering all 15 positions) is cut from EVERY survivor
    assert (s["tokens_before_strip"] - s["tokens_after_strip"]
            >= 15 * s["docs_out"]), s
    shards = spark.read.parquet(ja.output + "/shards")
    per = shards.groupBy("shard").agg(
        F.count("*").alias("n"), F.max("shard_pos").alias("mx")) \
        .collect()
    assert sum(r["n"] for r in per) == s["docs_out"]
    assert all(r["mx"] == r["n"] for r in per)

    t1 = time.time()
    s2 = run(spark, argparse.Namespace(**{**vars(ja),
                                          "run_id": "scale2"}))
    resume_wall = time.time() - t1
    assert s2["resumed_stages"] == ["clean", "decisions",
                                    "metrics", "shards"]

    print(json.dumps({
        "n_docs": n_docs, "cpus": cpus, "mb": round(mb, 1),
        "wall_sec": round(wall, 1), "stage_s": stage_s,
        "mb_per_sec": round(mb / wall, 1),
        "resume_noop_sec": round(resume_wall, 1),
        "docs_kept": s["docs_kept"], "docs_out": s["docs_out"],
        "pass_dedup": s["pass_dedup"],
        "pass_gopher": s["pass_gopher"], "pass_c4": s["pass_c4"],
        "tokens_before": s["tokens_before_strip"],
        "tokens_after": s["tokens_after_strip"]}, default=str))
    spark.stop()
    import shutil
    shutil.rmtree(work, ignore_errors=True)




def scaling():
    """North-rule evidence for the curation funnel: the same job on
    the SAME input at two parallelism levels (within the box's
    physical cores — the scale_staged methodology), reporting
    throughput at both plus scaling efficiency and the box's
    simultaneously-measured raw-CPU ceiling.  Levels interleave
    twice, best of each kept (co-tenant noise).

    MEASURED RESULT (r8 session 5, recorded in BENCH.md): the
    efficiency is FLAT across 2.5x corpus growth (0.605 at 41 MB,
    0.608 at 102 MB) — NOT the amortizing crawl-pipeline profile.
    The serial fraction here is structural at probe scale:
    dedup_components' per-iteration localCheckpoint barriers plus
    four stage-commit write/read/count boundaries; the stage BODIES
    scale at the per-operator numbers scale_staged measures, and at
    real corpus sizes they dwarf the barriers.

    Usage: python tools/scale_curate.py --scaling [n_docs]
    """
    import argparse
    import shutil

    from pyspark.sql import functions as F

    from jobs.curate_job import run
    from packages_sgml_spark.spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    n_docs = int(args[0]) if args else 100_000
    levels = (2, 8)
    work = tempfile.mkdtemp(prefix="curate-scaling-")
    inp = work + "/docs"
    boot = get_spark(app="curate-scaling-gen", cpus=8)
    _mk_docs(boot, n_docs).write.parquet(inp)
    mb = boot.read.parquet(inp).select(
        F.sum(F.length("text"))).collect()[0][0] / 1e6
    boot.stop()

    out = {"n_docs": n_docs, "mb": round(mb, 1), "levels": {}}
    for i, cpus in enumerate(levels + levels):
        spark = get_spark(app="curate-scaling-%d-%d" % (cpus, i),
                          cpus=cpus)
        sink = work + "/out-%d-%d" % (cpus, i)
        ja = argparse.Namespace(
            input=inp, output=sink, run_id="s%d" % i,
            id_col="doc_id", text_col="text", strip_spans=True,
            ngram=8, min_kept_words=5, n_shards=32)
        t0 = time.time()
        run(spark, ja)
        wall = time.time() - t0
        rec = {"wall_sec": round(wall, 1),
               "mb_per_sec": round(mb / wall, 2)}
        k = str(cpus)
        if k not in out["levels"] or \
                rec["mb_per_sec"] > out["levels"][k]["mb_per_sec"]:
            out["levels"][k] = rec
        spark.stop()
        shutil.rmtree(sink, ignore_errors=True)
    import bench
    bench.finish_scaling(out, levels)
    print(json.dumps(out))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        scaling()
    else:
        main()
