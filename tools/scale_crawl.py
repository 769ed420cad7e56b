#!/usr/bin/env python3
"""End-to-end crawl-pipeline scaling: the same WARC->extract->sinks
job (jobs/crawl_job.py run()) at local[N] vs local[4N] over the same
archive set — the north rule's two-cluster-size criterion measured on
the WHOLE pipeline, not just the parse stage.

    PYTHONPATH=. python3 tools/scale_crawl.py [n_archives] [docs_per] \
        [--quality]

`--quality` runs the job with its quality sidecar (features computed
in the parse pass), off by default.  Writes nothing outside a temp
dir; prints one JSON line.  `stage_s` splits each size's best run per
sink — text, metrics, [quality,] archives — by
the rule tools/scale_curate.py and perfbench use: a stage ends when
its sink's `_SUCCESS` marker is written and starts when the previous
one ended (the first starts with the job), so `text` also carries the
planning before the parse.  `peak_rss_mb` is each size's largest
process-tree RSS over its runs, sampled by perfbench's RssSampler
(java and python processes only: the driver, its JVM and the Python
workers), so the probe shows worker memory next to the stage times.
"""

import argparse
import json
import os
import shutil
import sys
import tempfile
import time


def make_archives(root, n_archives=48, docs_per=600):
    from packages_sgml_spark.core.warc import (build_response_record,
                                               write_warc)
    os.makedirs(root, exist_ok=True)
    total = 0
    for a in range(n_archives):
        recs = []
        for i in range(docs_per):
            doc_id = a * docs_per + i
            body = ("<html><head><title>Page %d</title></head><body>"
                    "<h1>Page %d</h1>%s</body></html>" % (
                        doc_id, doc_id,
                        "".join("<p>Paragraph %d-%d with a <b>bold</b>"
                                " claim and <a href='https://h%d.ex/"
                                "r/%d-%d'>a link</a>.</p>"
                                % (doc_id, j, doc_id % 97, doc_id, j)
                                for j in range(12))))
            recs.append(build_response_record(
                "https://s%d.example/p/%d" % (doc_id % 211, doc_id),
                "2026-01-01T00:00:00Z", body.encode()))
            total += len(recs[-1])
        with open(os.path.join(root, "c-%05d.warc.gz" % a), "wb") as f:
            write_warc(f, recs)
    return total


def run_once(cpus, warc_dir, out_dir, quality=False):
    """One crawl_job run on a fresh local[cpus] session; returns
    (wall seconds, summary, stage seconds, peak RSS MB)."""
    from layers import RssSampler
    from packages_sgml_spark.spark.session import get_spark
    from tools.scale_curate import stage_times
    import crawl_job
    rss = RssSampler()
    rss.start()
    spark = get_spark(app="scale-crawl-%d" % cpus, cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    args = argparse.Namespace(
        input=warc_dir, output=out_dir, run_id="s%d" % cpus,
        dialect="html5", statuses="200", repartition="auto",
        wet=False, quality=quality)
    stages = ("text", "metrics") + (("quality",) if quality else ()) \
        + ("archives",)
    t0 = time.time()
    summary = crawl_job.run(spark, args)
    dt = time.time() - t0
    peak = rss.stop()
    spark.stop()
    return dt, summary, stage_times(out_dir, t0, stages), peak


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("n_archives", nargs="?", type=int, default=48)
    ap.add_argument("docs_per", nargs="?", type=int, default=600)
    ap.add_argument("--quality", action="store_true",
                    help="also write the quality sidecar")
    opts = ap.parse_args()
    n_archives, docs_per = opts.n_archives, opts.docs_per
    n_lo = int(os.environ.get("BENCH_SCALE_N", "2"))
    n_hi = 4 * n_lo
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    sys.path.insert(0, os.path.join(repo, "jobs"))
    sys.path.insert(0, os.path.join(repo, "perfbench"))
    tmp = tempfile.mkdtemp(prefix="scale_crawl_")
    try:
        warc_dir = os.path.join(tmp, "warc")
        raw = make_archives(warc_dir, n_archives, docs_per)
        results, stages, peaks = {}, {}, {}
        # interleave twice, keep best of each (co-tenant noise)
        for cpus in (n_lo, n_hi, n_lo, n_hi):
            out = os.path.join(tmp, "out-%d-%d" % (cpus,
                                                   len(results)))
            dt, summary, stage_s, peak = run_once(
                cpus, warc_dir, out, opts.quality)
            peaks[str(cpus)] = round(max(peak, peaks.get(str(cpus), 0)))
            assert summary["docs_new"] == n_archives * docs_per, \
                summary
            cur = results.get(cpus)
            if cur is None or dt < cur:
                results[cpus] = dt
                stages[str(cpus)] = stage_s
            shutil.rmtree(out, ignore_errors=True)
        eff = results[n_lo] / (4 * results[n_hi])
        print(json.dumps({
            "metric": "crawl-pipeline scaling local[%d] -> local[%d]"
                      % (n_lo, n_hi),
            "value": round(eff, 3),
            "unit": "efficiency",
            "n_docs": n_archives * docs_per,
            "quality": opts.quality,
            "raw_mb": round(raw / 1e6, 1),
            "sec": {str(k): round(v, 2) for k, v in results.items()},
            "stage_s": stages,
            "peak_rss_mb": peaks,
            "mb_per_sec": {str(k): round(raw / 1e6 / v, 1)
                           for k, v in results.items()},
        }))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
