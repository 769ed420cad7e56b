"""The benchmark's workloads and their output checks.

Each workload is a closed loop with one client: ``run_once`` launches
the job a user launches (``jobs/crawl_job.run`` or
``jobs/curate_job.run``) on the session it is given, into a fresh
output directory, and returns only when the job has returned.  ``check`` then reads the job's sinks back
with pyarrow, outside the timed region, and returns a list of failure
strings (empty when the output is correct).
"""

import argparse
import importlib.util
import os
import shutil
import time

import pyarrow.parquet as pq

import inputs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_job(name):
    """jobs/<name>.py as a module (the jobs directory is not a
    package)."""
    path = os.path.join(ROOT, "jobs", name + ".py")
    spec = importlib.util.spec_from_file_location("perfbench_" + name,
                                                  path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def stage_times(out, start, stages):
    """Per-stage latency from the commit marker each sink leaves: stage
    i ends when its ``_SUCCESS`` file is written, and starts when stage
    i-1 ended (the first stage starts at ``start``)."""
    times, prev = {}, start
    for stage, sink in stages:
        t = os.stat(os.path.join(out, sink, "_SUCCESS")).st_mtime
        times[stage] = t - prev
        prev = t
    return times


def text_options():
    """The parser options spark.extract uses for its text-only path."""
    from packages_sgml_spark.core.parser import ParserOptions
    opts = ParserOptions(dialect="html5", encoding="utf-8", max_errors=-1)
    opts.quiet = False
    return opts


def parse_text(html):
    from packages_sgml_spark.core.parser import TextOnlyParser
    p = TextOnlyParser(text_options())
    p.parse(html)
    return p.text()


class Crawl:
    """crawl_job.run(quality=True) over seeded .warc.gz archives."""

    name = "crawl"
    stages = (("text", "text"), ("metrics", "metrics"),
              ("quality", "quality"), ("manifest", "archives"))

    def __init__(self, work, seed, **sizes):
        self.work = work
        self.seed = seed
        self.job = load_job("crawl_job")
        self.corpus = inputs.make_crawl(os.path.join(work, "warc"), seed,
                                        **sizes)
        self.expected = {}
        for url, html in self.corpus.pages.items():
            if not html:
                self.expected[url] = (None, "empty")
            elif len(html) > inputs.MAX_HTML_BYTES:
                self.expected[url] = (None, "too_large")
            else:
                self.expected[url] = (parse_text(html), "ok")
        self.n = 0

    @property
    def n_docs(self):
        return self.corpus.n_docs

    @property
    def n_bytes(self):
        return self.corpus.payload_bytes

    def run_once(self, spark):
        """One job run into a fresh output; returns (out_dir, start,
        wall_s, summary)."""
        self.n += 1
        out = os.path.join(self.work, "crawl-out-%d" % self.n)
        args = argparse.Namespace(
            input=self.corpus.warc_dir, output=out,
            run_id="bench-%d" % self.n, dialect="html5",
            statuses="200", repartition="auto", wet=False,
            quality=True, text_format="plain")
        t0 = time.time()
        summary = self.job.run(spark, args)
        return out, t0, time.time() - t0, summary

    def check(self, out, summary):
        fails = []
        if summary.get("docs_new") != self.corpus.n_docs:
            fails.append("docs_new %s != %d" % (summary.get("docs_new"),
                                                self.corpus.n_docs))
        rows = pq.read_table(os.path.join(out, "text"),
                             columns=["url", "text_extracted",
                                      "status"]).to_pylist()
        seen = set()
        for r in rows:
            want = self.expected.get(r["url"])
            if want is None or r["url"] in seen:
                fails.append("unexpected or repeated url %s" % r["url"])
            elif (r["text_extracted"], r["status"]) != want:
                fails.append("wrong text for %s (status %s)"
                             % (r["url"], r["status"]))
            seen.add(r["url"])
        missing = len(self.expected) - len(seen & set(self.expected))
        if missing:
            fails.append("%d urls missing from the text sink" % missing)
        for status, want in (("empty", self.corpus.n_empty),
                             ("too_large", self.corpus.n_too_large)):
            got = sum(1 for r in rows if r["status"] == status)
            if got != want:
                fails.append("%s rows %d != %d" % (status, got, want))
        return fails

    def cleanup(self, out):
        shutil.rmtree(out, ignore_errors=True)


class Curate:
    """curate_job.run(strip_spans=True) over a seeded documents
    parquet."""

    name = "curate"
    stages = (("decisions", "decisions"), ("clean", "clean"),
              ("shards", "shards"), ("metrics", "metrics"))

    def __init__(self, work, seed, **sizes):
        self.work = work
        self.seed = seed
        self.job = load_job("curate_job")
        os.makedirs(work, exist_ok=True)
        self.corpus = inputs.make_curate(
            os.path.join(work, "documents.parquet"), seed, **sizes)
        self.n = 0

    @property
    def n_docs(self):
        return self.corpus.n_docs

    @property
    def n_bytes(self):
        return self.corpus.text_bytes

    def run_once(self, spark):
        self.n += 1
        out = os.path.join(self.work, "curate-out-%d" % self.n)
        args = argparse.Namespace(
            input=self.corpus.path, output=out,
            run_id="bench-%d" % self.n, id_col="doc_id", text_col="text",
            strip_spans=True, ngram=8, min_kept_words=5, n_shards=8)
        t0 = time.time()
        summary = self.job.run(spark, args)
        return out, t0, time.time() - t0, summary

    def check(self, out, summary):
        """The curation funnel invariants."""
        c = self.corpus
        s = summary
        fails = []
        if s.get("docs_in") != c.n_docs:
            fails.append("docs_in %s != %d" % (s.get("docs_in"), c.n_docs))
        if not (0 < s["docs_out"] <= s["docs_kept"] <= s["pass_dedup"]
                <= c.n_docs - c.n_boiler + 1):
            fails.append("funnel out of order: %s" % s)
        if (s["tokens_before_strip"] - s["tokens_after_strip"]
                < len(inputs.FOOTER.split()) * s["docs_out"]):
            fails.append("footer not cut from every survivor")
        dec = pq.read_table(os.path.join(out, "decisions"),
                            columns=["doc_id", "keep_dedup"]).to_pydict()
        boiler_kept = sum(k for d, k in zip(dec["doc_id"], dec["keep_dedup"])
                          if d in c.boiler_ids)
        if boiler_kept != 1:
            fails.append("mega-cluster kept %d representatives"
                         % boiler_kept)
        clean = pq.read_table(os.path.join(out, "clean"),
                              columns=["doc_id", "text"]).to_pydict()
        if any(inputs.FOOTER in t for t in clean["text"]):
            fails.append("footer survives in a clean doc")
        shards = pq.read_table(os.path.join(out, "shards"),
                               columns=["doc_id", "shard",
                                        "shard_pos"]).to_pydict()
        ids = shards["doc_id"]
        if len(ids) != len(set(ids)) or set(ids) != set(clean["doc_id"]):
            fails.append("clean docs not sharded exactly once "
                         "(%d shard rows, %d clean docs)"
                         % (len(ids), len(clean["doc_id"])))
        if len(clean["doc_id"]) != s["docs_out"]:
            fails.append("clean rows %d != docs_out %d"
                         % (len(clean["doc_id"]), s["docs_out"]))
        per = {}
        for sh, pos in zip(shards["shard"], shards["shard_pos"]):
            per.setdefault(sh, []).append(pos)
        for sh, pos in per.items():
            if sorted(pos) != list(range(1, len(pos) + 1)):
                fails.append("shard %s ranks not contiguous" % sh)
        return fails

    def cleanup(self, out):
        shutil.rmtree(out, ignore_errors=True)


WORKLOADS = {"crawl": Crawl, "curate": Curate}
