"""Job scripts under jobs/: the end-to-end crawl pipeline (WARC in ->
text + metrics + WET out, two-level resume), the extract and curate
jobs, driven in-process, and REAL ``spark-submit --py-files`` launches
of all three — the north rule's stated launch mode — as subprocesses
with the package shipped only via the zip."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "jobs"))
SF = "/root/testdata/sf0.001"
needs_sf = pytest.mark.skipif(not os.path.isdir(SF),
                              reason="testdata absent")


def _write_archive(path, docs):
    from packages_sgml_spark.core.warc import (build_response_record,
                                               write_warc)
    with open(path, "wb") as out:
        write_warc(out, [build_response_record(u, d, b)
                         for u, d, b in docs])


def _args(**kw):
    import argparse
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="t-run")
    ap.add_argument("--dialect", default="html5")
    ap.add_argument("--statuses", default="200")
    ap.add_argument("--repartition", default="auto")
    ap.add_argument("--wet", action="store_true")
    ap.add_argument("--quality", action="store_true")
    ap.add_argument("--text-format", default="plain",
                    dest="text_format")
    argv = []
    for k, v in kw.items():
        argv += ["--" + k.replace("_", "-")] + \
            ([] if v is True else [str(v)])
    return ap.parse_args(argv)


DOCS1 = [
    ("https://j.example/1", "2026-01-01T00:00:01Z",
     b"<html><head><title>One</title></head><p>alpha</html>"),
    ("https://j.example/2", "2026-01-01T00:00:02Z",
     b"<html><head><title>Two</title></head><p>beta</html>"),
]
DOCS2 = [
    ("https://j.example/3", "2026-01-01T00:00:03Z",
     b"<html><head><title>Three</title></head><p>gamma</html>"),
]


def test_crawl_job_two_level_resume(spark, tmp_path):
    import crawl_job
    land = tmp_path / "warc"
    land.mkdir()
    out = str(tmp_path / "sink")
    _write_archive(land / "c-00000.warc.gz", DOCS1)

    s1 = crawl_job.run(spark, _args(
        input=str(land), output=out, run_id="r1", wet=True,
        quality=True))
    assert s1 == {"run_id": "r1", "archives": 1, "docs_new": 2,
                  "wet_records": 2, "docs_pass_quality": 0}
    q = {r.url: r for r in
         spark.read.parquet(out + "/quality").collect()}
    assert sorted(q) == ["https://j.example/1", "https://j.example/2"]
    # tiny docs: present in the sidecar, correctly failing the gates
    assert q["https://j.example/1"].n_words == 1     # "Onealpha"
    assert q["https://j.example/1"].gopher_pass == 0
    assert q["https://j.example/1"].c4_keep == 0

    # nothing new: file-level prune leaves zero archives to read
    s2 = crawl_job.run(spark, _args(
        input=str(land), output=out, run_id="r2"))
    assert s2 == {"run_id": "r2", "archives": 0, "docs_new": 0}

    # a new archive lands; one old doc also reappears in it (a crawl
    # refetch) — file prune admits the archive, url anti-join drops
    # the refetched doc
    _write_archive(land / "c-00001.warc.gz",
                   DOCS2 + [DOCS1[0]])
    s3 = crawl_job.run(spark, _args(
        input=str(land), output=out, run_id="r3", wet=True))
    assert s3 == {"run_id": "r3", "archives": 1, "docs_new": 1,
                  "wet_records": 1}

    text = spark.read.parquet(out + "/text")
    rows = {r.url: r for r in text.collect()}
    assert sorted(rows) == ["https://j.example/1", "https://j.example/2",
                            "https://j.example/3"]   # no duplicates
    assert rows["https://j.example/3"].text_extracted == "Threegamma"
    assert rows["https://j.example/3"].run_id == "r3"

    # metrics sidecar: one run_id per pass that extracted anything
    metrics = spark.read.parquet(out + "/metrics")
    per_run = {r.run_id: r.docs for r in
               metrics.groupBy("run_id").sum("docs")
               .withColumnRenamed("sum(docs)", "docs").collect()}
    assert per_run == {"r1": 2, "r3": 1}

    # WET layer reads back with the extracted text
    from packages_sgml_spark.spark.warc import read_warc
    wet = {r.url: bytes(r.html).decode("utf-8") for r in
           read_warc(spark, out + "/wet/*.warc.gz",
                     record_types=("conversion",)).collect()}
    assert wet["https://j.example/1"] == "Onealpha"
    assert wet["https://j.example/3"] == "Threegamma"

    # archive manifest records both processed files exactly once
    arch = spark.read.parquet(out + "/archives")
    names = sorted(os.path.basename(r.warc_file) for r in arch.collect())
    assert names == ["c-00000.warc.gz", "c-00001.warc.gz"]


def test_crawl_job_url_resume_after_partial_write(spark, tmp_path):
    """Kill-between-sinks shape: text written but the archive
    manifest commit never happened (manifest is written LAST).  The
    rerun re-admits the archive at file level and the url anti-join
    extracts nothing twice."""
    import crawl_job
    land = tmp_path / "warc"
    land.mkdir()
    out = str(tmp_path / "sink")
    _write_archive(land / "c-00000.warc.gz", DOCS1)
    crawl_job.run(spark, _args(input=str(land), output=out,
                               run_id="r1"))
    # simulate the crash: drop the manifest commit
    import shutil
    shutil.rmtree(out + "/archives")
    s2 = crawl_job.run(spark, _args(input=str(land), output=out,
                                    run_id="r2"))
    assert s2["archives"] == 1 and s2["docs_new"] == 0
    text = spark.read.parquet(out + "/text")
    assert text.count() == 2          # still exactly one row per doc


def test_crawl_job_never_records_archive_in_flight(spark, tmp_path):
    """An archive still being written — created but empty, or landing
    under a ._COPYING_ name — is neither todo nor recorded as done;
    once it is complete, the next run extracts its records."""
    import crawl_job
    from packages_sgml_spark.spark.checkpoint import read_rows
    from packages_sgml_spark.spark.warc import warc_todo
    land = tmp_path / "warc"
    land.mkdir()
    out = str(tmp_path / "sink")
    _write_archive(land / "c-00000.warc.gz", DOCS1)
    (land / "c-00001.warc.gz").write_bytes(b"")
    _write_archive(land / "c-00002.warc.gz._COPYING_", DOCS2)
    assert [os.path.basename(p) for p, _n in
            warc_todo(spark, str(land))] == ["c-00000.warc.gz"]
    s1 = crawl_job.run(spark, _args(input=str(land), output=out,
                                    run_id="r1"))
    assert s1["archives"] == 1 and s1["docs_new"] == 2
    assert [os.path.basename(r[0]) for r in
            read_rows(spark, out + "/archives")] == ["c-00000.warc.gz"]

    # both finish landing
    _write_archive(land / "c-00001.warc.gz",
                   [("https://j.example/4", "2026-01-01T00:00:04Z",
                     b"<html><p>delta</html>")])
    os.rename(land / "c-00002.warc.gz._COPYING_",
              land / "c-00002.warc.gz")
    s2 = crawl_job.run(spark, _args(input=str(land), output=out,
                                    run_id="r2"))
    assert s2["archives"] == 2 and s2["docs_new"] == 2
    assert sorted(r.url for r in
                  spark.read.parquet(out + "/text").collect()) == [
        "https://j.example/1", "https://j.example/2",
        "https://j.example/3", "https://j.example/4"]
    assert sorted(os.path.basename(r[0]) for r in
                  read_rows(spark, out + "/archives")) == [
        "c-00000.warc.gz", "c-00001.warc.gz", "c-00002.warc.gz"]


def _spark_submit(tmp_path, job, argv):
    """Launch jobs/<job>.py in a fresh spark-submit JVM, the package
    shipped ONLY through --py-files and cwd outside the repo; returns
    the JSON summary line it printed."""
    sys.path.insert(0, REPO)
    from tools.make_pyfiles_zip import build
    zip_path = build(str(tmp_path / "packages_sgml_spark.zip"))
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        ["spark-submit", "--master", "local[4]",
         "--conf", "spark.ui.enabled=false",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--py-files", zip_path,
         os.path.join(REPO, "jobs", job + ".py")] + argv,
        cwd=str(tmp_path), env=env, capture_output=True, text=True,
        timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(
        [l for l in proc.stdout.splitlines()
         if l.startswith("{")][-1])


@pytest.mark.slow
@pytest.mark.parametrize("job", ["crawl_job", "extract_job"])
def test_spark_submit_py_files_launch(tmp_path, job):
    """The real launch mode, end to end: the crawl job over one
    archive, or the extract job over the same pages as a table."""
    out = str(tmp_path / "sink")
    if job == "crawl_job":
        land = tmp_path / "warc"
        land.mkdir()
        _write_archive(land / "c-00000.warc.gz", DOCS1)
        argv = ["--input", str(land), "--wet"]
        want = {"archives": 1, "docs_new": 2, "run_id": "submit1",
                "wet_records": 2}
    else:
        import pyarrow as pa
        import pyarrow.parquet as pq
        pages = str(tmp_path / "pages.parquet")
        pq.write_table(pa.table({"url": [u for u, _, _ in DOCS1],
                                 "html": [h for _, _, h in DOCS1]}),
                       pages)
        argv = ["--input", pages]
        want = {"docs_new": 2, "run_id": "submit1"}
    summary = _spark_submit(tmp_path, job, argv + [
        "--output", out, "--run-id", "submit1"])
    assert summary == want
    assert os.path.exists(out + "/text/_SUCCESS")


def test_quality_sidecar_heals_and_never_duplicates(spark, tmp_path):
    """Crash orderings around the quality sidecar: quality rows are
    produced for text rows missing one (self-healing), and a rerun
    never duplicates rows — regardless of run_id reuse."""
    import crawl_job
    import shutil
    land = tmp_path / "warc"
    land.mkdir()
    out = str(tmp_path / "sink")
    _write_archive(land / "c-00000.warc.gz", DOCS1)
    crawl_job.run(spark, _args(input=str(land), output=out,
                               run_id="r1", quality=True))
    # crash between text and quality commits: quality + manifest gone
    shutil.rmtree(out + "/quality")
    shutil.rmtree(out + "/archives")
    s2 = crawl_job.run(spark, _args(input=str(land), output=out,
                                    run_id="r2", quality=True))
    assert s2["docs_new"] == 0                 # text resume exact
    q = spark.read.parquet(out + "/quality")
    assert q.count() == 2                      # healed, once per url
    # crash between quality and manifest, SAME run_id rerun
    shutil.rmtree(out + "/archives")
    crawl_job.run(spark, _args(input=str(land), output=out,
                               run_id="r2", quality=True))
    q2 = spark.read.parquet(out + "/quality")
    assert q2.count() == 2                     # no duplicates
    assert q2.select("url").distinct().count() == 2


_PROSE = (" ".join(["The quick brown fox jumps over the lazy dog, "
                    "and that is the whole story of the morning."] * 8))
QUALITY_DOCS = [
    ("https://q.example/prose", "2026-01-02T00:00:01Z",
     ("<html><body>" + "".join("<p>%s</p>" % _PROSE for _ in range(4))
      + "</body></html>").encode()),
    ("https://q.example/list", "2026-01-02T00:00:02Z",
     "<html><body><ul><li>• first item</li><li>- second item</li>"
     "<li>* third</li></ul><p>Wait for it...</p><p>And more…</p>"
     "<pre>\tindented\x0bline { brace }</pre></body></html>"
     .encode()),
    ("https://q.example/intl", "2026-01-02T00:00:03Z",
     "<html><body><p>İstanbul THE WITH ΣΟΣ the of der und la le "
     "#tag lorem ipsum javascript.</p></body></html>".encode()),
    ("https://q.example/empty", "2026-01-02T00:00:04Z", b""),
]


def test_crawl_quality_sidecar_matches_jvm_form(spark, tmp_path):
    """The crawl job's quality sink (the Python kernel form) equals
    the JVM quality_features over the job's own text sink: every url,
    all 12 feature columns."""
    import crawl_job
    from pyspark.sql import functions as F
    from packages_sgml_spark.core.quality import FIELDS
    from packages_sgml_spark.spark.textops import quality_features
    land = tmp_path / "warc"
    land.mkdir()
    out = str(tmp_path / "sink")
    _write_archive(land / "c-00000.warc.gz",
                   DOCS1 + DOCS2 + QUALITY_DOCS)
    crawl_job.run(spark, _args(input=str(land), output=out,
                               run_id="r1", quality=True))
    names = [name for name, _ in FIELDS]
    text = spark.read.parquet(out + "/text")
    jvm = quality_features(text.select(
        F.col("url").alias("doc_id"),
        F.col("text_extracted").alias("text")))
    want = {r.doc_id: tuple(r[n] for n in names) for r in jvm.collect()}
    got = {r.url: tuple(r[n] for n in names) for r in
           spark.read.parquet(out + "/quality").collect()}
    assert len(want) == len(DOCS1 + DOCS2 + QUALITY_DOCS)
    assert got == want
    # the corpus exercises what the sidecar is for
    assert want["https://q.example/prose"][names.index("gopher_pass")]
    assert want["https://q.example/empty"][-2:] == (None, None)


def test_crawl_job_same_run_id_rerun_counts_each_doc_once(spark,
                                                          tmp_path):
    """A rerun under the same run_id after the manifest commit was
    lost extracts nothing new, so it reports and records nothing new:
    docs_new and the metrics sidecar cover the rows a launch wrote,
    not every text row carrying its run_id."""
    import crawl_job
    import shutil
    land = tmp_path / "warc"
    land.mkdir()
    out = str(tmp_path / "sink")
    _write_archive(land / "c-00000.warc.gz", DOCS1)
    s1 = crawl_job.run(spark, _args(input=str(land), output=out,
                                    run_id="r1"))
    assert s1["docs_new"] == 2
    shutil.rmtree(out + "/archives")
    s2 = crawl_job.run(spark, _args(input=str(land), output=out,
                                    run_id="r1"))
    assert s2["archives"] == 1 and s2["docs_new"] == 0
    metrics = spark.read.parquet(out + "/metrics").collect()
    assert sum(r.docs for r in metrics) == 2
    assert {r.run_id for r in metrics} == {"r1"}
    assert spark.read.parquet(out + "/text").count() == 2


def _pages(spark, tmp_path, n=None):
    """The first `n` (all) sf0.001 documents as a pages parquet
    (docs_as_pages), the extract job's input; returns its path."""
    from packages_sgml_spark.spark.pages import docs_as_pages
    docs = spark.read.parquet(SF + "/documents.parquet")
    path = str(tmp_path / "pages")
    docs_as_pages(docs if n is None else docs.limit(n)) \
        .write.parquet(path)
    return path


def _extract(spark, inp, out, run_id):
    import argparse

    import extract_job
    return extract_job.run(spark, argparse.Namespace(
        input=inp, output=out, run_id=run_id, dialect="html5",
        repartition="auto"))


@needs_sf
def test_extract_job_resume(spark, tmp_path):
    from pyspark.sql import functions as F
    inp = _pages(spark, tmp_path, 40)
    out = str(tmp_path / "sink")
    assert _extract(spark, inp, out, "run1") == {"docs_new": 40,
                                                 "run_id": "run1"}
    # second run: everything done -> 0 new rows, idempotent sink
    assert _extract(spark, inp, out, "run2")["docs_new"] == 0
    assert spark.read.parquet(out + "/text").count() == 40
    m = spark.read.parquet(out + "/metrics")
    assert m.filter(F.col("run_id") == "run1").agg(
        F.sum("docs")).collect()[0][0] == 40


@needs_sf
def test_extract_job_same_run_id_rerun_counts_once(spark, tmp_path):
    """A second pass under the same run_id extracts nothing new, so
    it reports and records nothing new: docs_new and the metrics
    cover the rows a pass wrote, not every text row carrying its
    run_id."""
    inp = _pages(spark, tmp_path, 6)
    out = str(tmp_path / "sink")
    n = [_extract(spark, inp, out, "run1")["docs_new"]
         for _ in range(2)]
    assert n == [6, 0]
    m = spark.read.parquet(out + "/metrics")
    assert m.agg({"docs": "sum"}).collect()[0][0] == 6
    assert spark.read.parquet(out + "/text").count() == 6


@needs_sf
def test_extract_job_text_sink_matches_extract(spark, tmp_path):
    """The extract job's text sink holds extract(nodes=False)'s
    values for every page."""
    from packages_sgml_spark.spark.checkpoint import with_lineage
    from packages_sgml_spark.spark.extract import extract
    inp = _pages(spark, tmp_path)
    out = str(tmp_path / "sink")
    _extract(spark, inp, out, "r")
    cols = ["url", "url_hash", "text_extracted", "n_errors",
            "html_bytes", "status"]
    got = spark.read.parquet(out + "/text").select(*cols).collect()
    want = with_lineage(extract(spark.read.parquet(inp), nodes=False),
                        "r").select(*cols).collect()
    assert len(got) == len(want) == 500
    assert {r.url: tuple(r) for r in got} == \
        {r.url: tuple(r) for r in want}


def _launch_plans(spark, fn):
    """Run fn() and return the plan-node names of each SQL execution
    that it started and that ran a Spark job, in start order."""
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc.listenerBus().waitUntilEmpty()
        it = store.executionsList().iterator()
        while it.hasNext():
            yield it.next()

    mark = max((e.executionId() for e in executions()), default=-1)
    fn()
    plans = []
    for eid in sorted(e.executionId() for e in executions()
                      if e.executionId() > mark and e.jobs().size()):
        nodes = store.planGraph(eid).allNodes().iterator()
        names = []
        while nodes.hasNext():
            names.append(nodes.next().name())
        plans.append(names)
    return plans


def _python_maps(names):
    """The Python map nodes (mapInPandas/mapInArrow) of a plan."""
    return [n for n in names if n in ("MapInPandas", "MapInArrow",
                                      "PythonMapInArrow")]


def test_crawl_job_resumed_launch_starts_with_the_parse(
        spark, tmp_path, monkeypatch):
    """A resumed launch (text and quality sinks exist, a new archive
    landed) reads the sinks it resumes against with their known
    columns: no Spark job runs before the page sink is planned (a
    schema-inference read would run one), and the launch's first SQL
    execution is the parse."""
    import crawl_job
    from packages_sgml_spark.spark import warc
    land = tmp_path / "warc"
    land.mkdir()
    out = str(tmp_path / "sink")
    _write_archive(land / "c-00000.warc.gz", DOCS1)
    crawl_job.run(spark, _args(input=str(land), output=out,
                               run_id="r1", quality=True))
    _write_archive(land / "c-00001.warc.gz", DOCS2)

    tracker = spark.sparkContext.statusTracker()
    group = "resumed-launch"
    jobs_before_sink = []
    sink = warc.warc_text_quality

    def counted(*a, **kw):
        jobs_before_sink.append(len(tracker.getJobIdsForGroup(group)))
        return sink(*a, **kw)

    monkeypatch.setattr(warc, "warc_text_quality", counted)
    summary = {}

    def launch():
        spark.sparkContext.setJobGroup(group, "resumed crawl launch")
        try:
            summary.update(crawl_job.run(spark, _args(
                input=str(land), output=out, run_id="r2",
                quality=True)))
        finally:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id",
                                                None)

    plans = _launch_plans(spark, launch)
    assert summary["docs_new"] == 1
    assert jobs_before_sink == [0]
    # the tracker does see this launch's jobs
    assert list(tracker.getJobIdsForGroup(group))
    # one map reads, decodes, parses and scores the pages
    assert len(_python_maps(plans[0])) == 1, plans[0]


def test_crawl_quality_plan_one_python_pass(spark, tmp_path):
    """A fresh --quality launch sends each page through Python once:
    the only Python map node it executes is the parse's (one map
    reads the archive, decodes, parses and computes the quality
    features), and the quality write reads the parsed rows with no
    Exchange and no second Python pass."""
    import crawl_job
    land = tmp_path / "warc"
    land.mkdir()
    out = str(tmp_path / "sink")
    _write_archive(land / "c-00000.warc.gz",
                   DOCS1 + DOCS2 + QUALITY_DOCS)
    plans = _launch_plans(spark, lambda: crawl_job.run(
        spark, _args(input=str(land), output=out, run_id="r1",
                     quality=True)))
    assert sum(len(_python_maps(p)) for p in plans) == 1, plans
    assert len(_python_maps(plans[0])) == 1
    writes = [p for p in plans
              if "Execute InsertIntoHadoopFsRelationCommand" in p]
    assert len(writes) == 2                    # text, then quality
    for names in writes:
        assert not _python_maps(names) and "Exchange" not in names, \
            names


def _passing_doc(url):
    """A page whose text passes both the Gopher rules and the C4
    line filter."""
    return (url, "2026-01-02T00:00:05Z",
            ("<html><body>" + "\n".join("<p>%s</p>" % _PROSE
                                        for _ in range(4))
             + "</body></html>").encode())


def test_quality_sidecar_mixed_resume(spark, tmp_path):
    """Run 1 with --quality, its quality sink lost, a new archive
    lands, run 2 with --quality: run 2 sides its own fresh urls from
    the parse pass and run 1's orphaned text rows by the repair pass,
    every url of both runs exactly once, and docs_pass_quality counts
    the passing rows of both."""
    import crawl_job
    import shutil
    from packages_sgml_spark.core.quality import FIELDS, features
    land = tmp_path / "warc"
    land.mkdir()
    out = str(tmp_path / "sink")
    run1 = DOCS1 + [_passing_doc("https://q.example/pass1")]
    run2 = DOCS2 + QUALITY_DOCS + [_passing_doc("https://q.example/pass2")]
    _write_archive(land / "c-00000.warc.gz", run1)
    crawl_job.run(spark, _args(input=str(land), output=out,
                               run_id="r1", quality=True))
    shutil.rmtree(out + "/quality")
    _write_archive(land / "c-00001.warc.gz", run2)
    s2 = crawl_job.run(spark, _args(input=str(land), output=out,
                                    run_id="r2", quality=True))
    assert s2["archives"] == 1 and s2["docs_new"] == len(run2)
    text = {r.url: r.text_extracted for r in
            spark.read.parquet(out + "/text").collect()}
    q = spark.read.parquet(out + "/quality").collect()
    assert len(text) == len(run1 + run2)
    assert sorted(r.url for r in q) == sorted(text)
    names = [name for name, _ in FIELDS]
    for r in q:
        assert tuple(r[n] for n in names) == features(text[r.url])
        assert r.run_id == "r2"
    passed = sorted(r.url for r in q
                    if r.gopher_pass == 1 and r.c4_keep == 1)
    assert passed == ["https://q.example/pass1",
                      "https://q.example/pass2"]
    assert s2["docs_pass_quality"] == 2


# (name, arrow type, nullable) of each crawl sink's part files, as
# every launch since the sinks were introduced has written them
CRAWL_SINK_SCHEMAS = {
    "text": [("url", "string", True), ("url_hash", "int64", False),
             ("text_extracted", "string", True),
             ("n_errors", "int32", True), ("html_bytes", "int64", True),
             ("status", "string", True), ("run_id", "string", False),
             ("partition_id", "int32", False)],
    "metrics": [("run_id", "string", True),
                ("partition_id", "int32", True),
                ("docs", "int64", False), ("bytes", "int64", True),
                ("parse_errors", "int64", True),
                ("failed_docs", "int64", True),
                ("url_hash_min", "int64", True),
                ("url_hash_max", "int64", True),
                ("updated_at_ms", "int64", True)],
    "quality": [("url", "string", True), ("n_words", "int64", False),
                ("mean_word_len", "double", True),
                ("symbol_ratio", "double", True),
                ("bullet_frac", "double", True),
                ("ellipsis_frac", "double", True),
                ("alpha_word_frac", "double", True),
                ("n_stop_hits", "int32", False),
                ("gopher_pass", "int32", True),
                ("n_kept", "int32", False), ("c4_keep", "int32", False),
                ("lang_pred", "string", True),
                ("lang_score", "int32", True),
                ("run_id", "string", False)],
}


def test_crawl_sink_schemas_pinned(spark, tmp_path):
    """A fresh --quality launch writes the text, metrics and quality
    sinks with their established names, types and nullability, both in
    each part file and in the Spark schema its footer carries."""
    import glob
    import pyarrow.parquet as pq
    import crawl_job
    land = tmp_path / "warc"
    land.mkdir()
    out = str(tmp_path / "sink")
    _write_archive(land / "c-00000.warc.gz",
                   DOCS1 + DOCS2 + QUALITY_DOCS)
    crawl_job.run(spark, _args(input=str(land), output=out,
                               run_id="r1", quality=True))
    for sink, want in CRAWL_SINK_SCHEMAS.items():
        parts = glob.glob(os.path.join(out, sink, "part-*.parquet"))
        assert parts, sink
        for part in parts:
            s = pq.read_schema(part)
            assert [(f.name, str(f.type), f.nullable)
                    for f in s] == want, (sink, part)
            row = json.loads(
                s.metadata[b"org.apache.spark.sql.parquet.row.metadata"])
            assert [(f["name"], f["nullable"]) for f in row["fields"]] \
                == [(n, null) for n, _t, null in want], (sink, part)


def test_crawl_job_markdown_text_format(spark, tmp_path):
    """--text-format markdown writes Markdown into text_extracted
    with the same schema/lineage/resume semantics — and the value
    matches extract_markdown's renderer exactly."""
    import crawl_job
    land = tmp_path / "warc"
    land.mkdir()
    _write_archive(str(land / "a.warc.gz"), [
        ("https://m.example/1", "2026-01-01T00:00:01Z",
         b"<html><body><h1>Title</h1><p>alpha <b>bold</b> and "
         b"<a href='https://m.example/r'>ref</a></p></body></html>"),
    ])
    out = str(tmp_path / "sink")
    s = crawl_job.run(spark, _args(input=str(land) + "/*.warc.gz",
                                   output=out,
                                   text_format="markdown"))
    assert s["docs_new"] == 1
    row = spark.read.parquet(out + "/text").collect()[0]
    assert row.text_extracted == (
        "# Title\n\nalpha **bold** and [ref](https://m.example/r)")
    # resume still no-ops on a second run
    s2 = crawl_job.run(spark, _args(input=str(land) + "/*.warc.gz",
                                    output=out,
                                    text_format="markdown"))
    assert s2["archives"] == 0 and s2["docs_new"] == 0


def test_extract_text_format_matches_extract_markdown(spark):
    """extract(text_format='markdown') and extract_markdown render
    identical markdown for the same pages (one renderer, two
    surfaces), and the invalid combinations raise."""
    from packages_sgml_spark.spark.extract import (extract,
                                                   extract_markdown)
    from packages_sgml_spark.spark.pages import synthetic_pages
    from packages_sgml_spark.spark.queries import ensure_workers
    ensure_workers(spark)
    pages = synthetic_pages(spark, 40, scale=2, unique_links=True,
                            empty_tags=True)
    a = {r.url: r.text_extracted
         for r in extract(pages, nodes=False,
                          text_format="markdown").collect()}
    b = {r.url: r.markdown for r in extract_markdown(pages).collect()}
    assert a == b and len(a) == 40
    import pytest
    with pytest.raises(ValueError):
        extract(pages, nodes=True, text_format="markdown")
    with pytest.raises(ValueError):
        extract(pages, nodes=False, text_format="tokens")


MANIFESTS = {
    "stages": ("stage string, run_id string, rows long, params string",
               [("decisions", "cur-1", 5, '{"n_shards": 4}'),
                ("clean", None, None, "")]),
    "archives": ("warc_file string, run_id string",
                 [("file:/land/a-00000.warc.gz", "r1"),
                  ("file:/land/a-00001.warc.gz", None)]),
}


@pytest.mark.parametrize("manifest", sorted(MANIFESTS))
def test_append_rows_matches_spark_write(spark, tmp_path, manifest):
    """The driver-written manifest part reads back with exactly the
    schema (names, types, nullability) of the createDataFrame write it
    replaces, shares a directory with Spark-written parts (outputs of
    earlier runs still resume), leaves _SUCCESS and no temp file, and
    launches no Spark job."""
    from packages_sgml_spark.spark.checkpoint import append_rows
    ddl, rows = MANIFESTS[manifest]
    spark_dir = str(tmp_path / "spark")
    spark.createDataFrame(rows[:1], ddl).coalesce(1) \
        .write.mode("append").parquet(spark_dir)
    want = spark.read.parquet(spark_dir).schema

    sc = spark.sparkContext
    group = "append-rows-" + manifest
    sc.setJobGroup(group, "append_rows must not run a job")
    try:
        drv_dir = str(tmp_path / "driver")
        append_rows(spark, drv_dir, rows, ddl)
        append_rows(spark, spark_dir, rows[1:], ddl)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the tracker does see jobs of this group
        spark.read.parquet(drv_dir).collect()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    got = spark.read.parquet(drv_dir)
    assert got.schema == want
    assert sorted(got.collect(), key=str) == sorted(
        spark.createDataFrame(rows, ddl).collect(), key=str)
    mixed = spark.read.parquet(spark_dir)
    assert mixed.schema == want
    assert sorted(mixed.collect(), key=str) == sorted(
        spark.createDataFrame(rows, ddl).collect(), key=str)
    for d in (drv_dir, spark_dir):
        names = os.listdir(d)
        assert "_SUCCESS" in names
        assert not [n for n in names if "_tmp" in n], names
    assert len([n for n in os.listdir(spark_dir)
                if n.endswith(".parquet")]) == 2


def test_read_rows_reads_back_every_part(spark, tmp_path):
    """read_rows is append_rows' twin: no sink, or a sink with no part
    files, has no rows; driver-written and Spark-written parts read
    back together (a manifest from an older run still resumes); a
    corrupt part raises instead of reading as "nothing done"; and no
    Spark job runs."""
    from packages_sgml_spark.spark.checkpoint import (append_rows,
                                                      read_rows)
    ddl, rows = MANIFESTS["archives"]
    sink = str(tmp_path / "archives")
    crashed = tmp_path / "crashed"
    (crashed / "_temporary" / "0").mkdir(parents=True)
    spark.createDataFrame(rows[:1], ddl).coalesce(1) \
        .write.mode("append").parquet(sink)

    sc = spark.sparkContext
    group = "read-rows"
    sc.setJobGroup(group, "read_rows must not run a job")
    try:
        assert read_rows(spark, str(tmp_path / "missing")) == []
        assert read_rows(spark, str(crashed)) == []
        append_rows(spark, sink, rows[1:], ddl)
        got = read_rows(spark, sink)
        assert read_rows(spark, sink, ["warc_file"]) == [
            (r[0],) for r in got]
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted(got, key=str) == sorted(rows, key=str)
    assert sorted(got, key=str) == sorted(
        (tuple(r) for r in spark.read.parquet(sink).collect()), key=str)

    (tmp_path / "archives" / "part-99999-junk.snappy.parquet") \
        .write_bytes(b"not a parquet file")
    import pyarrow as pa
    with pytest.raises(pa.ArrowInvalid):
        read_rows(spark, sink)


def _curate_args(**kw):
    import argparse
    base = dict(run_id="cur-test", id_col="doc_id", text_col="text",
                strip_spans=False, ngram=8, min_kept_words=5,
                n_shards=4)
    base.update(kw)
    return argparse.Namespace(**base)


def _curate_corpus(spark):
    """Planted curation funnel: an exact-dup pair (dedup removes one),
    a word-soup doc (quality removes it), and two distinct good docs
    sharing one 8-word boilerplate sentence (span strip cuts it from
    BOTH while their unique text survives)."""
    fox = "\n".join(
        ["The quick brown fox jumps over the lazy dog and then "
         "runs back to the barn with a bone that it found near "
         "the old oak tree by the river."] * 4)
    boiler = "all rights reserved contact the site owner today"
    uniq_a = ("The morning market opened early and the vendors "
              "sold fresh bread with cheese and fruit to the "
              "people walking past the long wooden stalls.\n"
              "The harbour was busy at dawn when the boats came "
              "in and the gulls circled over the nets in the "
              "cold air.\n"
              "The fishers counted their catch beside the stone "
              "pier while the carts rolled up the narrow lane "
              "toward the square.")
    uniq_b = ("A quiet library stood at the end of the street "
              "and the readers came each evening to borrow the "
              "old books about the sea.\n"
              "The lamps burned softly over the long tables "
              "while the keeper stamped each card by hand at "
              "the desk.\n"
              "Nobody spoke above a whisper and the clock on "
              "the wall counted the hours until the doors were "
              "closed for the night.")
    return spark.createDataFrame(
        [(1, fox), (2, fox),
         (3, ("zq wx kv jn " * 20).strip()),
         (4, uniq_a + "\n" + boiler),
         (5, uniq_b + "\n" + boiler)],
        "doc_id long, text string")


def test_curate_job_end_to_end_with_strip(spark, tmp_path):
    from pyspark.sql import functions as F

    from jobs.curate_job import run as curate_run
    docs = _curate_corpus(spark)
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)
    out = str(tmp_path / "cur")
    summary = curate_run(spark, _curate_args(
        input=inp, output=out, strip_spans=True))
    # funnel: 5 in; doc 2 fails dedup; doc 3 fails quality
    assert summary["docs_in"] == 5
    assert summary["pass_dedup"] == 4
    assert summary["docs_kept"] == 3
    assert summary["docs_out"] == 3
    assert summary["tokens_after_strip"] < summary[
        "tokens_before_strip"]
    clean = {r.doc_id: r for r in
             spark.read.parquet(out + "/clean").collect()}
    assert set(clean) == {1, 4, 5}
    # the fox doc repeats only WITHIN itself (its dup was removed
    # BEFORE the span pass — Lee et al. order), so it keeps all text
    assert clean[1].n_kept == clean[1].n_words
    # the shared boilerplate sentence (8 words = one cross-doc
    # duplicated 8-gram) is cut from BOTH survivors
    for d in (4, 5):
        assert clean[d].n_kept == clean[d].n_words - 8, clean[d]
        assert "rights reserved" not in clean[d].text
        # original case preserved (only whitespace is reflowed)
        assert clean[d].text.startswith(("The morning", "A quiet"))
    # shard layout: every clean doc exactly once, ranks contiguous
    shards = spark.read.parquet(out + "/shards")
    assert {r.doc_id for r in shards.collect()} == {1, 4, 5}
    per = shards.groupBy("shard").agg(
        F.count("*").alias("n"), F.max("shard_pos").alias("mx"))
    assert all(r.n == r.mx for r in per.collect())


def test_curate_job_stage_level_resume(spark, tmp_path):
    import glob
    import os

    from jobs.curate_job import run as curate_run
    docs = _curate_corpus(spark)
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)
    out = str(tmp_path / "cur")
    s1 = curate_run(spark, _curate_args(input=inp, output=out))
    assert s1["resumed_stages"] == []
    dec_parts = sorted(glob.glob(out + "/decisions/*.parquet"))
    mtimes = [os.path.getmtime(p) for p in dec_parts]

    # full rerun: every stage skipped, sinks untouched, same funnel
    s2 = curate_run(spark, _curate_args(input=inp, output=out,
                                        run_id="cur-test-2"))
    assert s2["resumed_stages"] == ["clean", "decisions",
                                    "metrics", "shards"]
    assert [os.path.getmtime(p) for p in dec_parts] == mtimes
    for k in ("docs_in", "docs_kept", "docs_out"):
        assert s2[k] == s1[k]

    # crash simulation: the manifest rows for shards+metrics never
    # landed -> only those two stages recompute; decisions untouched
    man = spark.read.parquet(out + "/stages") \
        .filter("stage IN ('decisions', 'clean')").collect()
    import shutil
    shutil.rmtree(out + "/stages")
    spark.createDataFrame(man).coalesce(1) \
        .write.parquet(out + "/stages")
    s3 = curate_run(spark, _curate_args(input=inp, output=out,
                                        run_id="cur-test-3"))
    assert s3["resumed_stages"] == ["clean", "decisions"]
    assert [os.path.getmtime(p) for p in dec_parts] == mtimes
    assert s3["docs_out"] == s1["docs_out"]
    shards = spark.read.parquet(out + "/shards")
    assert shards.count() == s1["docs_out"]


def test_curate_job_all_filtered_corpus(spark, tmp_path):
    """A corpus where every doc fails quality must complete, not
    crash: an empty PARTITIONED shards sink has no part files at all
    (partitionBy writes nothing for 0 rows) and reads as
    UNABLE_TO_INFER_SCHEMA — the job must treat that as a valid
    empty result, and a rerun must still resume every stage."""
    from jobs.curate_job import run as curate_run
    docs = spark.createDataFrame(
        [(i, "zq wx kv jn " * 20) for i in range(4)],
        "doc_id long, text string")
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)
    out = str(tmp_path / "cur")
    s1 = curate_run(spark, _curate_args(
        input=inp, output=out, strip_spans=True))
    assert s1["docs_in"] == 4 and s1["docs_kept"] == 0
    assert s1["docs_out"] == 0
    s2 = curate_run(spark, _curate_args(
        input=inp, output=out, strip_spans=True, run_id="rerun"))
    assert s2["resumed_stages"] == ["clean", "decisions",
                                    "metrics", "shards"]
    assert s2["docs_out"] == 0


def test_curate_job_refuses_stale_resume(spark, tmp_path):
    """Resume against a manifest written under DIFFERENT parameters
    (or a changed corpus) must refuse loudly, not silently reuse
    sinks computed under the old contract."""
    import pytest as _pytest

    from jobs.curate_job import run as curate_run
    docs = _curate_corpus(spark)
    inp = str(tmp_path / "docs")
    docs.write.parquet(inp)
    out = str(tmp_path / "cur")
    curate_run(spark, _curate_args(input=inp, output=out,
                                   n_shards=8))
    with _pytest.raises(ValueError, match="different parameters"):
        curate_run(spark, _curate_args(input=inp, output=out,
                                       n_shards=64))
    # same params, grown corpus under the same input path
    docs.limit(2).withColumn(
        "doc_id", docs.doc_id + 100).write.mode("append").parquet(inp)
    with _pytest.raises(ValueError, match="corpus changed"):
        curate_run(spark, _curate_args(input=inp, output=out,
                                       n_shards=8))


def test_crawl_to_curate_pipeline(spark, tmp_path):
    """The two jobs compose as documented: crawl_job's text sink is
    curate_job's input with --id-col url --text-col text_extracted.
    String doc ids flow through every stage (dedup components,
    span-strip, md5 sharding all order/hash strings fine)."""
    import crawl_job

    from jobs.curate_job import run as curate_run
    land = tmp_path / "warc"
    land.mkdir()
    sink = str(tmp_path / "sink")
    _write_archive(land / "c-00000.warc.gz", DOCS1)
    crawl_job.run(spark, _args(input=str(land), output=sink,
                               run_id="r1"))
    out = str(tmp_path / "cur")
    summary = curate_run(spark, _curate_args(
        input=sink + "/text", output=out, id_col="url",
        text_col="text_extracted", strip_spans=True))
    # tiny pages fail the quality gates (same as the crawl-job
    # quality sidecar asserts) — the funnel completes regardless
    assert summary["docs_in"] == 2
    assert summary["pass_dedup"] == 2      # distinct texts
    assert summary["docs_kept"] == 0       # gopher rejects tiny docs
    dec = {r.doc_id: r for r in
           spark.read.parquet(out + "/decisions").collect()}
    assert sorted(dec) == ["https://j.example/1",
                           "https://j.example/2"]
    assert all(r.keep_dedup == 1 for r in dec.values())


@pytest.mark.slow
def test_spark_submit_curate_launch(spark, tmp_path):
    """The curation job's real launch mode."""
    inp = str(tmp_path / "docs")
    _curate_corpus(spark).write.parquet(inp)
    out = str(tmp_path / "cur")
    summary = _spark_submit(tmp_path, "curate_job", [
        "--input", inp, "--output", out, "--run-id", "submit-cur",
        "--strip-spans", "--n-shards", "4"])
    assert summary["docs_in"] == 5 and summary["docs_out"] == 3
    assert os.path.exists(out + "/stages/_SUCCESS")
    assert os.path.exists(out + "/decisions/_SUCCESS")
