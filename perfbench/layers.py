"""Measurement helpers: input sizes, the process-tree RSS sampler and
the traced per-layer run.

The traced run keeps spans (name, start, end, parent, run id) in
memory around each call into a layer, reads Spark's own status stores
for the engine counters, and writes everything to
``.perfbench_work/traces/`` when the run ends.  It touches the program
only through its public functions.
"""

import contextlib
import os
import sys
import threading
import time

import inputs

PAGE = os.sysconf("SC_PAGE_SIZE")


def sizes(workload, scale=1.0):
    """Input-size keyword arguments for a workload at ``scale``."""
    if workload == "crawl":
        return {"n_pages": max(120, int(inputs.CRAWL_PAGES * scale)),
                "n_archives": max(2, int(inputs.CRAWL_ARCHIVES * scale))}
    return {"n_docs": max(200, int(inputs.CURATE_DOCS * scale))}


# ---------------------------------------------------------------- RSS

def _children():
    kids = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name) as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_mb(root_pid=None):
    """Summed RSS of ``root_pid`` and all its descendants: this process,
    its JVM and the Python daemon and workers the JVM forks.  Only java
    and python processes count: the JVM briefly forks helpers (chmod,
    bash) whose RSS, before they exec, repeats the JVM's own."""
    kids = _children()
    todo, total = [root_pid or os.getpid()], 0
    while todo:
        pid = todo.pop()
        try:
            with open("/proc/%d/comm" % pid) as f:
                comm = f.read().strip()
            if comm == "java" or comm.startswith("python"):
                with open("/proc/%d/statm" % pid) as f:
                    total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
        todo.extend(kids.get(pid, ()))
    return total / 1e6


class RssSampler:
    """Peak process-tree RSS between start() and stop(), sampled every
    ``interval`` seconds on a background thread."""

    def __init__(self, interval=0.1):
        self.interval = interval
        self._stop = threading.Event()
        self._thread = None
        self.peak = 0.0

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.interval)

    def start(self):
        self.peak = tree_rss_mb()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb())
        return self.peak


# -------------------------------------------------------------- spans

class Tracer:
    """In-memory spans: name, start, end, parent index, run id."""

    def __init__(self, run_id):
        self.run_id = run_id
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def add(self, name, start, end):
        """A span measured elsewhere (a sink commit interval), under
        the current span."""
        self.spans.append({"name": name, "start": start, "end": end,
                           "run_id": self.run_id,
                           "parent": self._stack[-1] if self._stack
                           else None})

    def seconds(self, name):
        """Duration of the last span called ``name``."""
        for rec in reversed(self.spans):
            if rec["name"] == name:
                return rec["end"] - rec["start"]
        raise KeyError(name)


def timed(tracer, name, fn):
    with tracer.span(name):
        return fn()


def noop(df):
    """Execute a DataFrame fully without collecting it."""
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------------- engine

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def _metric_total(text):
    """Total of a formatted SQL metric ('total (min, ...)\\n1.2 MiB
    (...)' or a bare number) in bytes or seconds."""
    line = text.split("\n")[-1] if "\n" in text else text
    parts = line.split()
    try:
        value = float(parts[0].replace(",", ""))
    except (IndexError, ValueError):
        return 0.0
    unit = parts[1] if len(parts) > 1 else ""
    return value * _UNITS.get(unit, 1.0)


class Engine:
    """Spark's own counters for everything run between mark() and
    since(): stage metrics from the core status store (the 5-argument
    stageList overload, since py4j cannot fill Scala default
    arguments) and per-operator SQL metrics."""

    SQL = {"time to start Python workers": "python_boot_s",
           "data sent to Python workers": "python_sent_mb",
           "data returned from Python workers": "python_returned_mb"}

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()

    def _stages(self):
        self.sc.listenerBus().waitUntilEmpty()
        gw = self.spark.sparkContext._gateway
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        it = self.sc.statusStore().stageList(
            None, False, False, no_quantiles, None).iterator()
        while it.hasNext():
            yield it.next()

    def _executions(self):
        it = self.sql_store.executionsList().iterator()
        while it.hasNext():
            yield it.next()

    def mark(self):
        stages = [s.stageId() for s in self._stages()]
        execs = [e.executionId() for e in self._executions()]
        return (max(stages, default=-1), max(execs, default=-1))

    def since(self, mark, wall_s, cores):
        stage_mark, exec_mark = mark
        m = {"executor_run_s": 0.0, "executor_cpu_s": 0.0,
             "jvm_gc_s": 0.0, "shuffle_write_mb": 0.0,
             "shuffle_read_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0,
             "tasks": 0, "python_boot_s": 0.0, "python_sent_mb": 0.0,
             "python_returned_mb": 0.0}
        for s in self._stages():
            if s.stageId() <= stage_mark:
                continue
            m["executor_run_s"] += s.executorRunTime() / 1e3
            m["executor_cpu_s"] += s.executorCpuTime() / 1e9
            m["jvm_gc_s"] += s.jvmGcTime() / 1e3
            m["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            m["shuffle_read_mb"] += s.shuffleReadBytes() / 1e6
            m["spill_mb"] += (s.memoryBytesSpilled() +
                              s.diskBytesSpilled()) / 1e6
            m["input_mb"] += s.inputBytes() / 1e6
            m["tasks"] += s.numCompleteTasks()
        for e in self._executions():
            if e.executionId() <= exec_mark:
                continue
            names = {}
            it = e.metrics().iterator()
            while it.hasNext():
                pm = it.next()
                if pm.name() in self.SQL:
                    names[pm.accumulatorId()] = self.SQL[pm.name()]
            if not names:
                continue
            values = self.sql_store.executionMetrics(e.executionId())
            for acc, key in names.items():
                v = values.get(acc)
                if v.isDefined():
                    total = _metric_total(v.get())
                    m[key] += total / 1e6 if key.endswith("_mb") else total
        m["cpu_busy_frac"] = m["executor_cpu_s"] / (wall_s * cores)
        return {"engine." + k: v for k, v in m.items()}


UNITS = {"_s": "s", "_mb": "MB", "_mb_per_s": "MB/s", "_frac": "ratio"}


def unit_of(name):
    for suffix in ("_mb_per_s", "_frac", "_mb", "_s"):
        if name.endswith(suffix):
            return UNITS[suffix]
    return "count"


# ------------------------------------------------------ layer probes

def crawl_layers(spark, tracer, wl, out, cores):
    """WARC decode, parser, page read, extract and quality-filter
    layers, on the crawl corpus and the traced iteration's sinks."""
    import pyarrow.parquet as pq
    from packages_sgml_spark.core.parser import NodeTableParser
    from packages_sgml_spark.core.warc import (http_content_type,
                                               iter_warc_records,
                                               sniff_charset,
                                               split_http_response,
                                               to_utf8)
    from packages_sgml_spark.spark.extract import extract
    from packages_sgml_spark.spark.textops import quality_features
    from packages_sgml_spark.spark.warc import warc_pages
    from workloads import parse_text, text_options
    m = {}
    corpus = wl.corpus

    def decode(paths):
        n = 0
        for path in paths:
            with open(path, "rb") as f:
                data = f.read()
            for rec in iter_warc_records(data):
                _status, headers, payload = split_http_response(rec.body)
                _mime, charset = http_content_type(headers)
                payload, _err = to_utf8(payload,
                                        sniff_charset(payload, charset))
                n += len(payload)
        return n

    sample = inputs.sample(wl.seed, corpus.archive_paths, 2)
    n = timed(tracer, "core.warc.decode", lambda: decode(sample))
    m["core.warc.decode_mb_per_s"] = (n / 1e6 /
                                      tracer.seconds("core.warc.decode"))

    parseable = {u: h for u, h in corpus.pages.items()
                 if 0 < len(h) <= inputs.MAX_HTML_BYTES}
    pages = [parseable[u] for u in
             inputs.sample(wl.seed, sorted(parseable), 400)]
    n_sample = sum(len(h) for h in pages)

    def parse_nodes():
        for h in pages:
            NodeTableParser(text_options()).parse(h)

    timed(tracer, "core.parser.text", lambda: [parse_text(h)
                                               for h in pages])
    timed(tracer, "core.parser.nodes", parse_nodes)
    rate = n_sample / 1e6 / tracer.seconds("core.parser.text")
    m["core.parser.text_mb_per_s"] = rate
    m["core.parser.cpu_s"] = sum(len(h) for h in parseable.values()) \
        / 1e6 / rate
    m["core.parser.nodes_mb_per_s"] = (n_sample / 1e6 /
                                       tracer.seconds("core.parser.nodes"))

    def read_pages():
        return warc_pages(spark, corpus.archive_paths, statuses=(200,))
    timed(tracer, "spark.warc.read", lambda: noop(read_pages()))
    m["spark.warc.read_s"] = tracer.seconds("spark.warc.read")
    cached = read_pages().cache()
    cached.count()
    timed(tracer, "spark.extract.sink",
          lambda: noop(extract(cached, dialect="html5", nodes=False)))
    cached.unpersist()
    m["spark.extract.sink_s"] = tracer.seconds("spark.extract.sink")
    m["spark.extract.boundary_frac"] = 1 - m["core.parser.cpu_s"] / (
        m["spark.extract.sink_s"] * cores)

    statuses = pq.read_table(os.path.join(out, "text"),
                             columns=["status"]).column(0).to_pylist()
    for status in ("ok", "empty", "too_large", "exception"):
        m["spark.extract.rows." + status] = statuses.count(status)
    docs = spark.read.parquet(os.path.join(out, "text")).selectExpr(
        "url AS doc_id", "text_extracted AS text")
    timed(tracer, "spark.textops.quality_features",
          lambda: noop(quality_features(docs)))
    m["spark.textops.quality_features_s"] = tracer.seconds(
        "spark.textops.quality_features")
    return m


def curate_layers(spark, tracer, wl, out, summary):
    """The three curation filters, each run alone into a noop sink on
    the inputs the job gave it."""
    from pyspark.sql import functions as F
    from packages_sgml_spark.spark.datafilters import (corpus_keep,
                                                       dedup_spans,
                                                       shard_assign)
    docs = spark.read.parquet(wl.corpus.path).select("doc_id", "text")
    kept = docs.join(spark.read.parquet(os.path.join(out, "decisions"))
                     .filter(F.col("keep") == 1).select("doc_id"),
                     "doc_id")
    clean = spark.read.parquet(os.path.join(out, "clean"))
    for name, df in (("corpus_keep", lambda: corpus_keep(docs)),
                     ("dedup_spans", lambda: dedup_spans(kept, n=8)),
                     ("shard_assign", lambda: shard_assign(clean, 8))):
        timed(tracer, "spark.datafilters." + name, lambda: noop(df()))
    m = {"spark.datafilters.%s_s" % name:
         tracer.seconds("spark.datafilters." + name)
         for name in ("corpus_keep", "dedup_spans", "shard_assign")}
    m["spark.datafilters.keep_frac"] = (summary["docs_kept"] /
                                        summary["docs_in"])
    return m


# The benchmark's own copy of the 16 headline leaves: the set it measures
# stays fixed even when the program's registries are reorganised.
HEADLINE = (
    "extract_text", "extract_title", "element_histogram",
    "pricing_summary", "top_customers", "events_hourly",
    "top_event_per_user", "lang_id", "quality", "token_count",
    "fingerprint", "dedup_exact", "minhash_lsh_pairs", "simhash",
    "knn_cosine", "knn_lsh")


def _load_tool(name):
    import importlib.util
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", name + ".py")
    spec = importlib.util.spec_from_file_location("perfbench_" + name,
                                                  path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def query_leaves(spark, tracer, table_dir, seed, leaves=HEADLINE,
                 registry=None):
    """One pass over the headline leaves in a seeded order: plan build
    (including eager collects) and execution with the rows collected
    into this process, each its own span.  Outside the spans each leaf's
    value hash is compared with its DuckDB oracle over the same
    parquet files.  Returns (metrics, failing leaves)."""
    import duckdb
    import __spark_entry__ as entry
    table_hash = _load_tool("check_correctness").table_hash
    registry = registry or entry.queries()
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for name in os.listdir(table_dir):
        if name.endswith(".parquet"):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                        % (name[:-8], os.path.join(table_dir, name)))
    m, failed = {}, []
    for leaf in inputs.sample(seed, leaves, len(leaves)):
        try:
            with tracer.span("spark.queries." + leaf):
                df = timed(tracer, "plan",
                           lambda: registry[leaf](spark, table_dir))
                rows = timed(tracer, "exec", df.collect)
            got = table_hash(df.columns, [tuple(r) for r in rows])
            cur = con.execute(oracles[leaf])
            want = table_hash([d[0] for d in cur.description],
                              cur.fetchall())
        except Exception as ex:          # noqa: BLE001 - counted
            failed.append("%s: %r" % (leaf, ex))
            continue
        m["spark.queries.%s.plan_s" % leaf] = tracer.seconds("plan")
        m["spark.queries.%s.exec_s" % leaf] = tracer.seconds("exec")
        if got != want:
            failed.append(leaf)
    con.close()
    return m, failed


# --------------------------------------------------------- traced run

def traced_iteration(spark, tracer, wl, cores):
    """One job run under a span, with the sink-commit stage spans and
    the engine counters it caused."""
    from workloads import stage_times
    engine = Engine(spark)
    mark = engine.mark()
    with tracer.span(wl.name):
        out, t0, wall, summary = wl.run_once(spark)
        stages = stage_times(out, t0, wl.stages)
        # sink mtimes are wall-clock; spans use perf_counter
        t = t0 + time.perf_counter() - time.time()
        for stage, secs in stages.items():
            tracer.add("%s_job.%s" % (wl.name, stage), t, t + secs)
            t += secs
    m = {"%s_job.%s_s" % (wl.name, k): v for k, v in stages.items()}
    return out, wall, summary, m, engine.since(mark, wall, cores)


def traced_run(spark, wl, args, setup, work, cores):
    """Per-layer metrics for every layer plus, for ``wl``, the engine
    counters and the tracing overhead (traced wall_s - untraced
    wall_s).  Returns (metrics, attempted, failed)."""
    import json
    from workloads import WORKLOADS
    tracer = Tracer("%s-%d" % (wl.name, args.seed))
    metrics = {"session.get_spark_s": setup["get_spark_s"],
               "session.ensure_workers_s": setup["ensure_workers_s"]}
    attempted = failed = 0

    def checked(w, out, summary):
        nonlocal attempted, failed
        attempted += 1
        fails = w.check(out, summary)
        if fails:
            failed += 1
            print("output check failed: %s" % fails[:5], file=sys.stderr)

    out, _t0, untraced, summary = wl.run_once(spark)
    checked(wl, out, summary)
    wl.cleanup(out)
    runs = {}
    for name, cls in sorted(WORKLOADS.items(),
                            key=lambda kv: kv[0] != wl.name):
        w = wl if name == wl.name else cls(
            os.path.join(work, name), args.seed, **sizes(name, args.scale))
        out, wall, summary, stage_m, engine_m = traced_iteration(
            spark, tracer, w, cores)
        checked(w, out, summary)
        metrics.update(stage_m)
        if name == wl.name:
            metrics.update(engine_m)
            metrics["trace.overhead_s"] = wall - untraced
        runs[name] = (w, out, summary)
    w, out, _summary = runs["crawl"]
    metrics.update(crawl_layers(spark, tracer, w, out, cores))
    w, out, summary = runs["curate"]
    metrics.update(curate_layers(spark, tracer, w, out, summary))
    for w, out, _summary in runs.values():
        w.cleanup(out)

    table_dir = os.path.join(work, "tables")
    inputs.make_tables(table_dir, args.seed, scale=args.scale)
    leaf_m, bad = query_leaves(spark, tracer, table_dir, args.seed)
    metrics.update(leaf_m)
    attempted += len(HEADLINE)
    failed += len(bad)
    if bad:
        print("query leaves wrong: %s" % bad, file=sys.stderr)

    trace_dir = os.path.join(os.path.dirname(work), "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, "%s.json" % tracer.run_id), "w") as f:
        json.dump({"spans": tracer.spans, "metrics": metrics}, f)
    return metrics, attempted, failed
