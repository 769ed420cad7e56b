#!/usr/bin/env python3
"""End-to-end benchmark for packages_sgml_spark.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 \
        --trace 0

Run from the root of a source checkout.  One process: it generates the
workload's inputs from ``--seed``, then launches the workload's job as
a closed loop with one client for ``--seconds``, each launch in a fresh
local Spark session sized to the machine (``cpus = nproc``, JVM heap
below physical RAM, Spark scratch space inside the checkout), and
checks every output outside the timed region.

Workloads (see BENCHMARK.json for why each was chosen):

- ``crawl``:  ``jobs/crawl_job.run(quality=True)`` over seeded
  .warc.gz archives;
- ``curate``: ``jobs/curate_job.run(strip_spans=True)`` over a seeded
  documents parquet.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the run also
executes a traced pass over every layer and prints the per-layer
metrics instead (see layers.py).  Everything the run writes lives under
``.perfbench_work/`` in the checkout.
"""

import argparse
import ctypes
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PR_SET_CHILD_SUBREAPER = 36


def nproc():
    return len(os.sched_getaffinity(0))


def configure_env():
    """Fit the session to the machine and keep every file it writes
    inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local"),
              os.path.join(WORK, "cspeed")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher's too
    os.environ["JAVA_TOOL_OPTIONS"] = ("-Djava.io.tmpdir=%s -XX:-UsePerfData"
                                       % tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SGML_CSPEED_DIR"] = os.path.join(WORK, "cspeed")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # get_spark's 16g default heap can exceed physical RAM; a 2g heap
    # holds both workloads (see start_session for its pre-touch)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    tempfile.tempdir = None            # re-read TMPDIR


def adopt_descendants():
    """Make this process the reaper of every process it starts, however
    deep: a JVM or Python worker whose own parent exits is re-parented
    here instead of to init, so reap_descendants can wait for it."""
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1,
                                            0, 0, 0)


def _descendants():
    """Pids of every process below this one, zombies included."""
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
    out, todo = [], list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def reap_descendants(grace=30.0):
    """Stop every process this run started and wait until each has
    ended: SIGTERM first, SIGKILL after ``grace`` seconds."""
    deadline = time.monotonic() + grace
    while True:
        while True:
            try:
                pid, _status = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        pids = _descendants()
        if not pids:
            return
        sig = (signal.SIGTERM if time.monotonic() < deadline
               else signal.SIGKILL)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def stop_session(spark):
    """spark.stop() leaves the JVM to exit by itself once it sees this
    process go, which may be after the benchmark has exited.  Close the
    JVM's stdin (it exits on EOF) and wait for it here instead."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    SparkContext._gateway = SparkContext._jvm = None
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:                    # noqa: BLE001 - JVM already gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def start_session():
    """The user's set-up: get_spark + ensure_workers + loading the
    compiled parser.  Returns (spark, {step: seconds})."""
    t0 = time.perf_counter()
    from packages_sgml_spark.spark.session import get_spark
    from packages_sgml_spark.spark.queries import ensure_workers
    t1 = time.perf_counter()
    spark = get_spark(app="perfbench", cpus=nproc(), extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the whole heap is touched at start, so peak_rss_mb does not
        # wander with when the garbage collector grows the heap
        "spark.driver.extraJavaOptions": "-Xms%s -XX:+AlwaysPreTouch"
                                         % os.environ["SPARK_DRIVER_MEMORY"],
    })
    t2 = time.perf_counter()
    ensure_workers(spark)
    t3 = time.perf_counter()
    from packages_sgml_spark.core import cspeed
    if cspeed.MOD is None and cspeed.FAST_C:
        raise RuntimeError("compiled parser failed to load: %r"
                           % (cspeed._BUILD_ERR,))
    t4 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"import_s": t1 - t0, "get_spark_s": t2 - t1,
                   "ensure_workers_s": t3 - t2, "parser_load_s": t4 - t3,
                   "total_s": t4 - t0}


def box_load():
    """Load average plus a 0.2 s single-thread spin probe, so a run can
    be read against what else the machine was doing."""
    la1, la5, _ = os.getloadavg()
    t_cpu, t_wall = time.process_time(), time.perf_counter()
    spins = 0
    while time.perf_counter() - t_wall < 0.2:
        spins += 1
    return {"loadavg_1m": la1, "loadavg_5m": la5, "spins": spins,
            "cpu_frac": (time.process_time() - t_cpu) /
                        (time.perf_counter() - t_wall)}


def timed_loop(wl, seconds, rss):
    """Closed loop of job launches, each as a user makes it: a fresh
    session, one job run, the session stopped.  The next launch starts
    when the previous one has ended, until ``seconds`` have passed.
    Every timed job is therefore cold, paying the JIT and code
    generation of its first run in a JVM, as a launch of jobs/<name>.py
    does.  Returns per-launch records and the output-check tallies."""
    records, attempted, failed = [], 0, 0
    # kept alive until the run ends: ensure_workers keys on the id() of
    # the SparkContext, which a new context must not inherit
    sessions = []
    t_start = time.perf_counter()
    while attempted == 0 or time.perf_counter() - t_start < seconds:
        spark, setup = start_session()
        sessions.append(spark)
        attempted += 1
        rss.start()
        try:
            out, _t0, wall, summary = wl.run_once(spark)
            error = None
        except Exception as ex:           # noqa: BLE001 - counted
            out, error = None, ex
        peak = rss.stop()
        stop_session(spark)
        if error is not None:
            failed += 1
            print("launch failed: %r" % (error,), file=sys.stderr)
            continue
        fails = wl.check(out, summary)
        if fails:
            failed += 1
            print("output check failed: %s" % fails[:5], file=sys.stderr)
        wl.cleanup(out)
        records.append({"setup_s": setup["total_s"], "wall_s": wall,
                        "peak_rss_mb": peak})
    if not records:
        raise RuntimeError("every timed launch failed")
    return records, attempted, failed


def end_to_end(wl, records):
    """The end-to-end metrics and their units: medians over the timed
    launches."""
    from statistics import median
    wall = median([r["wall_s"] for r in records])
    metrics = {
        "setup_s": median([r["setup_s"] for r in records]),
        "wall_s": wall,
        "docs_per_s": wl.n_docs / wall,
        "mb_per_s": wl.n_bytes / 1e6 / wall,
        "peak_rss_mb": median([r["peak_rss_mb"] for r in records]),
    }
    units = {"setup_s": "s", "wall_s": "s", "docs_per_s": "docs/s",
             "mb_per_s": "MB/s", "peak_rss_mb": "MB"}
    return metrics, units


def traced(wl, args, run_dir):
    """The per-layer run, in one session.  It compares a traced with an
    untraced job run, so it warms the session up first."""
    import layers
    spark, setup = start_session()
    try:
        out, _t0, _wall, _summary = wl.run_once(spark)
        wl.cleanup(out)
        return layers.traced_run(spark, wl, args, setup, run_dir, nproc())
    finally:
        stop_session(spark)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=("crawl", "curate"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use a tiny one)")
    args = ap.parse_args(argv)
    for need in ("packages_sgml_spark", os.path.join("jobs",
                                                     "crawl_job.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print("perfbench: %s not found under %s; run from a source "
                  "checkout" % (need, ROOT), file=sys.stderr)
            return 2
    if not args.workload:
        ap.error("--workload is required")
    sys.path.insert(0, ROOT)
    adopt_descendants()
    try:
        return measure(args)
    finally:
        reap_descendants()


def measure(args):
    """One benchmark run: make the inputs, measure and print the result
    line."""
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    # runs in one checkout share the work directory: one at a time
    fcntl.flock(lock, fcntl.LOCK_EX)
    for stale in ("run", "tmp", "spark-local"):
        shutil.rmtree(os.path.join(WORK, stale), ignore_errors=True)
    configure_env()
    phases = {"start": time.perf_counter()}
    load_before = box_load()
    import layers
    from workloads import WORKLOADS
    run_dir = os.path.join(WORK, "run")
    records = None
    try:
        wl = WORKLOADS[args.workload](
            os.path.join(run_dir, args.workload), args.seed,
            **layers.sizes(args.workload, args.scale))
        phases["inputs"] = time.perf_counter()
        if args.trace:
            metrics, attempted, failed = traced(wl, args, run_dir)
            units = {k: layers.unit_of(k) for k in metrics}
        else:
            records, attempted, failed = timed_loop(
                wl, args.seconds, layers.RssSampler())
            metrics, units = end_to_end(wl, records)
        result = {"correct": failed == 0, "attempted": attempted,
                  "failed": failed,
                  "metrics": {k: {"value": v, "unit": units[k]}
                              for k, v in metrics.items()}}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    phases["measure"] = time.perf_counter()
    load_after = box_load()
    t_prev, spent = phases.pop("start"), {}
    for k, t in phases.items():
        spent[k], t_prev = t - t_prev, t
    print(json.dumps({"phase_s": spent, "box_load_before": load_before,
                      "box_load_after": load_after,
                      "launches": records}), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
