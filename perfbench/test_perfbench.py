"""Tests of the benchmark itself.

    python3 -m pytest perfbench/ -q

The tiny-workload tests start Spark in a subprocess and take a few
minutes in all; the output-check tests corrupt one row of a known-good
output and expect the check to fail.
"""

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import inputs  # noqa: E402
import layers  # noqa: E402
from workloads import Crawl, Curate  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(args, cwd=ROOT, timeout=600):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py")] + args,
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=timeout)


def _declared(kind):
    return {m["name"]: m["unit"] for m in SPEC[kind]}


def _printed(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 1
    return {k: v["unit"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_tiny_workload_prints_every_end_to_end_metric(workload):
    proc = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
                 "--trace", "0", "--scale", "0.05"])
    assert _printed(proc) == _declared("end_to_end")


def test_tiny_traced_run_prints_every_per_layer_metric():
    proc = _run(["--workload", "crawl", "--seed", "4", "--seconds", "1",
                 "--trace", "1", "--scale", "0.05"])
    assert _printed(proc) == _declared("per_layer")


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(["--workload", "crawl", "--seed", "1", "--seconds", "1",
                 "--trace", "0"], cwd=str(tmp_path), timeout=180)
    assert proc.returncode != 0
    assert "metrics" not in proc.stdout


def test_inputs_repeat_per_seed(tmp_path):
    a = inputs.make_crawl(str(tmp_path / "a"), 7, n_pages=150,
                          n_archives=2)
    b = inputs.make_crawl(str(tmp_path / "b"), 7, n_pages=150,
                          n_archives=2)
    assert a.pages == b.pages
    for pa_, pb in zip(a.archive_paths, b.archive_paths):
        assert open(pa_, "rb").read() == open(pb, "rb").read()
    c = inputs.make_crawl(str(tmp_path / "c"), 8, n_pages=150,
                          n_archives=2)
    assert a.pages != c.pages


# ------------------------------------------------ output-check tests

def _write(path, columns, partition_cols=None):
    os.makedirs(path, exist_ok=True)
    table = pa.table(columns)
    if partition_cols:
        pq.write_to_dataset(table, path, partition_cols=partition_cols)
    else:
        pq.write_table(table, os.path.join(path, "part-0.parquet"))


def test_crawl_check_catches_one_altered_text_row(tmp_path):
    wl = Crawl(str(tmp_path / "in"), 5, n_pages=150, n_archives=2)
    urls = sorted(wl.expected)
    rows = {"url": urls,
            "text_extracted": [wl.expected[u][0] for u in urls],
            "status": [wl.expected[u][1] for u in urls]}
    summary = {"docs_new": len(urls)}
    good = str(tmp_path / "good")
    _write(good + "/text", rows)
    assert wl.check(good, summary) == []

    i = rows["status"].index("ok")
    rows["text_extracted"][i] += "x"
    bad = str(tmp_path / "bad")
    _write(bad + "/text", rows)
    assert wl.check(bad, summary)


def _curate_output(wl, out, drop_shard_row=False):
    c = wl.corpus
    texts = pq.read_table(c.path).to_pydict()
    rep = min(c.boiler_ids)
    keep = [0 if d in c.boiler_ids and d != rep else 1
            for d in texts["doc_id"]]
    _write(out + "/decisions", {"doc_id": texts["doc_id"],
                                "keep_dedup": keep})
    clean_ids = [d for d in texts["doc_id"] if d not in c.boiler_ids]
    clean_text = [texts["text"][d].replace(inputs.FOOTER, "")
                  for d in clean_ids]
    _write(out + "/clean", {"doc_id": clean_ids, "text": clean_text})
    shard = [d % 8 for d in clean_ids]
    pos, seen = [], {}
    for s in shard:
        seen[s] = seen.get(s, 0) + 1
        pos.append(seen[s])
    ids = list(clean_ids)
    if drop_shard_row:
        ids, shard, pos = ids[1:], shard[1:], pos[1:]
    _write(out + "/shards", {"doc_id": ids, "shard": shard,
                             "shard_pos": pos}, ["shard"])
    n = len(clean_ids)
    return {"docs_in": c.n_docs, "pass_dedup": n + 1, "docs_kept": n,
            "docs_out": n, "tokens_before_strip": 30 * n,
            "tokens_after_strip": 15 * n}


def test_curate_check_catches_one_dropped_shard_row(tmp_path):
    wl = Curate(str(tmp_path / "in"), 5, n_docs=300)
    good = str(tmp_path / "good")
    assert wl.check(good, _curate_output(wl, good)) == []
    bad = str(tmp_path / "bad")
    assert wl.check(bad, _curate_output(wl, bad, drop_shard_row=True))


@pytest.fixture(scope="module")
def spark():
    import run
    run.configure_env()
    session, _times = run.start_session()
    yield session
    run.stop_session(session)


def test_leaf_check_catches_one_wrong_hash(spark, tmp_path):
    from pyspark.sql import functions as F
    import __spark_entry__ as entry
    table_dir = str(tmp_path / "tables")
    inputs.make_tables(table_dir, 6, scale=0.02)
    leaf = "pricing_summary"
    tracer = layers.Tracer("test")
    metrics, failed = layers.query_leaves(spark, tracer, table_dir, 6,
                                          leaves=[leaf])
    assert failed == [] and len(metrics) == 2

    real = entry.queries()[leaf]

    def off_by_one(s, d):
        df = real(s, d)
        first = (F.col("l_returnflag") == "A") & (F.col("l_linestatus")
                                                  == "F")
        return df.withColumn("count_order", F.when(
            first, F.col("count_order") + 1).otherwise(F.col("count_order")))
    _metrics, failed = layers.query_leaves(
        spark, tracer, table_dir, 6, leaves=[leaf],
        registry={leaf: off_by_one})
    assert failed == [leaf]
