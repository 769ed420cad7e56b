"""Decompose extract() wall time into worker CPU vs plumbing.

Answers the round-4 question: is the extract path CPU-bound inside
the Python workers (only a faster per-core parser helps), or is
there Arrow/starvation overhead to recover (plumbing fixes help)?

Measures, on the same synthetic corpus bench.py uses:
  1. single-thread in-process parse throughput (the per-core ceiling)
  2. a no-parse mapInPandas pass (Arrow round-trip floor)
  3. the real extract pass, with per-task (cpu_seconds, wall) rows
     accumulated inside the workers

Prints one JSON line.  Usage:
  python tools/profile_extract.py [n_docs] [cpus]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 12000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    from pyspark.sql import functions as F
    from packages_sgml_spark.spark.session import get_spark
    from packages_sgml_spark.spark.pages import synthetic_pages
    from packages_sgml_spark.spark.queries import ensure_workers

    spark = get_spark(cpus=cpus)
    ensure_workers(spark)
    pages = synthetic_pages(spark, n_docs, scale=12).cache()
    st = pages.select(F.count("*").alias("n"),
                      F.sum(F.length("html")).alias("b")).collect()[0]
    total_mb = st.b / 1e6

    # -- 1. single-thread ceiling on this exact corpus ----------------
    import pandas as pd
    from packages_sgml_spark.spark.extract import extract_batch_iter
    sample = pd.DataFrame([(r.url, bytes(r.html))
                           for r in pages.limit(300).collect()],
                          columns=["url", "html"])
    nb = int(sample["html"].str.len().sum())
    t0 = time.process_time()
    for _ in extract_batch_iter(iter([sample]), "html5", False, False):
        pass
    st_cpu = time.process_time() - t0
    single_mb_s = nb / 1e6 / st_cpu

    # -- 2. Arrow round-trip floor (no parse) -------------------------
    src = pages.select("url", "html")

    def passthrough(batches):
        import pandas as pd
        t0w = time.time()
        t0c = time.process_time()
        n = 0
        nbytes = 0
        for pdf in batches:
            n += len(pdf)
            nbytes += int(pdf["html"].str.len().sum())
        yield pd.DataFrame({"cpu": [time.process_time() - t0c],
                            "wall": [time.time() - t0w],
                            "n": [n], "nbytes": [nbytes]})

    schema = "cpu double, wall double, n long, nbytes long"
    noop = src.mapInPandas(passthrough, schema=schema)
    noop.collect()                       # warm
    t0 = time.time()
    rows = noop.collect()
    floor_wall = time.time() - t0
    floor_cpu = sum(r.cpu for r in rows)

    # -- 3. real extract, instrumented --------------------------------
    def extracting(batches):
        import pandas as pd
        from packages_sgml_spark.spark.extract import extract_batch_iter
        t0w = time.time()
        t0c = time.process_time()
        n = 0
        for pdf in extract_batch_iter(batches, "html5", False, False):
            n += len(pdf)
        yield pd.DataFrame({"cpu": [time.process_time() - t0c],
                            "wall": [time.time() - t0w],
                            "n": [n], "nbytes": [0]})

    inst = src.mapInPandas(extracting, schema=schema)
    inst.collect()                       # warm (worker import + DTD)
    best = None
    for _ in range(2):
        t0 = time.time()
        rows = inst.collect()
        wall = time.time() - t0
        if best is None or wall < best[0]:
            best = (wall, rows)
    wall, rows = best
    cpu_total = sum(r.cpu for r in rows)
    wall_in_udf = sum(r.wall for r in rows)
    n_tasks = len(rows)

    print(json.dumps({
        "n_docs": int(st.n), "mb": round(total_mb, 1), "cpus": cpus,
        "single_thread_mb_s": round(single_mb_s, 2),
        "ideal_mb_s_at_cpus": round(single_mb_s * cpus, 1),
        "noop_roundtrip_sec": round(floor_wall, 2),
        "noop_worker_cpu_sec": round(floor_cpu, 2),
        "extract_wall_sec": round(wall, 2),
        "extract_mb_s": round(total_mb / wall, 1),
        "worker_cpu_sec_total": round(cpu_total, 2),
        "worker_wall_in_udf_sec": round(wall_in_udf, 2),
        "n_tasks": n_tasks,
        "cpu_utilization_of_wall": round(cpu_total / (wall * cpus), 3),
        "udf_wall_vs_cpu": round(wall_in_udf / max(cpu_total, 1e-9), 3),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
