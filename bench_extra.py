#!/usr/bin/env python3
"""Round-9 measurement harness (guide §1.1/§1.4/§1.5).

NOT the driver bench — bench.py is frozen for measurement.  This file
exists so optimization work can time queries in isolation (noop sink,
best-of-N, settled heap, labelled jobs) and dump .explain("formatted")
plans for the before/after evidence in plans/r09/.

Usage:
  python bench_extra.py --queries pricing_summary,knn_cosine \
      [--sf-dir /root/testdata/sf0.1] [--repeat 3] \
      [--plans plans/r09 --label before]
  python bench_extra.py --all            # all 16 bench headline queries
"""

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _force(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="directory to write <q>_<label>.txt explains")
    ap.add_argument("--label", default="before")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from packages_sgml_spark.spark.session import get_spark
    from packages_sgml_spark.spark.queries import HEADLINE, QUERIES

    names = (HEADLINE if args.all
             else [q.strip() for q in (args.queries or "").split(",")
                   if q.strip()])
    if not names:
        names = HEADLINE

    spark = get_spark(app="bench-extra", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in names:
        fn = QUERIES[name]
        df = fn(spark, args.sf_dir)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            p = os.path.join(args.plans,
                             "%s_%s.txt" % (name, args.label))
            with open(p, "w") as f:
                f.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution
                    .ExplainMode.fromString("formatted")))
        if args.repeat <= 0:      # plans-only mode
            continue
        spark.sparkContext.setJobDescription("bench_extra: " + name)
        spark._jvm.System.gc()
        samples = []
        for _ in range(args.repeat):
            t0 = time.time()
            _force(df)
            samples.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({
        "sf_dir": args.sf_dir,
        "total_min": round(sum(v["min"] for v in out.values()), 3),
        "queries": {k: v["min"] for k, v in out.items()},
    }))
    spark.stop()


if __name__ == "__main__":
    main()
