"""Local stand-in for the driver's correctness gate: run each
queries() entry on Spark and its oracle_sql() on DuckDB at the given
SF, compare row count + order-insensitive value-hash.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

import decimal
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm_cell(v):
    if v is None:
        return ""
    if isinstance(v, float):
        return "%.10g" % v
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def table_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode("utf-8", "surrogatepass"))
        h.update(b"\x1e")
    return h.hexdigest()


def reconcile(correctness_path):
    """Registry <-> driver-gate reconciliation (round-3 review: three
    registered queries had no row in CORRECTNESS_r03.json).  Asserts
    every queries() key has a row in the given CORRECTNESS json and
    that the row is green (or explicitly no_oracle).  Exit 1 and list
    the gaps loudly otherwise.

    Usage: python tools/check_correctness.py --reconcile FILE.json"""
    import json
    import __spark_entry__ as E
    got = json.load(open(correctness_path))
    want = set(E.queries())
    missing = sorted(want - set(got))
    extra = sorted(set(got) - want)
    bad = sorted(
        k for k, v in got.items()
        if k in want and v.get("err") not in (None, "no_oracle"))
    red = sorted(
        k for k, v in got.items()
        if k in want and v.get("err") is None and not (
            v.get("rows_match") and v.get("schema_match")
            and v.get("hash_match")))
    print("registry: %d queries; %s: %d entries"
          % (len(want), correctness_path, len(got)))
    if missing:
        print("MISSING from gate file (no driver verdict!):", missing)
    if extra:
        print("extra (stale keys no longer registered):", extra)
    if bad:
        print("ERRORED entries:", bad)
    if red:
        print("NON-GREEN entries:", red)
    ok = not (missing or bad or red)
    print("reconcile:", "OK" if ok else "FAIL")
    return 0 if ok else 1


def main():
    if len(sys.argv) > 2 and sys.argv[1] == "--reconcile":
        return reconcile(sys.argv[2])
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    import __spark_entry__ as E
    from packages_sgml_spark.spark.session import get_spark

    qs = E.queries()
    unknown = sorted(only - set(qs))
    if unknown:
        print("unknown query names:", unknown)
        return 1
    spark = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, t + ".parquet")
        if os.path.exists(p):
            con.execute(
                "CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                % (t, p))
    oracles = E.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as ex:      # noqa: BLE001
            print("%-24s SPARK-ERROR %s" % (name, str(ex)[:200]))
            failures.append(name)
            continue
        sql = oracles.get(name)
        if sql is None:
            print("%-24s rows-only  n=%d" % (name, len(rows)))
            continue
        try:
            cur = con.execute(sql)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as ex:      # noqa: BLE001
            print("%-24s ORACLE-ERROR %s" % (name, str(ex)[:200]))
            failures.append(name)
            continue
        # Decimal outputs hash differently across the driver's Arrow
        # bridges (round-1 finding: DuckDB SUM(int) -> HUGEINT,
        # DECIMAL sums -> decimal128).  Treat any Decimal cell as a
        # failure even when str() values agree.
        has_dec = any(isinstance(v, decimal.Decimal)
                      for rs in (rows[:5], orows[:5]) for r in rs
                      for v in r)
        ok_n = len(rows) == len(orows)
        ok_c = sorted(cols) == sorted(ocols)
        if has_dec:
            print("%-24s DECIMAL-OUTPUT (driver-unsafe)" % name)
            failures.append(name)
            continue
        ok_h = (table_hash(cols, rows) == table_hash(ocols, orows)
                if ok_n and ok_c else False)
        status = "OK" if (ok_n and ok_c and ok_h) else "MISMATCH"
        print("%-24s %s  n=%d/%d cols=%s hash=%s"
              % (name, status, len(rows), len(orows), ok_c, ok_h))
        if status != "OK":
            failures.append(name)
            if not ok_c:
                print("   spark cols:", cols, " oracle cols:", ocols)
            elif len(rows) and len(orows):
                sr = sorted(rows)[:2]
                orr = sorted(orows)[:2]
                print("   spark:", sr)
                print("   oracle:", orr)
    spark.stop()
    print("failures:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
