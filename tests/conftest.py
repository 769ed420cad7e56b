import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

GATE_SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from packages_sgml_spark.spark.session import get_spark
    s = get_spark(app="tests", cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    from packages_sgml_spark.spark.queries import ensure_workers
    ensure_workers(s)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def check_correctness():
    """tools/check_correctness.py, loaded as a module."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(REPO, "tools",
                                          "check_correctness.py"))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


@pytest.fixture(scope="session")
def duck(check_correctness):
    """DuckDB views over the sf0.001 gate tables."""
    import duckdb
    con = duckdb.connect()
    for t in check_correctness.TABLES:
        p = os.path.join(GATE_SF_DIR, t + ".parquet")
        if os.path.exists(p):
            con.execute(
                "CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                % (t, p))
    return con


@pytest.fixture
def oracle_gate(spark, duck, check_correctness):
    """tools/check_correctness.py's compare at sf0.001: row count,
    column set, no Decimal cell (driver-unsafe) and the
    order-insensitive value hash of a Spark query against its DuckDB
    oracle.  query/oracle default to the registry entry of `name`."""
    import decimal

    from packages_sgml_spark.spark.oracles import ORACLES
    from packages_sgml_spark.spark.queries import QUERIES
    h = check_correctness

    def check(name, query=None, oracle=None):
        df = (query or QUERIES[name])(spark, GATE_SF_DIR)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
        cur = duck.execute(oracle or ORACLES[name])
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        assert len(rows) == len(orows), (name, len(rows), len(orows))
        assert sorted(cols) == sorted(ocols), (name, cols, ocols)
        assert rows, name                      # non-degenerate
        for r in rows[:5] + orows[:5]:
            assert not any(isinstance(v, decimal.Decimal) for v in r)
        assert h.table_hash(cols, rows) == h.table_hash(ocols, orows), \
            name
    return check


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: long-running launch tests (spark-submit)")
