"""The session contract: `session.CONF` reaches a session the engine
did not build (a spark-submit launch's, or the driver's handed to
`__spark_entry__`) through the conf step, a conf the launch set
itself wins, and the plans on such a session are the plans on a
`get_spark` session."""

import re

import pytest

from conftest import GATE_SF_DIR as SF
from packages_sgml_spark.spark.session import CONF, apply_conf

PRESET = ("spark.sql.execution.arrow.maxRecordsPerBatch", "64")


@pytest.fixture
def launched(spark):
    """A session sharing the test context with every CONF key unset,
    as a plain `SparkSession.builder.getOrCreate()` leaves them."""
    s = spark.newSession()
    for k in CONF:
        s.conf.unset(k)
    return s


def _plan(df):
    """``df``'s optimized plan with expression ids and lambda-variable
    counters erased."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"_\d+#", "#", re.sub(r"#\d+", "#", plan))


def _dedup_spans_plan(s):
    """dedup_spans' optimized plan over 200 docs."""
    from packages_sgml_spark.spark.datafilters import dedup_spans
    docs = s.createDataFrame(
        [(i, "the quick brown fox %d jumps over the lazy dog again "
             "and again" % (i % 7)) for i in range(200)],
        "doc_id bigint, text string")
    return _plan(dedup_spans(docs))


def test_conf_step_sets_unset_keys_and_keeps_set_ones(launched):
    assert all(launched.conf.get(k, None) is None for k in CONF)
    launched.conf.set(*PRESET)
    apply_conf(launched)
    assert {k: launched.conf.get(k) for k in CONF} == \
        {**CONF, PRESET[0]: PRESET[1]}


def test_conf_step_gives_get_spark_plans(spark, launched):
    # InferFiltersFromGenerate, left on, re-evaluates the n-gram
    # generator in a size() filter (39 size( calls against 18 when
    # this test was written)
    before = _dedup_spans_plan(launched)
    launched.conf.set(*PRESET)
    apply_conf(launched)
    after = _dedup_spans_plan(launched)
    want = _dedup_spans_plan(spark)
    assert after == want
    assert before.count("size(") > after.count("size(")


def test_driver_queries_give_the_session_conf(spark, launched):
    """The driver's plain session, handed to a `queries()` function,
    gets CONF first: dedup_spans plans as on the `spark` fixture (18
    size( calls, not 39 with InferFiltersFromGenerate on)."""
    import __spark_entry__ as entry
    from packages_sgml_spark.spark.queries import QUERIES
    got = _plan(entry.queries()["dedup_spans"](launched, SF))
    assert got == _plan(QUERIES["dedup_spans"](spark, SF))
    assert got.count("size(") == 18
    assert launched.conf.get("spark.sql.optimizer.excludedRules") == \
        CONF["spark.sql.optimizer.excludedRules"]
