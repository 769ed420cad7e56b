"""The session contract: `session.CONF` reaches a session the engine
did not build (a spark-submit launch's) through `launch`'s conf step,
a conf the launch set itself wins, and the plans on such a session
are the plans on a `get_spark` session."""

import re

import pytest

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


def _dedup_spans_plan(s):
    """dedup_spans' optimized plan over 200 docs, with expression ids
    and lambda-variable counters erased."""
    from packages_sgml_spark.spark.datafilters import dedup_spans
    docs = s.createDataFrame(
        [(i, "the quick brown fox %d jumps over the lazy dog again "
             "and again" % (i % 7)) for i in range(200)],
        "doc_id bigint, text string")
    plan = dedup_spans(docs)._jdf.queryExecution().optimizedPlan()
    return re.sub(r"_\d+#", "#", re.sub(r"#\d+", "#", plan.toString()))


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
