"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship extraction over sf0.001 (HTML parse of the
documents table re-expressed as Common-Crawl-style pages).
queries()     -> operator registry (SURVEY.md §2 + training-data ops).
oracle_sql()  -> DuckDB equivalents for the value-hash gate.

The driver hands over a session the engine did not build, so entry()
and every query give it `session.CONF` first (`apply_conf` sets only
the keys the session left unset).
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from packages_sgml_spark.spark.queries import QUERIES  # noqa: E402
from packages_sgml_spark.spark.oracles import ORACLES  # noqa: E402
from packages_sgml_spark.spark.session import apply_conf  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: parse the sf0.001 documents corpus as HTML pages and
    return per-url extracted text (byte-exact parser output)."""
    apply_conf(spark)
    return QUERIES["extract_text"](spark, "/root/testdata/sf0.001")


def _with_conf(query):
    @functools.wraps(query)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        apply_conf(spark)
        return query(spark, sf_dir)
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _with_conf(q) for name, q in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
