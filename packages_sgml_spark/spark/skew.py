"""Skew handling: salted two-stage aggregation (north rule: 'salts
skewed hosts').

At crawl scale a handful of hosts hold billions of pages; a plain
groupBy(host) sends each hot host to one reducer.  Salting splits
each key into S shards (salt = xxhash64(row-id) % S), aggregates
partially per (key, salt) — map-side combine already shrinks this —
then re-aggregates per key.  Results are identical to the unsalted
aggregation (verified by the SQL oracle in the registry); only the
shuffle distribution changes.

AQE's skewJoin handles the *join* case automatically
(spark.sql.adaptive.skewJoin.enabled=true in session.py); explicit
salting remains the tool for skewed aggregations.
"""

from pyspark.sql import DataFrame, functions as F


def with_salt(df: DataFrame, salt_col="_salt", shards=16,
              entropy_col=None) -> DataFrame:
    """Deterministic salt in [0, shards): hash of entropy_col (or a
    uniform row hash over all columns)."""
    if entropy_col is not None:
        h = F.xxhash64(entropy_col)
    else:
        h = F.xxhash64(*df.columns)
    return df.withColumn(salt_col, F.pmod(h, F.lit(shards)))


def salted_agg(df: DataFrame, keys, aggs, shards=16,
               entropy_col=None) -> DataFrame:
    """Two-stage salted aggregation.

    `aggs`: dict alias -> ("sum"|"count"|"min"|"max", column).
    Stage 1 groups by keys+salt (splits hot keys across `shards`
    reducers), stage 2 merges partials per key.  count re-aggregates
    with sum; min/max/sum are self-merging."""
    salted = with_salt(df, shards=shards, entropy_col=entropy_col)
    partial = []
    final = []
    for alias, (fn, col) in aggs.items():
        p = "_p_" + alias
        if fn == "count":
            partial.append(F.count(col).alias(p))
            final.append(F.sum(p).alias(alias))
        elif fn == "sum":
            partial.append(F.sum(col).alias(p))
            final.append(F.sum(p).alias(alias))
        elif fn == "min":
            partial.append(F.min(col).alias(p))
            final.append(F.min(p).alias(alias))
        elif fn == "max":
            partial.append(F.max(col).alias(p))
            final.append(F.max(p).alias(alias))
        else:
            raise ValueError(fn)
    stage1 = salted.groupBy(*(keys + ["_salt"])).agg(*partial)
    return stage1.groupBy(*keys).agg(*final)
