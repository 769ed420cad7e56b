"""Small shared Spark helpers."""

from pyspark.sql import DataFrame


def spread(df: DataFrame, key=None, factor=1) -> DataFrame:
    """Raise the partition count to the session's default parallelism
    when the source is under-partitioned — e.g. one small parquet file
    at test scale scans as a single partition, serialising every
    narrow-but-CPU-heavy stage (parse, shingle, hash) onto one core.

    At crawl scale the input already has >= cores partitions and this
    is a no-op; the repartition only fires (one small shuffle) when it
    buys parallelism.  `key` optionally hashes rows to partitions for
    uniform work distribution (north rule: repartition by url hash).

    The width is the RDD's partition count, which builds the frame's
    RDD on the driver (no job).  Catalyst's size estimate is not a
    stand-in: over a broadcast join it reports the product of the
    sides (tens of GB for a one-file scan), which would skip the
    repartition exactly where the scan is one partition."""
    if df.isStreaming:
        # micro-batch partitioning is the source's concern; .rdd is
        # illegal on streaming plans
        return df
    want = df.sparkSession.sparkContext.defaultParallelism * factor
    if df.rdd.getNumPartitions() >= want:
        return df
    if key is not None:
        return df.repartition(want, key)
    return df.repartition(want)
