"""Checkpoint / resume / metrics plumbing (north rule: per-partition
lineage + parse-error metrics to a sidecar table, exact resume).

Design for 10^12 docs:
- The unit of completion is the document (url).  The done-set is a
  parquet table of url hashes, partitioned like the input; resume is
  a left_anti join on xxhash64(url) — a key-partitioned join that AQE
  sizes, no broadcast of the (large) done-set needed.
- Metrics are aggregated per input partition with
  spark_partition_id() — one row per task, so the sidecar stays tiny
  (thousands of rows per run, not per-document).
- Idempotence: re-running a finished batch re-extracts nothing
  (anti-join empties), and writes are append-only with run_id so a
  killed run resumes by filtering on its own lineage.
"""

import time

from pyspark.sql import DataFrame, functions as F


def read_parquet_or_none(spark, path, schema=None):
    """Read a sink that may not exist yet; None means "first run".
    With `schema` (a DDL string of the columns wanted) the read takes
    it as given: no schema-inference Spark job.  `path` is a literal
    path, not a glob.

    Only a genuinely-missing or genuinely-empty sink qualifies — a
    path the file system does not have (one `exists` call: no reader
    is built and no exception raised), or UNABLE_TO_INFER_SCHEMA for
    a dir a crashed first attempt created but never committed (only
    _temporary/, or a 0-row partitioned write which produces no part
    files at all).  Any other read failure (permissions, corrupt
    footer, FS hiccup) must surface: treating it as "first run" would
    silently recompute and break exactly-once/resume.  THE one
    definition — every job's resume path routes through here."""
    from pyspark.errors import AnalysisException
    sc = spark.sparkContext
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    if not p.getFileSystem(sc._jsc.hadoopConfiguration()).exists(p):
        return None
    reader = spark.read if schema is None else spark.read.schema(schema)
    try:
        return reader.parquet(path)
    except AnalysisException as ex:
        if "UNABLE_TO_INFER_SCHEMA" not in str(ex):
            raise
        return None


def append_rows(spark, path, rows, schema):
    """Append `rows` (tuples in the order of `schema`, a StructType or
    a DDL string) to the parquet table at `path` as one new part file
    written by the driver: no Spark job, no Python worker (a
    createDataFrame(list).write re-serializes the rows through a
    PythonRDD).  pyarrow serializes the rows, the session's Hadoop
    FileSystem stores them under a hidden `_tmp-` name, renames the
    file into place and touches `_SUCCESS`.  The footer carries the
    Spark row schema, so driver-written and Spark-written parts read
    back as one table with the schema's names, types and
    nullability."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema).with_metadata(
        {"org.apache.spark.sql.parquet.row.metadata": schema.json()})
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], arrow_schema)
    buf = pa.BufferOutputStream()
    pq.write_table(table, buf, compression="snappy")

    sc = spark.sparkContext
    Path = sc._jvm.org.apache.hadoop.fs.Path
    root = Path(path)
    fs = root.getFileSystem(sc._jsc.hadoopConfiguration())
    name = "part-00000-%s-c000.snappy.parquet" % uuid.uuid4()
    tmp = Path(root, "_tmp-" + name)
    try:
        out = fs.create(tmp, False)
        try:
            out.write(bytearray(buf.getvalue().to_pybytes()))
        finally:
            out.close()
        if not fs.rename(tmp, Path(root, name)):
            raise IOError("could not rename %s into %s" % (tmp, path))
    except Exception:
        fs.delete(tmp, False)
        raise
    fs.create(Path(root, "_SUCCESS"), True).close()


def read_rows(spark, path, columns=None):
    """The rows (tuples, in column order) of the parquet table at
    `path`, read by the driver: the twin of append_rows, with no Spark
    job.  The session's Hadoop FileSystem lists the part files by
    binaryFile's rules (so `_SUCCESS`, in-flight `_tmp-` parts and
    `.crc` checksums are skipped) and reads each one; pyarrow decodes
    it, driver-written and Spark-written parts alike.  A missing sink,
    or one with no part files (a crashed first write leaves only
    `_temporary/`), has no rows; any other failure (unreadable or
    corrupt part) raises, as in read_parquet_or_none."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .warc import list_archives

    sc = spark.sparkContext
    Path = sc._jvm.org.apache.hadoop.fs.Path
    fs = Path(path).getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(Path(path)):
        return []
    rows = []
    for uri, _n in list_archives(spark, path):
        stream = fs.open(Path(uri))
        try:
            data = sc._jvm.org.apache.commons.io.IOUtils.toByteArray(
                stream)
        finally:
            stream.close()
        t = pq.read_table(pa.BufferReader(data), columns=columns)
        rows += zip(*(c.to_pylist() for c in t.columns))
    return rows


def with_lineage(extracted: DataFrame, run_id: str) -> DataFrame:
    """Tag extraction output with run lineage + partition id."""
    return (extracted
            .withColumn("run_id", F.lit(run_id))
            .withColumn("partition_id", F.spark_partition_id())
            .withColumn("url_hash", F.xxhash64("url")))


METRICS_KEYS = ("run_id", "partition_id")


def partition_metrics(tagged: DataFrame) -> DataFrame:
    """Per-partition metrics rollup (SURVEY.md §2.5 'our pipeline
    metrics'): map-side partial agg, one row per partition."""
    return (tagged.groupBy(*METRICS_KEYS)
            .agg(F.count("*").alias("docs"),
                 F.sum("html_bytes").alias("bytes"),
                 F.sum("n_errors").alias("parse_errors"),
                 F.sum(F.when(F.col("status") != "ok", 1).otherwise(0))
                 .alias("failed_docs"),
                 F.min("url_hash").alias("url_hash_min"),
                 F.max("url_hash").alias("url_hash_max"),
                 F.max(F.lit(int(time.time() * 1000)))
                 .alias("updated_at_ms")))


def metrics_sink_schema(metrics: DataFrame):
    """The schema the metrics sidecar stores a partition_metrics frame
    with: its own columns, types and order, with the group keys
    nullable, as the rollup has always left them when it ran over the
    text sink read back (the count, `docs`, stays NOT NULL)."""
    from pyspark.sql.types import StructField, StructType
    return StructType([
        StructField(f.name, f.dataType,
                    f.nullable or f.name in METRICS_KEYS)
        for f in metrics.schema.fields])


def append_metrics(spark, path, tagged: DataFrame):
    """Append partition_metrics(tagged) to the metrics sidecar at
    `path`, written by the driver (append_rows) with
    metrics_sink_schema; returns the docs they count."""
    metrics = partition_metrics(tagged)
    rows = metrics.collect()
    append_rows(spark, path, rows, metrics_sink_schema(metrics))
    return sum(r.docs for r in rows)


def resume_filter(pages: DataFrame, done: DataFrame) -> DataFrame:
    """Drop already-extracted urls.  `done` needs only a url column
    (e.g. the text sink read back, or the checkpoint table)."""
    return pages.join(done.select("url"), "url", "left_anti")


def write_text_sink(extracted: DataFrame, out: str, run_id: str):
    """Append TEXT_META_SCHEMA rows to the text sink at `out`/text
    and their metrics to `out`/metrics; returns (rows, docs_new).

    The rows, tagged with lineage, are materialized once by an eager
    DISK_ONLY localCheckpoint: the text write, the metrics and the
    caller's further sinks all read them, and docs_new and the
    metrics count exactly the rows this call wrote.  The checkpoint
    also cuts the rows' lineage to a text sink they were resumed
    against, which a persist() would not: Spark re-caches a plan over
    a path when that path is written."""
    from pyspark import StorageLevel
    rows = with_lineage(extracted, run_id).localCheckpoint(
        eager=True, storageLevel=StorageLevel.DISK_ONLY)
    rows.select("url", "url_hash", "text_extracted", "n_errors",
                "html_bytes", "status", "run_id", "partition_id") \
        .write.mode("append").parquet(out + "/text")
    return rows, append_metrics(rows.sparkSession, out + "/metrics", rows)
