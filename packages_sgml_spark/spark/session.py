"""The session every run of the engine gets: `CONF`, the one table
of runtime SQL confs.  `get_spark` builds a local session from it
plus the confs only a launch can set (master, shuffle partitions from
the core count, driver memory, worker faulthandler, UI); tests,
benchmarks and tools start there.  `launch`, every job's `main()`,
sets each `CONF` key the launch's own session left unset, so a
spark-submit `--conf` still wins.

Scale rationale (100 TB target, local[32] test substrate): AQE
replaces manual partition-count tuning at each SF; shuffle.partitions
defaults to 2x cores locally, and on a real cluster is set to ~2-3x
total executor cores via spark-submit conf (AQE coalesces down).
"""

import json
import os

from pyspark.sql import SparkSession

# runtime SQL confs: settable on a live session, so a launch that did
# not build its session still gets them (`launch`)
CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow enabled with a bounded batch size: html rows are ~20 KB-1
    # MB; 10k-row default batches would make multi-hundred-MB Arrow
    # buffers in the Python worker, so cap records per batch.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
    # parquet scan partitions: html binary rows are ~20 KB-1 MB; with
    # the default 128 MB split a task can hold a few hundred MB of row
    # data + Arrow buffers in the Python worker at once.  64 MB keeps
    # scan-task memory bounded at 100 TB-corpus scale (more, smaller
    # tasks — AQE coalesces downstream stages).
    "spark.sql.files.maxPartitionBytes": "64m",
    # r9: InferFiltersFromGenerate rewrites every explode(expr) into
    # filter(size(expr)>0 AND isnotnull(expr)) + explode — and
    # predicate pushdown then substitutes the FULL generator
    # expression into the filter and sinks it below the exchange, so
    # an expensive array builder (regexp+split+zip_with shingle
    # chains) is re-evaluated TWICE PER ROW on the scan tasks.
    # Measured on the 50k-doc probe: the n-gram explode stage 25.3 s
    # -> 0.74 s with the rule excluded; dup_ngram_frac 29.4 s -> 1.8 s.
    # The rule's only effect is skipping rows whose array is
    # empty/null — explode(outer=false) emits nothing for those rows
    # anyway, so row sets are identical (oracle gate re-verified green
    # at both SFs).
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(app="packages-sgml-spark", cpus=None, shuffle_partitions=None,
              extra_conf=None):
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * int(cpus), 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(map=CONF)
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    if extra_conf:
        b = b.config(map=extra_conf)
    return b.getOrCreate()


def apply_conf(spark):
    """Set each CONF key the session does not set itself."""
    for k, v in CONF.items():
        if spark.conf.get(k, None) is None:
            spark.conf.set(k, v)


def launch(app, parser, run, argv=None):
    """A job's main(): parse `argv`, get the launch's session, give it
    CONF, print `run(spark, args)` as one JSON line and stop the
    session."""
    args = parser.parse_args(argv)
    spark = SparkSession.builder.appName(app).getOrCreate()
    apply_conf(spark)
    summary = run(spark, args)
    print(json.dumps(summary, sort_keys=True, default=str))
    spark.stop()
    return 0
