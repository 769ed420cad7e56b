"""Structured Streaming variants (SURVEY.md §2.10).

The reference's incremental push-parse (resumable per character,
parser.c:4682-4718) maps at job level to Structured Streaming over
arriving page files: readStream -> the same extract() mapInPandas ->
sink with checkpointLocation.  Documents are independent, so every
stream here is a stateless projection: no state store, no watermark.
"""

from pyspark.sql import DataFrame

from .extract import extract


def stream_extract(spark, input_dir: str, schema,
                   dialect="html5") -> DataFrame:
    """File-source stream of pages -> streaming extraction.  Caller
    attaches .writeStream with a checkpointLocation (exact-once file
    sink); trigger=availableNow gives batch-catchup semantics."""
    pages = (spark.readStream.schema(schema)
             .parquet(input_dir))
    return extract(pages, dialect=dialect, nodes=False)


def stream_quality(spark, input_dir: str, schema) -> DataFrame:
    """File-source stream of documents -> the fused curation filter
    projection (textops.quality_features: Gopher + C4 + lang-id in
    one stateless pass).  The whole per-doc filter stack is a single
    narrow projection, so it streams UNCHANGED — no state store, no
    watermark, exactly-once by the file-sink checkpoint; this is the
    continuous-ingest half of the curation pipeline (the global
    decisions — dedup, shards — stay batch by design: they are
    corpus-snapshot functions, jobs/curate_job.py's argument).
    Caller attaches .writeStream + checkpointLocation;
    trigger=availableNow gives batch catch-up semantics."""
    from .textops import quality_features
    docs = (spark.readStream.schema(schema)
            .parquet(input_dir))
    return quality_features(docs)
