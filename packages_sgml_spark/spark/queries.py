"""Query registry backing __spark_entry__.py.

Each entry: a Spark callable (spark, sf_dir) -> DataFrame and,
where ANSI-SQL-expressible, a DuckDB oracle string over the same
parquet tables.  Column names/aliases match exactly on both sides
(the driver sorts columns by name and value-hashes).  The registry
is the one QUERIES literal at the end of this module; the oracles
are ORACLES in oracles.py.

Float discipline: aggregate sums run through DECIMAL casts (exact in
both engines) and the FINAL output is cast to BIGINT when integral or
round(CAST(x AS DOUBLE), 6) otherwise — decimal/HUGEINT outputs hash
differently across the Arrow bridges, plain ints and rounded doubles
do not (driver gate, round-1 finding).
"""

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, Window, functions as F

from . import dedup, similarity, textops
from .extract import extract
from .pages import (ANCHOR_CAP, BL_MIN_DOCS, N_ROBOT_HOSTS, PR_DAMP,
                    PR_ITER, docs_as_atom_pages, docs_as_head_pages,
                    docs_as_link_pages, docs_as_pages, line_docs)

_PYFILE_SENT = {}


def ensure_workers(spark):
    """Ship the package to python workers (addPyFile zip) so
    mapInPandas closures can import it regardless of the driver's
    PYTHONPATH."""
    key = id(spark.sparkContext)
    if _PYFILE_SENT.get(key):
        return
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = os.path.join(tempfile.gettempdir(),
                            "packages_sgml_spark_%d.zip" % os.getpid())
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as z:
            for dirpath, _dirs, files in os.walk(pkg_root):
                for fn in files:
                    if fn.endswith((".py", ".c")):
                        full = os.path.join(dirpath, fn)
                        rel = os.path.relpath(
                            full, os.path.dirname(pkg_root))
                        z.write(full, rel)
    spark.sparkContext.addPyFile(zip_path)
    _PYFILE_SENT[key] = True


def _t(spark, sf_dir, name):
    return spark.read.parquet(os.path.join(sf_dir, name + ".parquet"))


# ---------------------------------------------------------------------
# extraction queries (documents -> synthesized pages -> parse)
# ---------------------------------------------------------------------

def q_extract_text(spark, sf_dir):
    # r9: text-only sink — the query keeps (doc_id, text_extracted)
    # only, so the worker ships one string column instead of the full
    # EXTRACT_SCHEMA (identical per-row parse + NULL semantics; see
    # extract_text_only)
    ensure_workers(spark)
    from .extract import extract_text_only
    docs = _t(spark, sf_dir, "documents")
    pages = docs_as_pages(docs)
    ex = extract_text_only(pages, dialect="html5", repartition=0)
    return (ex.select(
        F.substring("url", 7, 32).cast("bigint").alias("doc_id"),
        F.col("text_extracted")))


def q_extract_title(spark, sf_dir):
    """Title via the stop-condition fast path: the tokenizer stops at
    </title> instead of building the full node table (round-1 bench:
    nodes=True halves throughput; this parses a few % of each doc)."""
    ensure_workers(spark)
    from .extract import extract_element_text
    docs = _t(spark, sf_dir, "documents")
    pages = docs_as_pages(docs)
    ex = extract_element_text(pages, element="title", dialect="html5",
                              repartition=0)
    return (ex.filter(F.col("status") == "ok")
            .select(F.substring("url", 7, 32).cast("bigint")
                    .alias("doc_id"),
                    F.col("element_text").alias("title_text")))


def q_count_links(spark, sf_dir):
    """r5: counting path — extract_name_count counts <a> begins in
    the worker (no node-struct materialization; same parity argument
    as element_histogram's r4 TagCountParser move), emitting one
    (url, long) row per linked document.  Output identical to the
    node-table filter-then-groupBy (A/B-equal pytest + same oracle)."""
    ensure_workers(spark)
    from .extract import extract_name_count
    docs = _t(spark, sf_dir, "documents")
    pages = docs_as_pages(docs, links=True)
    links = extract_name_count(pages, name="a", dialect="html5",
                               repartition=0)
    return links.select(
        F.substring("url", 7, 32).cast("bigint").alias("doc_id"),
        F.col("n").alias("n_links"))


def q_element_histogram(spark, sf_dir):
    """r4: counting path — TagCountParser pre-aggregates per task
    (map-side combine in the worker), no node-struct materialization;
    output identical to the node-table path (A/B-equal + same
    oracle), 2.4x faster at sf0.1."""
    ensure_workers(spark)
    from .extract import extract_tag_counts
    docs = _t(spark, sf_dir, "documents")
    pages = docs_as_pages(docs, links=True)
    return (extract_tag_counts(pages, dialect="html5", repartition=0)
            .groupBy("name").agg(F.sum("n").alias("total"))
            .select("name", F.col("total").cast("bigint").alias("total")))


# ---------------------------------------------------------------------
# relational / aggregation / window (engine ops per SURVEY §2.12)
# ---------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    # r9 (guide §2.3, narrower types): TPC-H per-row ranges are
    # scale-invariant (l_quantity <= 50, l_extendedprice < 10^6,
    # l_discount <= 0.1 at every SF), so the DECIMAL(18,2) casts
    # narrow to DECIMAL(8,2)/(3,2) — the cast result is identical for
    # every in-range value, and precision 8 puts the qty/base_price
    # sums on Catalyst's DecimalAggregates unscaled-LONG fast path
    # (sum type decimal(18,2): pure long arithmetic in codegen, holds
    # 10^16 vs a ~10^14 worst-case corpus sum at sf1000) while the
    # disc_price product runs at decimal(13,4) instead of (38,4).
    # Values identical: exact decimal arithmetic on both shapes, same
    # final double; oracle unchanged, hash-green at both gate SFs.
    li = _t(spark, sf_dir, "lineitem")
    q8 = F.col("l_quantity").cast("decimal(8,2)")
    e8 = F.col("l_extendedprice").cast("decimal(8,2)")
    d3 = F.col("l_discount").cast("decimal(3,2)")
    return (li.filter(F.col("l_shipdate") <=
                      F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum(q8).cast("double"), 6)
                 .alias("sum_qty"),
                 F.round(F.sum(e8).cast("double"),
                         6).alias("sum_base_price"),
                 F.round(F.sum((e8 *
                                (F.lit(1).cast("decimal(3,2)") -
                                 d3))).cast("double"),
                         6).alias("sum_disc_price"),
                 F.count("*").alias("count_order"))
            .orderBy("l_returnflag", "l_linestatus"))


def q_top_customers(spark, sf_dir):
    """Broadcast-join orders x customer, revenue top-20."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    # r9: o_totalprice < 10^6 at every SF -> decimal(8,2) is the same
    # cast value and rides the DecimalAggregates long fast path
    rev = (orders.groupBy("o_custkey")
           .agg(F.round(F.sum(F.col("o_totalprice")
                              .cast("decimal(8,2)")).cast("double"), 6)
                .alias("revenue"),
                F.count("*").alias("n_orders")))
    joined = rev.join(F.broadcast(cust),
                      rev.o_custkey == cust.c_custkey)
    return (joined.select("c_custkey", "c_name", "c_mktsegment",
                          "revenue", "n_orders")
            .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
            .limit(20))


def q_segment_order_priority(spark, sf_dir):
    """3-way join + agg: customer segment x order priority counts."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    j = orders.join(F.broadcast(cust),
                    orders.o_custkey == cust.c_custkey)
    return (j.groupBy("c_mktsegment", "o_orderpriority")
            .agg(F.count("*").alias("n"),
                 # r9: decimal(8,2) — same value, long-sum fast path
                 F.round(F.sum(F.col("o_totalprice")
                               .cast("decimal(8,2)")).cast("double"),
                         6).alias("total")))


def q_events_hourly(spark, sf_dir):
    # r9: DECIMAL(18,6) sums can't ride DecimalAggregates (precision
    # > 8), so unscale manually — per row the exact decimal(18,6)
    # value times 10^6 is an exact integer that fits a long, the
    # aggregate becomes a codegen long sum, and sum_long/10^6 is the
    # correctly-rounded double of the same exact rational the decimal
    # sum produced (per-GROUP sums stay far below 2^53: group count
    # grows with the corpus).  Identical values; 0.49 s -> 0.35 s on
    # the 1 M-row probe.
    ev = _t(spark, sf_dir, "events")
    vl = (F.col("value").cast("decimal(18,6)") *
          F.lit(1000000)).cast("long")
    return (ev.groupBy(F.date_trunc("hour", "ts").alias("hour"),
                       "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum(vl).cast("double") /
                         F.lit(1000000.0), 6).alias("sum_value")))


def q_top_event_per_user(spark, sf_dir):
    # r9 (guide §2.3, aggregate before you shuffle): the row_number
    # window shuffled and SORTED every event; a max-of-struct
    # aggregation keeps only one candidate per user per map task
    # (partial agg), shuffling n_users rows instead of n_events.
    # Ordering equivalence: max(struct(value, -event_id)) picks the
    # same row as row_number over (value DESC, event_id ASC) —
    # event_id is unique so the comparison never falls through to
    # event_type; NULL/NaN value ordering agrees (struct comparison
    # ranks a NULL field lowest and NaN highest, exactly like the
    # window's DESC NULLS LAST / NaN-greatest sort).  Identical rows
    # at every gate SF; 0.54 s -> 0.38 s on the 1 M-row probe.
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(F.max(F.struct(
                F.col("value"),
                (-F.col("event_id")).alias("nid"),
                F.col("event_type"))).alias("b"))
            .select("user_id",
                    (-F.col("b.nid")).alias("event_id"),
                    F.col("b.event_type").alias("event_type"),
                    F.round("b.value", 6).alias("value")))


def q_source_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.groupBy("source", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_chars").cast("bigint").alias("sum_chars")))


def q_resume_filter(spark, sf_dir):
    """Checkpoint-resume analog: anti-join against a done-set
    (north rule resumability primitive)."""
    docs = _t(spark, sf_dir, "documents")
    done = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    return (docs.join(done, "doc_id", "left_anti")
            .select("doc_id", "n_chars"))


def q_dedup_newest(spark, sf_dir):
    """as-of-newest per user from events (dropDuplicates-by-window
    per SURVEY §2.12).  r9: same max-of-struct rewrite as
    top_event_per_user (both keys DESC -> plain max; event_id unique
    breaks ties) — one partial-aggregating groupBy instead of a full
    shuffle+sort window; identical rows, 0.43 s -> 0.32 s on the
    1 M-row probe."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("user_id")
            .agg(F.max(F.struct(F.col("ts"),
                                F.col("event_id"))).alias("b"))
            .select("user_id", F.col("b.event_id").alias("event_id"),
                    F.col("b.ts").alias("last_ts")))


# ---------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------

def q_lang_id(spark, sf_dir):
    return textops.lang_id_stopwords(_t(spark, sf_dir, "documents"))


def q_quality(spark, sf_dir):
    return textops.quality_score(_t(spark, sf_dir, "documents"))


def q_token_count(spark, sf_dir):
    return textops.token_count(_t(spark, sf_dir, "documents"))


def q_fingerprint(spark, sf_dir):
    return textops.fingerprint(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------
# dedup & similarity
# ---------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


def q_minhash_signatures(spark, sf_dir):
    sig = dedup.minhash_signatures(_t(spark, sf_dir, "documents"), k=4)
    return sig


def q_minhash_lsh_pairs(spark, sf_dir):
    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


def q_simhash(spark, sf_dir):
    """Registered simhash = the md5-projection variant (fully
    DuckDB-oracled)."""
    return dedup.simhash_md5(_t(spark, sf_dir, "documents"))


def q_knn_cosine(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    emb = emb.withColumn("embedding",
                         F.col("embedding").cast("array<double>"))
    return similarity.knn_bruteforce(emb, list(range(8)), k=5)


def q_knn_lsh(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    emb = emb.withColumn("embedding",
                         F.col("embedding").cast("array<double>"))
    return similarity.knn_lsh(emb, list(range(8)), dim=64, k=5)


# ---------------------------------------------------------------------
# round-1 additions: multi-join, session windows, JSON props, iso639
# ---------------------------------------------------------------------

def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5-style 5-way join: revenue by nation/region where the
    supplier's nation matches the customer's.  Broadcasts the small
    dims; lineitem drives."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
         .filter(F.col("c_nationkey") == F.col("s_nationkey"))
         .join(F.broadcast(nation),
               F.col("c_nationkey") == nation.n_nationkey)
         .join(F.broadcast(region),
               nation.n_regionkey == region.r_regionkey))
    # r9: narrowed like pricing_summary — decimal(13,4) product,
    # identical values for the scale-invariant TPC-H ranges
    rev = (F.col("l_extendedprice").cast("decimal(8,2)") *
           (F.lit(1).cast("decimal(3,2)") -
            F.col("l_discount").cast("decimal(3,2)")))
    return (j.groupBy("r_name", "n_name")
            .agg(F.round(F.sum(rev).cast("double"), 6).alias("revenue"),
                 F.count("*").alias("n_items")))


def q_sessionize(spark, sf_dir):
    """Session windows (gap 10 min) per user via F.session_window;
    oracle replicates with lag+cumsum."""
    ev = _t(spark, sf_dir, "events")
    # r9: same unscaled-long sum as events_hourly (per-session sums
    # are tiny; identical values, decimal agg off the hot path)
    vl = (F.col("value").cast("decimal(18,6)") *
          F.lit(1000000)).cast("long")
    s = (ev.groupBy(F.session_window("ts", "10 minutes").alias("w"),
                    "user_id")
         .agg(F.count("*").alias("n_events"),
              F.round(F.sum(vl).cast("double") /
                      F.lit(1000000.0), 6).alias("sum_value")))
    return s.select("user_id", F.col("w.start").alias("session_start"),
                    "n_events", "sum_value")


def q_props_extract(spark, sf_dir):
    """JSON property extraction from the events.props column
    (get_json_object -> pushdown-friendly scalar).

    r9 (guide §2.3, aggregate before the expensive work): event
    payloads repeat heavily, so the raw props string is aggregated
    FIRST (map-side combine collapses per-task duplicates) and the
    JSON parse runs once per DISTINCT payload, with counts summed
    back per k.  Exactly equivalent (distinct props mapping to the
    same k sum into the same group); 1.65 s -> 0.98 s on the 1 M-row
    probe.  If payloads were all-distinct the first aggregate
    degrades into a shuffle of the strings — the trade is right for
    event-analytics payloads, which dictionary-compress by nature."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    per_props = ev.groupBy("props").agg(F.count("*").alias("c"))
    return (per_props.select(k.alias("k"), "c")
            .filter(F.col("k").isNotNull())
            .groupBy("k").agg(F.sum("c").cast("long").alias("n")))


def q_lang_name(spark, sf_dir):
    """Broadcast dict join against the ISO-639 table
    (iso_639/2 analog, SURVEY §2.9)."""
    from ..core.iso639 import ISO_639_1
    docs = _t(spark, sf_dir, "documents")
    lut = spark.createDataFrame(sorted(ISO_639_1.items()),
                                "lang string, lang_name string")
    agg = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    return (agg.join(F.broadcast(lut), "lang", "left")
            .select("lang", "lang_name", "n_docs"))


def q_xsd_numbers(spark, sf_dir):
    """XSD number lexical parsing (xsd.c:70-240 analog) over
    synthesized lexical forms — vectorized via pandas UDF."""
    ensure_workers(spark)
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def xsd_num(col: pd.Series) -> pd.Series:
        from packages_sgml_spark.core.xsd import xsd_number
        return col.map(lambda s: (lambda v: float(v)
                                  if v is not None else None)(
                                      xsd_number(s)))

    docs = _t(spark, sf_dir, "documents")
    lex = F.when(F.col("doc_id") % 5 == 0, F.lit("NaN")) \
        .when(F.col("doc_id") % 5 == 1, F.lit("-INF")) \
        .when(F.col("doc_id") % 5 == 2,
              F.concat(F.lit("."), (F.col("doc_id") % 100)
                       .cast("string"))) \
        .when(F.col("doc_id") % 5 == 3,
              F.concat((F.col("doc_id") % 7).cast("string"),
                       F.lit(".5e1"))) \
        .otherwise((F.col("doc_id") % 1000).cast("string"))
    out = docs.select("doc_id", lex.alias("lex"))
    return (out.withColumn("value", xsd_num("lex"))
            .withColumn("value", F.round("value", 6))
            .filter(F.col("lex") != "NaN"))   # NaN != NaN breaks hashing


def q_salted_source_stats(spark, sf_dir):
    """Skew-salted two-stage aggregation (spark/skew.py): results
    identical to a plain GROUP BY — which is exactly the oracle."""
    from .skew import salted_agg
    docs = _t(spark, sf_dir, "documents")
    out = salted_agg(
        docs, ["source"],
        {"n_docs": ("count", "doc_id"),
         "sum_chars": ("sum", "n_chars"),
         "max_chars": ("max", "n_chars")},
        shards=8, entropy_col="doc_id")
    return out.select("source",
                      F.col("n_docs").cast("bigint").alias("n_docs"),
                      F.col("sum_chars").cast("bigint")
                      .alias("sum_chars"),
                      "max_chars")


def q_ngram_jaccard(spark, sf_dir):
    """LSH candidates verified with exact shingle Jaccard (the
    standard two-stage near-dup pipeline)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs)
    return dedup.ngram_jaccard(docs, pairs)


def q_embedding_dups(spark, sf_dir):
    """LSH-bucketed embedding-cosine near-dup pairs (threshold 0.2 —
    the synthetic vectors are near-orthogonal, so a low threshold
    keeps the result non-trivial).  The bucketed path is the primary
    registered query (cost = sum of bucket^2, not n^2); the exact
    all-pairs variant remains the small-scale cross-check in pytest
    (tests/test_spark_ops.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dups(emb, threshold=0.2,
                                          use_lsh=True, dim=64,
                                          n_planes=6)


def q_subtree_text(spark, sf_dir):
    """//body descendant text via the pre-order range join
    (nodes.named_subtree_text).  r5: the node table comes from
    extract_nodes_rows — flat per-node rows built columnar in the
    worker; identical rows to the old explode path (A/B pytest +
    same oracle) without Arrow's per-struct conversion or the
    Generate node."""
    ensure_workers(spark)
    from .extract import extract_nodes_rows
    from .nodes import named_subtree_text
    docs = _t(spark, sf_dir, "documents")
    nodes = extract_nodes_rows(
        docs_as_pages(docs), dialect="html5", repartition=0,
        columns=("node_id", "kind", "name", "text", "subtree_end"))
    st = named_subtree_text(nodes, "body")
    return st.select(
        F.substring("url", 7, 32).cast("bigint").alias("doc_id"),
        F.col("text_subtree"))


def q_rolling_hash(spark, sf_dir):
    return textops.rolling_hash(_t(spark, sf_dir, "documents"))


def q_main_content(spark, sf_dir):
    """Boilerplate-strip / main-content extraction (north rule):
    link blocks and chrome dropped, content paragraphs kept."""
    ensure_workers(spark)
    from .extract import extract_main
    docs = _t(spark, sf_dir, "documents")
    pages = docs_as_pages(docs, links=True)
    ex = extract_main(pages, dialect="html5", repartition=0)
    return ex.select(
        F.substring("url", 7, 32).cast("bigint").alias("doc_id"),
        F.col("text_main"))


def q_pdf_text(spark, sf_dir):
    """PDF text extraction: documents -> deterministic PDFs ->
    pure-stdlib PDF parse -> text (round-trips the source text)."""
    ensure_workers(spark)
    from .pdfops import extract_pdf_text, synthetic_pdfs
    docs = _t(spark, sf_dir, "documents")
    pdfs = synthetic_pdfs(spark, docs)
    ex = extract_pdf_text(pdfs)
    return ex.select(
        F.substring("url", 7, 32).cast("bigint").alias("doc_id"),
        F.col("text").alias("pdf_text"),
        F.col("title").alias("pdf_title"),
        F.col("n_pages"))


def q_compression_ratio(spark, sf_dir):
    return textops.compression_ratio(_t(spark, sf_dir, "documents"))


def q_knn_ivf(spark, sf_dir):
    """IVF kNN with seed centroids (iterations=0): fully
    deterministic, so the DuckDB oracle replicates it exactly; Lloyd
    refinement is pytest-verified separately."""
    emb = _t(spark, sf_dir, "embeddings")
    emb = emb.withColumn("embedding",
                         F.col("embedding").cast("array<double>"))
    return similarity.ivf_knn(emb, list(range(8)), k=5, iterations=0)


def q_text_spans(spark, sf_dir):
    """Byte spans of the <p> text node per document — the node
    table's start_pos/end_pos map exactly into the source html bytes
    (north-star 'extracted text/spans')."""
    ensure_workers(spark)
    from .extract import extract_nodes_rows
    docs = _t(spark, sf_dir, "documents")
    nodes = extract_nodes_rows(
        docs_as_pages(docs), dialect="html5", repartition=0,
        columns=("node_id", "parent_id", "kind", "name",
                 "start_pos", "end_pos"))
    ps = (nodes.filter((F.col("kind") == "element") &
                       (F.col("name") == "p"))
          .select("url", F.col("node_id").alias("p_id")))
    texts = (nodes.filter(F.col("kind") == "text")
             .select("url", F.col("parent_id").alias("p_id"),
                     "start_pos", "end_pos"))
    return (ps.join(texts, ["url", "p_id"])
            .select(F.substring("url", 7, 32).cast("bigint")
                    .alias("doc_id"),
                    F.col("start_pos"), F.col("end_pos")))


def q_metrics_rollup(spark, sf_dir):
    """Fleet-metrics rollup shape (SURVEY §2.12): global counts,
    exact distinct cardinality, decimal-exact sums."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_types"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)"))
                .cast("double"), 6).alias("sum_value"))


def q_part_stats(spark, sf_dir):
    po = _t(spark, sf_dir, "part")
    return (po.groupBy("p_brand")
            .agg(F.count("*").alias("n_parts"),
                 # r9: p_retailprice < 10^3 -> decimal(8,2), long path
                 F.round(F.sum(F.col("p_retailprice")
                               .cast("decimal(8,2)")).cast("double"),
                         6).alias("sum_price"),
                 F.max("p_size").alias("max_size")))


def q_sitemap_parse(spark, sf_dir):
    """XML-dialect feed parsing (sitemap-style): synthesize a sitemap
    per document, parse with dialect=xml, count <url> entries and
    take the first <loc> (crawl-frontier extraction pattern)."""
    ensure_workers(spark)
    from .nodes import child_text
    from .util import spread
    # r9: spread BEFORE the xml concat, parse without a second
    # exchange (same serial-synth fix as docs_as_pages)
    docs = spread(_t(spark, sf_dir, "documents"), "doc_id")
    entry_xml = F.expr(
        "concat_ws('', transform(sequence(0, cast(doc_id % 4 as int)), "
        "i -> concat('<url><loc>https://ex.org/d/', doc_id, '/', i, "
        "'</loc><priority>0.5</priority></url>')))")
    xml = F.concat(F.lit('<?xml version="1.0"?><urlset>'), entry_xml,
                   F.lit("</urlset>"))
    pages = docs.select(
        F.concat(F.lit("map://"), F.col("doc_id").cast("string"))
        .alias("url"),
        F.encode(xml, "utf-8").alias("html"))
    from .extract import extract_nodes_rows
    nodes = extract_nodes_rows(
        pages, dialect="xml", repartition=0,
        columns=("node_id", "parent_id", "ord", "kind", "name",
                 "text"))
    locs = (nodes.filter((F.col("kind") == "element") &
                         (F.col("name") == "loc"))
            .select("url", "node_id"))
    txt = child_text(nodes)
    first_locs = (locs.join(txt, ["url", "node_id"])
                  .groupBy("url")
                  .agg(F.count("*").alias("n_urls"),
                       F.min("text_direct").alias("first_loc")))
    return first_locs.select(
        F.substring("url", 7, 32).cast("bigint").alias("doc_id"),
        "n_urls", "first_loc")


def q_value_quantiles(spark, sf_dir):
    """Exact interpolated percentiles per event type (percentile() in
    Spark == quantile_cont in DuckDB)."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy("event_type")
            .agg(F.round(F.expr("percentile(value, 0.5)"), 6)
                 .alias("p50"),
                 F.round(F.expr("percentile(value, 0.95)"), 6)
                 .alias("p95"),
                 F.count("*").alias("n")))


# (simhash_md5 was folded into the primary "simhash" registry entry
# in round 3 — one oracled simhash query instead of an oracled twin
# plus a permanently rows-only xxhash64 row.)


def _media_doc_id():
    return F.substring("media_id", 2, 32).cast("bigint").alias("doc_id")


def q_media_image_features(spark, sf_dir):
    """Multimodal image plumbing, driver-oracled: the deterministic
    fake decode is pure byte arithmetic over an ASCII payload, so the
    SQL oracle replicates width/height exactly.  (The real decoder is
    the documented PIL/ffmpeg swap-in; the Spark-side schema/batching
    is what this gate verifies.)"""
    ensure_workers(spark)
    from .multimodal import image_features, media_from_docs
    docs = _t(spark, sf_dir, "documents")
    media = media_from_docs(docs)
    feats = image_features(media, fake=True)
    return feats.select(_media_doc_id(), "width", "height",
                        "n_bytes", "status")


def q_media_frame_sample(spark, sf_dir):
    """Video frame sampling (explode-style mapInPandas), oracled via
    generate_series over the same deterministic frame count."""
    ensure_workers(spark)
    from .multimodal import media_from_docs, video_frame_sample
    docs = _t(spark, sf_dir, "documents")
    media = media_from_docs(docs)
    frames = video_frame_sample(media, fake=True)
    return frames.select(_media_doc_id(), "frame_idx", "ts_ms",
                         "frame", "status")


def q_media_audio_features(spark, sf_dir):
    """Audio feature plumbing (fake MFCC), oracled on the integer
    byte-sum features."""
    ensure_workers(spark)
    from .multimodal import audio_features, media_from_docs
    docs = _t(spark, sf_dir, "documents")
    media = media_from_docs(docs)
    au = audio_features(media, fake=True)
    return au.select(_media_doc_id(), "duration_ms", "n_samples",
                     "status")


def q_serialize_roundtrip(spark, sf_dir):
    """Writer surface under the driver gate: parse the synthesized
    pages and serialize the DOM back as compact XML (sgml_write
    analog); oracle reconstructs the exact output string."""
    ensure_workers(spark)
    from .extract import serialize_pages
    docs = _t(spark, sf_dir, "documents")
    pages = docs_as_pages(docs)
    ser = serialize_pages(pages, dialect="html5", out_dialect="xml",
                          repartition=0)
    return ser.select(
        F.substring("url", 7, 32).cast("bigint").alias("doc_id"),
        F.col("xml_out"))


def q_esis_dump(spark, sf_dir):
    """ESIS event-stream sink under the driver gate (the reference
    CLI's golden format); oracle reconstructs the exact stream."""
    ensure_workers(spark)
    from .extract import esis_pages
    docs = _t(spark, sf_dir, "documents")
    pages = docs_as_pages(docs)
    es = esis_pages(pages, dialect="html5", repartition=0)
    return es.select(
        F.substring("url", 7, 32).cast("bigint").alias("doc_id"),
        F.col("esis"))


def q_c14n(spark, sf_dir):
    """Exclusive-canonical-XML sink under the driver gate (byte-exact
    c14n machinery, pytest-verified against the reference's 17 -exc
    outputs); oracle reconstructs the canonical string."""
    ensure_workers(spark)
    from .extract import c14n_pages
    docs = _t(spark, sf_dir, "documents")
    pages = docs_as_pages(docs)
    cn = c14n_pages(pages, dialect="xml", repartition=0)
    return cn.select(
        F.substring("url", 7, 32).cast("bigint").alias("doc_id"),
        F.col("c14n"))


def q_ann_recall(spark, sf_dir):
    """Recall of the approximate kNN paths against the exact
    brute-force top-k, per query vector — the quality metric for the
    LSH/IVF scale paths, computed in one job and fully oracled (both
    sides are deterministic).

    Building the frame runs Spark jobs: the exact baseline is a
    localCheckpoint(eager=True) snapshot and knn_lsh / ivf_knn
    collect() their query vectors and centroids, all at call time."""
    emb = _t(spark, sf_dir, "embeddings")
    emb = emb.withColumn("embedding",
                         F.col("embedding").cast("array<double>"))
    qids = list(range(8))
    # materialize the (quadratic) exact baseline once: it feeds the
    # base/lhit/ihit branches and would otherwise execute 3x
    exact = similarity.knn_bruteforce(emb, qids, k=5) \
        .select("q_id", "n_id").localCheckpoint(eager=True)
    lsh = similarity.knn_lsh(emb, qids, dim=64, k=5) \
        .select("q_id", F.col("n_id").alias("l_id"))
    ivf = similarity.ivf_knn(emb, qids, k=5, iterations=0) \
        .select("q_id", F.col("n_id").alias("i_id"))
    lhit = (exact.join(lsh, (exact.q_id == lsh.q_id) &
                       (exact.n_id == lsh.l_id))
            .groupBy(exact.q_id).agg(F.count("*").alias("lsh_hits")))
    ihit = (exact.join(ivf, (exact.q_id == ivf.q_id) &
                       (exact.n_id == ivf.i_id))
            .groupBy(exact.q_id).agg(F.count("*").alias("ivf_hits")))
    base = exact.groupBy("q_id").agg(F.count("*").alias("k"))
    return (base.join(lhit, "q_id", "left").join(ihit, "q_id", "left")
            .select("q_id",
                    F.round(F.coalesce("lsh_hits", F.lit(0)) /
                            F.col("k"), 6).alias("lsh_recall"),
                    F.round(F.coalesce("ivf_hits", F.lit(0)) /
                            F.col("k"), 6).alias("ivf_recall")))


def q_dedup_components(spark, sf_dir):
    """Near-dup clusters: connected components over the minhash-LSH
    candidate pairs; component = canonical keeper doc_id."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs)
    return dedup.dedup_components(pairs)


# ---------------------------------------------------------------------
# round-3 corpus-hygiene operators (spark/datafilters.py)
# ---------------------------------------------------------------------

def q_contamination(spark, sf_dir):
    """Benchmark decontamination: non-benchmark docs sharing any
    5-word n-gram with the deterministic benchmark subset."""
    from . import datafilters
    return datafilters.contamination(_t(spark, sf_dir, "documents"))


def q_repetition_stats(spark, sf_dir):
    from . import datafilters
    return datafilters.repetition_stats(_t(spark, sf_dir, "documents"))


def q_pii_scrub(spark, sf_dir):
    from . import datafilters
    return datafilters.pii_scrub(_t(spark, sf_dir, "documents"))


def q_url_dedup(spark, sf_dir):
    """Canonical-URL dedup (normalize messy crawl URLs, group
    aliases, keep min doc_id)."""
    from . import datafilters
    return datafilters.url_dedup(_t(spark, sf_dir, "documents"))


def q_lsh_bucket_stats(spark, sf_dir):
    """LSH bucket-size observability (r4, the no-silent-caps rule):
    per-band histogram over distinct-signature reps + how much the
    minhash_lsh_pairs bucket cap would drop + star-collapse size."""
    return dedup.lsh_bucket_stats(_t(spark, sf_dir, "documents"))


def q_embedding_dup_recall(spark, sf_dir):
    """LSH near-dup recall vs the exact pair set (r4): same threshold
    and hyperplanes as the registered embedding_dups query."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_dup_recall(emb, threshold=0.2,
                                           dim=64, n_planes=6)


# ---------------------------------------------------------------------
# crawl-pipeline surface (r8): links, line filters, head/feed/markdown
# sinks over synthesized pages (spark/pages.py)
# ---------------------------------------------------------------------

def _doc_id():
    return F.regexp_extract("url", r"/p/(\d+)$", 1).cast("bigint")


def q_outlinks(spark, sf_dir):
    """Outlink extraction over synthesized link pages (spark/links.py
    outlinks: single narrow map, in-worker resolution +
    canonicalization, nofollow flags, javascript: dropped to NULL)."""
    ensure_workers(spark)
    from .links import outlinks
    pages = docs_as_link_pages(_t(spark, sf_dir, "documents"))
    return (outlinks(pages)
            .select(_doc_id().alias("doc_id"), "link_ord", "href",
                    "target", "anchor", "nofollow"))


def q_host_graph(spark, sf_dir):
    """Host-level edge aggregation: the relative links collapse as
    self-edges (dropped), the nofollow link is filtered, leaving the
    one cross-host link per document -> (src_host, dst_host, n)."""
    ensure_workers(spark)
    from .links import host_graph, outlinks
    pages = docs_as_link_pages(_t(spark, sf_dir, "documents"))
    return host_graph(outlinks(pages))


def q_pagerank_hosts(spark, sf_dir):
    """PageRank over a deterministic host graph derived from doc_id
    (h<i> -> h<(3i+1)%7>, weight = multiplicity).  Ranks rounded to
    9 decimals: both engines do float64 arithmetic in different
    association orders; at graph diameter ~7 the drift is ~1e-16."""
    ensure_workers(spark)
    from .links import pagerank
    docs = _t(spark, sf_dir, "documents")
    edges = (docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 7).cast("string"))
        .alias("src_host"),
        F.concat(F.lit("h"), ((F.col("doc_id") * 3 + 1) % 7)
                 .cast("string")).alias("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").cast("double").alias("n")))
    pr = pagerank(edges, n_iter=PR_ITER, damping=PR_DAMP)
    return pr.select("host", F.round("rank", 9).alias("rank"))


def q_boilerplate_lines(spark, sf_dir):
    ensure_workers(spark)
    from .datafilters import boilerplate_lines
    docs = line_docs(_t(spark, sf_dir, "documents"))
    return boilerplate_lines(docs, min_docs=BL_MIN_DOCS)


def q_strip_boilerplate(spark, sf_dir):
    ensure_workers(spark)
    from .datafilters import strip_boilerplate_lines
    docs = line_docs(_t(spark, sf_dir, "documents"))
    return strip_boilerplate_lines(docs, min_docs=BL_MIN_DOCS)


def q_robots_allowed(spark, sf_dir):
    """RFC 9309 politeness gate: synthesized frontier (host
    r<doc_id%5>, private path when doc_id%3==0) against per-host
    robots (Disallow: /private/, Crawl-delay: host+0.5; host r4
    publishes none -> unrestricted per §2.3.1.2)."""
    ensure_workers(spark)
    from .links import robots_filter
    d = F.col("doc_id")
    urls = _t(spark, sf_dir, "documents").select(F.concat(
        F.lit("https://r"), (d % 5).cast("string"), F.lit(".example/"),
        F.when(d % 3 == 0, F.lit("private/x")).otherwise(F.lit("pub/x")),
        F.lit("?id="), d.cast("string")).alias("url"))
    h = F.col("id")
    robots = spark.range(N_ROBOT_HOSTS).select(
        F.concat(F.lit("r"), h.cast("string"), F.lit(".example"))
        .alias("host"),
        F.concat(F.lit("User-agent: *\nDisallow: /private/\n"
                       "Crawl-delay: "),
                 (h + 0.5).cast("string")).alias("robots_txt"))
    return robots_filter(urls, robots)


def q_gopher_quality(spark, sf_dir):
    """Gopher-rule document filter signals (textops.gopher_quality)
    straight over the documents table."""
    return textops.gopher_quality(_t(spark, sf_dir, "documents"))


def q_c4_clean(spark, sf_dir):
    """C4 line/page cleaning (datafilters.c4_clean) over line-ified
    documents (same line_docs synthesis as the boilerplate pair, so
    multi-line structure is actually exercised)."""
    from .datafilters import c4_clean
    return c4_clean(line_docs(_t(spark, sf_dir, "documents")))


def q_page_meta(spark, sf_dir):
    """Head-metadata extraction (spark/nodes.py page_meta) over
    synthesized pages."""
    ensure_workers(spark)
    from .extract import extract_nodes_rows
    from .nodes import page_meta
    pages = docs_as_head_pages(_t(spark, sf_dir, "documents"))
    return page_meta(extract_nodes_rows(pages, repartition=0))


def q_feed_entries(spark, sf_dir):
    """Atom feed-entry extraction (spark/nodes.py feed_entries) under
    the xmlns dialect — entry rows with title text, link@href,
    id, updated."""
    ensure_workers(spark)
    from .extract import extract_nodes_rows
    from .nodes import feed_entries
    pages = docs_as_atom_pages(_t(spark, sf_dir, "documents"))
    return feed_entries(extract_nodes_rows(pages, dialect="xmlns",
                                           repartition=0))


def q_markdown(spark, sf_dir):
    """HTML -> Markdown rendering (extract_markdown /
    core/markdown.py) over synthesized structured pages; the
    expected markdown is reconstructed literally in SQL."""
    ensure_workers(spark)
    from .extract import extract_markdown
    d = F.col("doc_id")
    ds = d.cast("string")
    html_str = F.concat(
        F.lit("<html><body><h1>H "), ds, F.lit("</h1><p>P "), ds,
        F.lit(' with <b>bold</b> and <a href="https://x/'), ds,
        F.lit('">L</a>.</p><ul><li>i1</li><li>i2 '), ds,
        F.lit("</li></ul></body></html>"))
    from .util import spread
    pages = spread(_t(spark, sf_dir, "documents"),
                   "doc_id").select(   # r9: parallel synth
        F.concat(F.lit("md://"), ds).alias("url"),
        F.encode(html_str, "utf-8").alias("html"))
    return extract_markdown(pages, repartition=0).select(
        "url", "markdown", "n_errors", "status")


def q_url_filter(spark, sf_dir):
    """URL blocklist gate (datafilters.url_filter): exact host /
    domain-suffix / path-regex reasons over synthesized urls; every
    row stays in the output with a keep flag."""
    from .datafilters import url_filter
    d = F.col("doc_id")
    ds = d.cast("string")
    url = F.concat(
        F.lit("https://h"), (d % 11).cast("string"), F.lit(".site"),
        (d % 3).cast("string"), F.lit(".example"),
        F.when(d % 7 == 0, F.lit("/login/")).otherwise(F.lit("/p/")),
        ds)
    docs = _t(spark, sf_dir, "documents").select(url.alias("url"))
    return url_filter(docs,
                      blocked_hosts=("h0.site0.example",),
                      blocked_suffixes=("site1.example",),
                      blocked_path_rx="^/login")


def q_jsonld(spark, sf_dir):
    """JSON-LD block extraction (nodes.jsonld): every doc carries one
    valid Article block; docs with doc_id%5==0 carry a second,
    MALFORMED block (is_valid=0 path); a plain <script> without the
    ld+json type must be ignored."""
    ensure_workers(spark)
    from .extract import extract_nodes_rows
    from .nodes import jsonld
    d = F.col("doc_id")
    ds = d.cast("string")
    html_str = F.concat(
        F.lit('<html><body><script type="application/ld+json">'
              '{"@type": "Article", "headline": "H '), ds,
        F.lit('"}</script>'),
        F.when(d % 5 == 0,
               F.lit('<script type="application/ld+json">{broken'
                     "</script>")).otherwise(F.lit("")),
        F.lit("<script>var x = 1;</script>"
              "<p>x</p></body></html>"))
    pages = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("ld://"), ds).alias("url"),
        F.encode(html_str, "utf-8").alias("html"))
    return jsonld(extract_nodes_rows(pages, repartition=0))


def q_fix_text(spark, sf_dir):
    """Mojibake repair + NFC over documents whose text is
    deterministically mis-decoded first (utf-8 bytes read as
    latin-1), so the repair has planted truth: text_fixed must equal
    the original text NFC-composed.  No DuckDB oracle (codec
    round-trips aren't SQL) — joins the registry as a rows-only
    `no_oracle` entry like compression_ratio; the byte-exact
    inverse property is pytest-pinned instead."""
    from .textops import fix_text
    docs = _t(spark, sf_dir, "documents")
    import pandas as pd

    # the synthetic corpus is ASCII (mis-decode = identity), so a
    # non-ASCII suffix is planted first to actually exercise repair
    def break_enc(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "text": [(t + " — café № %d…" % i)
                         .encode("utf-8").decode("latin-1")
                         for i, t in zip(pdf["doc_id"],
                                         pdf["text"])]})

    from .util import spread
    broken = spread(docs.select("doc_id", "text"),
                    "doc_id").mapInPandas(
        break_enc, schema="doc_id bigint, text string")
    return fix_text(broken)


def q_anchor_texts(spark, sf_dir):
    """Incoming anchor text per target over the synthesized link
    pages (links.anchor_texts on the outlinks output); the array
    column is joined to a string so the value-hash compare sees one
    scalar per row."""
    ensure_workers(spark)
    from .links import anchor_texts, outlinks
    pages = docs_as_link_pages(_t(spark, sf_dir, "documents"))
    at = anchor_texts(outlinks(pages), max_texts=ANCHOR_CAP)
    return at.select(
        "url", "n_anchors", "n_distinct_anchors",
        F.array_join("anchor_texts", "||").alias("anchors_joined"))


# ---------------------------------------------------------------------
# training-data pipeline (r9); corpus_keep, dedup_spans and
# shard_assign are the curate job's stages
# ---------------------------------------------------------------------

def q_quality_features(spark, sf_dir):
    """Fused quality sidecar (textops.quality_features) over
    line-ified documents — the exact projection jobs/crawl_job.py
    writes per url."""
    from .textops import quality_features
    return quality_features(line_docs(_t(spark, sf_dir, "documents")))


def q_dup_ngram_frac(spark, sf_dir):
    """Cross-document duplicated-8-gram fraction per doc (the Lee et
    al. exact-substring-dedup signal) over the documents table."""
    from .datafilters import dup_ngram_frac
    return dup_ngram_frac(_t(spark, sf_dir, "documents"))


def q_simhash_pairs(spark, sf_dir):
    """Banded-Hamming near-dup pairs over the 32-bit simhash —
    completes the SimHash dedup surface (the registered `simhash`
    emits signatures only): exact recall for hamming <= 3 via the
    4-chunk pigeonhole, with the minhash-style star-collapse and
    bucket-cap skew guards."""
    from .dedup import simhash_pairs
    return simhash_pairs(_t(spark, sf_dir, "documents"))


def q_doc_chunks(spark, sf_dir):
    """Fixed-size training-sequence chunking (textops.doc_chunks) at
    a 32-word window — the sequence-packing shard shape.  Zero
    shuffles: one generate+project stage, chunks stay in their
    parent doc's partition."""
    from .textops import doc_chunks
    return doc_chunks(_t(spark, sf_dir, "documents"), chunk_size=32)


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-source quota sample (k=10) — the data-mixing
    primitive: same corpus in, same sample out, no rand()."""
    from .datafilters import stratified_sample
    return stratified_sample(_t(spark, sf_dir, "documents"), k=10)


def q_host_quality(spark, sf_dir):
    """Host-level quality rollup (textops.host_quality) — the
    domain-filter signal, aggregated with exact integer sums so the
    result is partition-order independent."""
    from .textops import host_quality
    return host_quality(_t(spark, sf_dir, "documents"))


def q_dedup_keep(spark, sf_dir):
    """Materialized per-doc dedup decision (dedup.dedup_keep):
    MinHash-LSH candidates -> connected components -> one keep bit
    per doc, exactly one representative per near-dup cluster."""
    from .dedup import dedup_keep
    return dedup_keep(_t(spark, sf_dir, "documents"))


def q_pack_sequences(spark, sf_dir):
    """Concatenate-and-cut sequence packing at a 128-token budget
    (textops.pack_sequences) — per-source token streams cut into
    fixed training sequences, each doc's span recorded."""
    from .textops import pack_sequences
    return pack_sequences(_t(spark, sf_dir, "documents"), budget=128)


def q_vocab_ngrams(spark, sf_dir):
    """Corpus-level top-50 bigram census (textops.vocab_ngrams) —
    the BPE merge-candidate sweep / boilerplate-phrase census."""
    from .textops import vocab_ngrams
    return vocab_ngrams(_t(spark, sf_dir, "documents"), n=2,
                        top_k=50)


def q_unigram_logprob(spark, sf_dir):
    """Corpus-unigram NLL per doc (datafilters.unigram_logprob) —
    the CCNet/perplexity-style fluency filter's SQL-expressible
    core."""
    from .datafilters import unigram_logprob
    return unigram_logprob(_t(spark, sf_dir, "documents"))


def q_tfidf_top_terms(spark, sf_dir):
    """Characteristic terms per source (textops.tfidf_top_terms):
    tf-idf with hosts as the idf documents, top-5 per host."""
    from .textops import tfidf_top_terms
    return tfidf_top_terms(_t(spark, sf_dir, "documents"), top_k=5)


def q_corpus_keep(spark, sf_dir):
    """The shipped corpus decision (datafilters.corpus_keep): the
    whole filter stack — near-dup dedup, Gopher, C4, lang-ID — in
    ONE plan, each signal a bit plus the final AND."""
    from .datafilters import corpus_keep
    return corpus_keep(_t(spark, sf_dir, "documents"))


def q_dedup_spans(spark, sf_dir):
    """Materialized exact-substring removal (datafilters.dedup_spans)
    — every word covered by a cross-document duplicated 8-gram cut,
    survivors reassembled in document order."""
    from .datafilters import dedup_spans
    import inspect
    # The dedup_spans oracle hardcodes the n=8 gram width (r8 ADVICE):
    # pin the Spark side to the same default so a future gate run
    # with a different n can't silently compare the wrong oracle
    assert inspect.signature(dedup_spans).parameters["n"].default == 8
    return dedup_spans(_t(spark, sf_dir, "documents"))


def q_shard_assign(spark, sf_dir):
    """Deterministic training-shard shuffle
    (datafilters.shard_assign): md5-bucketed shard + in-shard rank,
    bit-reproducible across runs and engines."""
    from .datafilters import shard_assign
    return shard_assign(_t(spark, sf_dir, "documents"), n_shards=8)


def q_semdedup_keep(spark, sf_dir):
    """Embedding-cluster keep decision (similarity.semdedup_keep):
    LSH-bucketed cosine pairs at the registered embedding_dups
    threshold -> connected components -> one representative per
    semantic cluster."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    return similarity.semdedup_keep(emb, threshold=0.2, dim=64,
                                    n_planes=6)


def q_classifier_score(spark, sf_dir):
    """Model-based quality scoring (textops.classifier_score): the
    fastText-classifier slot with the model as INPUT.  For the gate,
    weights derive deterministically from the corpus vocabulary —
    md5-bucketed half of the distinct terms get a uniform [-0.5,0.5]
    weight, the other half exercises the OOV path."""
    from .dedup import norm_words
    from .textops import classifier_score
    docs = _t(spark, sf_dir, "documents")
    w = F.filter(norm_words(F.coalesce(F.col("text"), F.lit(""))),
                 lambda x: x != "")
    terms = docs.select(F.explode(w).alias("term")).distinct()
    h = F.conv(F.substring(
        F.md5(F.encode(F.col("term"), "utf-8")), 1, 8), 16, 10) \
        .cast("bigint")
    weights = (terms.withColumn("h", h)
               .filter(F.col("h") % 2 == 0)
               .select("term",
                       (F.col("h") / F.lit(4294967295.0) -
                        F.lit(0.5)).alias("weight")))
    return classifier_score(docs, weights, bias=0.25)


# The 16 leaves bench.py times (bench_extra.py reads this list).
HEADLINE = (
    "extract_text", "extract_title", "element_histogram",
    "pricing_summary", "top_customers", "events_hourly",
    "top_event_per_user", "lang_id", "quality", "token_count",
    "fingerprint", "dedup_exact", "minhash_lsh_pairs", "simhash",
    "knn_cosine", "knn_lsh")


QUERIES = {
    "extract_text": q_extract_text,
    "extract_title": q_extract_title,
    "count_links": q_count_links,
    "element_histogram": q_element_histogram,
    "pricing_summary": q_pricing_summary,
    "top_customers": q_top_customers,
    "segment_order_priority": q_segment_order_priority,
    "events_hourly": q_events_hourly,
    "top_event_per_user": q_top_event_per_user,
    "source_stats": q_source_stats,
    "resume_filter": q_resume_filter,
    "dedup_newest": q_dedup_newest,
    "lang_id": q_lang_id,
    "quality": q_quality,
    "token_count": q_token_count,
    "fingerprint": q_fingerprint,
    "dedup_exact": q_dedup_exact,
    "minhash_signatures": q_minhash_signatures,
    "minhash_lsh_pairs": q_minhash_lsh_pairs,
    "simhash": q_simhash,
    "knn_cosine": q_knn_cosine,
    "knn_lsh": q_knn_lsh,
    "local_supplier_volume": q_local_supplier_volume,
    "sessionize": q_sessionize,
    "props_extract": q_props_extract,
    "lang_name": q_lang_name,
    "xsd_numbers": q_xsd_numbers,
    "salted_source_stats": q_salted_source_stats,
    "ngram_jaccard": q_ngram_jaccard,
    "embedding_dups": q_embedding_dups,
    "subtree_text": q_subtree_text,
    "rolling_hash": q_rolling_hash,
    "main_content": q_main_content,
    "pdf_text": q_pdf_text,
    "compression_ratio": q_compression_ratio,
    "knn_ivf": q_knn_ivf,
    "text_spans": q_text_spans,
    "metrics_rollup": q_metrics_rollup,
    "part_stats": q_part_stats,
    "sitemap_parse": q_sitemap_parse,
    "value_quantiles": q_value_quantiles,
    "media_image_features": q_media_image_features,
    "media_frame_sample": q_media_frame_sample,
    "media_audio_features": q_media_audio_features,
    "serialize_roundtrip": q_serialize_roundtrip,
    "esis_dump": q_esis_dump,
    "c14n": q_c14n,
    "ann_recall": q_ann_recall,
    "dedup_components": q_dedup_components,
    "contamination": q_contamination,
    "repetition_stats": q_repetition_stats,
    "pii_scrub": q_pii_scrub,
    "url_dedup": q_url_dedup,
    "lsh_bucket_stats": q_lsh_bucket_stats,
    "embedding_dup_recall": q_embedding_dup_recall,
    # crawl-pipeline surface (r8)
    "gopher_quality": q_gopher_quality,
    "c4_clean": q_c4_clean,
    "anchor_texts": q_anchor_texts,
    "fix_text": q_fix_text,
    "page_meta": q_page_meta,
    "feed_entries": q_feed_entries,
    "markdown": q_markdown,
    "jsonld": q_jsonld,
    "url_filter": q_url_filter,
    "outlinks": q_outlinks,
    "host_graph": q_host_graph,
    "pagerank_hosts": q_pagerank_hosts,
    "boilerplate_lines": q_boilerplate_lines,
    "strip_boilerplate": q_strip_boilerplate,
    "robots_allowed": q_robots_allowed,
    # training-data pipeline, incl. the curate job"s stages (r9)
    "quality_features": q_quality_features,
    "dup_ngram_frac": q_dup_ngram_frac,
    "simhash_pairs": q_simhash_pairs,
    "doc_chunks": q_doc_chunks,
    "stratified_sample": q_stratified_sample,
    "host_quality": q_host_quality,
    "dedup_keep": q_dedup_keep,
    "pack_sequences": q_pack_sequences,
    "vocab_ngrams": q_vocab_ngrams,
    "unigram_logprob": q_unigram_logprob,
    "tfidf_top_terms": q_tfidf_top_terms,
    "corpus_keep": q_corpus_keep,
    "dedup_spans": q_dedup_spans,
    "shard_assign": q_shard_assign,
    "semdedup_keep": q_semdedup_keep,
    "classifier_score": q_classifier_score,
}
