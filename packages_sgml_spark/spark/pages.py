"""Deterministic synthetic Common-Crawl-style pages table
(FIXTURES.md §1/§5) with the authoritative input shape from
BASELINE.json input_hint:

    (url string, warc_ts timestamp, html binary, text string,
     lang string)

Generation is pure Spark SQL (JVM-side, no Python row loop): a
sequence range -> deterministic pseudo-random fields via xxhash64.
Host distribution is Zipf-ish over ~1000 hosts (hot-host skew for the
salting/shuffle tests); html is templated tag soup with a controlled
rate of unclosed <p>/<li>, entities, comments and one <script> block.

Golden rows (exact bytes of the reference Test/ corpus) can be
appended for end-to-end byte-identity checks inside Spark jobs.
"""

import os

from pyspark.sql import DataFrame, functions as F

TEST_DIR = "/root/reference/Test"


def synthetic_pages(spark, n_docs=1000, n_hosts=1000, seed=42,
                    scale=1, unique_links=False,
                    unquoted_links=False,
                    empty_tags=False) -> DataFrame:
    """Deterministic pages DF.  Zipf-ish hosts: host rank r taken as
    floor(u^3 * n_hosts) of a uniform hash -> mass concentrates on
    low ranks (hot hosts).  `scale` multiplies paragraph count
    (document size; scale=12 gives crawl-like ~5-25 KB pages).

    unique_links=True gives every <a href> a per-document,
    per-paragraph URL — the real-crawl shape where attr values never
    repeat, which exercises the shape-replay parse path instead of
    the string-keyed tag memo (r6; BENCH.md).

    unquoted_links=True (with unique_links) drops the quotes around
    those hrefs — legacy-soup shape (`<a href=https://...>`), the
    itake_unquoted path (reference parser.c:1163-1198) that r7's
    shape scanner accepts; quotes-required warnings still fire
    per-occurrence.

    empty_tags=True (with unique_links) adds a <br> and a unique-src
    <img> per paragraph — the C_EMPTY-element density of real crawl
    HTML (r8: a defined EMPTY element stays open until the next
    token, so this shape exercises the executor's implied close +
    the shape replay of EMPTY begins)."""
    df = spark.range(n_docs).withColumnRenamed("id", "i")
    h = F.abs(F.xxhash64(F.col("i") + F.lit(seed)))
    u = (h % 1000000) / 1000000.0
    host_rank = F.floor(F.pow(u, F.lit(3.0)) * n_hosts).cast("int")
    host = F.concat(F.lit("host"), host_rank, F.lit(".example.org"))
    url = F.concat(F.lit("https://"), host, F.lit("/page/"),
                   F.col("i").cast("string"))
    warc_ts = F.to_timestamp(
        F.lit("2026-01-01 00:00:00")) + F.make_interval(secs=F.col("i"))
    lang = F.element_at(
        F.array(*[F.lit(x) for x in
                  ("en", "de", "fr", "es", "ru", "zh", "pt", "nl")]),
        (F.col("i") % 8 + 1).cast("int"))

    n_paras = ((h % 7 + 1) * scale).cast("int")
    if unique_links:
        # per-paragraph unique hrefs (JVM-side, still deterministic)
        oq, cq = ("", "") if unquoted_links else ("\"", "\"")
        if empty_tags:
            mid = lambda j: F.concat(
                F.lit(" with a break,<br>an <img src=\"https://"),
                host, F.lit("/img/"), F.col("i").cast("string"),
                F.lit("-"), j.cast("string"),
                F.lit(".jpg\" alt=\"pic\"> and"))
        else:
            mid = lambda j: F.lit(" and")
        paras = F.array_join(F.transform(
            F.sequence(F.lit(1), n_paras),
            lambda j: F.concat(
                F.lit("<p>Paragraph about topic "),
                (h % 97).cast("string"),
                F.lit(" with some &amp; entities, a <b>bold</b> "
                      "claim,"),
                mid(j),
                F.lit(" a link to <a href=" + oq + "https://"),
                host, F.lit("/ref/"), F.col("i").cast("string"),
                F.lit("-"), j.cast("string"),
                F.lit(cq + ">a reference</a>."),
                F.when(h % 3 == 0, F.lit("")).otherwise(
                    F.lit("</p>")))), "")
    else:
        # deterministic filler sentence, repeated n_paras times
        # (empty_tags here = repeating-value <br>/<img> — the
        # string-memo empty path, vs the unique-src shape path above)
        mid_rep = (F.concat(F.lit(" a break,<br>an <img src=\"/i"),
                            (h % 7).cast("string"),
                            F.lit(".jpg\" alt=\"pic\"> and"))
                   if empty_tags else F.lit(" and"))
        para = F.concat(
            F.lit("<p>Paragraph about topic "), (h % 97).cast("string"),
            F.lit(" with some &amp; entities, a <b>bold</b> claim,"),
            mid_rep,
            F.lit(" a link to <a href=\"https://"), host,
            F.lit("/ref\">a reference</a>."),
            # controlled tag-soup rate: ~1/3 of paragraphs leave <p>
            # open
            F.when(h % 3 == 0, F.lit("")).otherwise(F.lit("</p>")))
        paras = F.repeat(para, n_paras)
    items = F.concat(
        F.lit("<ul><li>item one<li>item two<li>item "),
        (h % 13).cast("string"), F.lit("</ul>"))
    body = F.concat(
        paras, items,
        F.lit("<script>var x = 1 < 2 && 3 > 2;</script>"),
        F.lit("<!-- trailing comment -->"))
    html_str = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>Page "),
        F.col("i").cast("string"),
        F.lit("</title><meta charset=\"utf-8\"></head><body><h1>Page "),
        F.col("i").cast("string"), F.lit("</h1>"), body,
        F.lit("</body></html>"))
    text = F.concat(F.lit("Page "), F.col("i").cast("string"))

    return df.select(
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        F.encode(html_str, "utf-8").alias("html"),
        text.alias("text"),
        lang.alias("lang"),
    )


def golden_pages(spark) -> DataFrame:
    """Exact bytes of the reference Test corpus as pages rows
    (url = test://sgml/<file>), with a `dialect` column selected by
    extension like the reference harness (test_sgml.pl:173-175)."""
    rows = []
    if os.path.isdir(TEST_DIR):
        for fn in sorted(os.listdir(TEST_DIR)):
            if not fn.endswith((".sgml", ".xml")):
                continue
            with open(os.path.join(TEST_DIR, fn), "rb") as f:
                data = f.read()
            dialect = "sgml" if fn.endswith(".sgml") else "xml"
            rows.append(("test://sgml/" + fn, data, dialect))
    return spark.createDataFrame(rows, "url string, html binary, "
                                       "dialect string")


def docs_as_pages(docs: DataFrame, links=False) -> DataFrame:
    """Wrap the driver testdata `documents` table as a pages table with
    deterministically synthesized HTML whose extracted text is exactly
    'Doc <id> ' || text  (SQL-reconstructable for the DuckDB oracle).

    '&' and '<' in the source text are entity-escaped so the parse is
    lossless.

    r9 (guide §2.4): the input is spread to full parallelism BEFORE
    the html concat — the gate/bench documents table is one small
    parquet file whose 1-2 scan tasks otherwise synthesize every page
    serially ahead of the extract operators' url-hash exchange
    (measured: synth was 0.48 s of q_extract_text's 1.0 s on the
    50k-doc probe, on 2 of 32 cores).  Shuffling the narrow (doc_id,
    text, lang) rows here costs a fraction of shuffling the built
    html, and the parse queries now pass repartition=0 so the html
    bytes are never exchanged at all; a crawl-scale input with >=
    cores partitions makes the spread a no-op.  Row sets unchanged
    (partitioning only)."""
    from .util import spread
    docs = spread(docs, "doc_id")
    esc = F.replace(F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
                    F.lit("<"), F.lit("&lt;"))
    link_block = (
        F.expr("repeat('<a href=\"https://example.org/r\">ref</a>', "
               "cast(doc_id % 5 + 1 as int))")
        if links else F.lit(""))
    html_str = F.concat(
        F.lit("<html><head><title>Doc "), F.col("doc_id").cast("string"),
        F.lit(" </title></head><body><p>"), esc,
        F.lit("</p>"), link_block,
        F.lit("</body></html>"))
    url = F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
    return docs.select(
        url.alias("url"),
        F.encode(html_str, "utf-8").alias("html"),
        F.col("doc_id"), F.col("lang"))


# Gate parameters shared by a registry query and its DuckDB oracle
# (spark/queries.py, spark/oracles.py): one definition each.
PR_ITER = 5           # pagerank_hosts power iterations
PR_DAMP = 0.85        # pagerank_hosts damping
ANCHOR_CAP = 3        # anchor_texts max texts per target
N_ROBOT_HOSTS = 4     # robots_allowed: hosts r0..r3 have robots; r4 none
BL_MIN_DOCS = 3       # boilerplate_lines / strip_boilerplate threshold


# Synthesized link pages: page url https://d<doc_id%13>.example/p/<id>
# with, per document (k = doc_id % 5 + 1):
#   k relative links  /r/<i>?x=<id>#f   anchor "ref <b><i></b>"
#   1 absolute cross-host link https://h<doc_id%7>.example/z
#   1 rel=nofollow /nf, 1 javascript: — exercising skip paths.
# Everything is SQL-reconstructable for the DuckDB oracle.


def docs_as_link_pages(docs):
    from .util import spread
    docs = spread(docs, "doc_id")   # r9: parallel synth (docs_as_pages)
    d = F.col("doc_id")
    k = (d % 5 + 1).cast("int")
    rel_links = F.array_join(F.transform(
        F.sequence(F.lit(0), k - 1),
        lambda i: F.concat(
            F.lit('<a href="/r/'), i.cast("string"),
            F.lit("?x="), d.cast("string"),
            F.lit('#f">ref <b>'), i.cast("string"),
            F.lit("</b></a>"))), "")
    html_str = F.concat(
        F.lit("<html><head><title>t</title></head><body>"),
        rel_links,
        F.lit('<a href="https://h'), (d % 7).cast("string"),
        F.lit('.example/z">x</a>'),
        F.lit('<a href="/nf" rel="nofollow">nf</a>'),
        F.lit('<a href="javascript:void(0)">js</a>'),
        F.lit("</body></html>"))
    url = F.concat(F.lit("https://d"), (d % 13).cast("string"),
                   F.lit(".example/p/"), d.cast("string"))
    return docs.select(url.alias("url"),
                       F.encode(html_str, "utf-8").alias("html"))


def line_docs(docs):
    """Line-ified documents: text is one line; append a footer shared
    by every document and the lang code (shared by ~1/8 of docs) —
    real cross-document boilerplate with planted truth,
    SQL-reconstructable (oracles._LINEDOC_SQL_T)."""
    # F.concat, NOT concat_ws: the SQL twin (_LINEDOC_SQL_T) is
    # `text || ... || lang` and || PROPAGATES NULL — concat_ws
    # silently skipped a NULL text and fabricated footer-only
    # content for failed extractions, a cross-engine divergence no
    # NULL-free gate corpus can see (caught by the r8 session-5
    # randomized differential; the NULL-text doc then flows NULL
    # into every downstream op, which all coalesce it as empty).
    return docs.select(
        "doc_id",
        F.concat(F.col("text"), F.lit("\nShared footer.\n"),
                 F.col("lang")).alias("text"))


def docs_as_head_pages(docs):
    """Synthesized head-metadata pages: title + description always;
    canonical only when doc_id%2==0, og:title when doc_id%3==0 —
    NULL-field paths exercised.  SQL-reconstructable."""
    from .util import spread
    docs = spread(docs, "doc_id")   # r9: parallel synth
    d = F.col("doc_id")
    ds = d.cast("string")
    html_str = F.concat(
        F.lit('<html lang="en-US"><head><title>T '), ds,
        F.lit("</title>"),
        F.lit('<meta name="description" content="D '), ds,
        F.lit('">'),
        F.when(d % 2 == 0, F.concat(
            F.lit('<link rel="canonical" href="https://c.example/'),
            ds, F.lit('">'))).otherwise(F.lit("")),
        F.when(d % 3 == 0, F.concat(
            F.lit('<meta property="og:title" content="OG '), ds,
            F.lit('">'))).otherwise(F.lit("")),
        F.lit("</head><body><p>x</p></body></html>"))
    url = F.concat(F.lit("https://m"), (d % 13).cast("string"),
                   F.lit(".example/p/"), ds)
    return docs.select(url.alias("url"),
                       F.encode(html_str, "utf-8").alias("html"))


def docs_as_atom_pages(docs):
    """Synthesized Atom feeds (default xmlns — the r7 node-tape
    xmlns path): k = doc_id%4+1 entries; a feed-level <title> child
    tests entry scoping (it must NOT leak into any entry row)."""
    from .util import spread
    docs = spread(docs, "doc_id")   # r9: parallel synth
    d = F.col("doc_id")
    ds = d.cast("string")
    k = (d % 4 + 1).cast("int")
    entries = F.array_join(F.transform(
        F.sequence(F.lit(1), k),
        lambda j: F.concat(
            F.lit("<entry><title>E "), ds, F.lit("-"),
            j.cast("string"),
            F.lit('</title><link href="https://b'),
            (d % 7).cast("string"), F.lit(".example/p/"),
            j.cast("string"),
            F.lit('" rel="alternate"/><id>urn:'), ds, F.lit(":"),
            j.cast("string"),
            F.lit("</id><updated>2026-01-0"),
            (j % 9 + 1).cast("string"),
            F.lit("</updated></entry>"))), "")
    xml = F.concat(
        F.lit('<?xml version="1.0"?>'
              '<feed xmlns="http://www.w3.org/2005/Atom">'
              "<title>Feed</title>"),
        entries, F.lit("</feed>"))
    url = F.concat(F.lit("feed://"), ds)
    return docs.select(url.alias("url"),
                       F.encode(xml, "utf-8").alias("html"))


def golden_table(spark) -> DataFrame:
    """Expected-output table (FIXTURES.md §3) built by running the
    core parser directly over the Test corpus: url, text_expected,
    dom_json_expected, n_errors_expected."""
    import json
    from ..core.golden import parse_test_file
    from ..core.dom import extract_text, dom_to_json
    from ..core.parser import SGMLParser, ParserOptions

    rows = []
    if os.path.isdir(TEST_DIR):
        for fn in sorted(os.listdir(TEST_DIR)):
            if not fn.endswith((".sgml", ".xml")):
                continue
            dialect = "sgml" if fn.endswith(".sgml") else "xml"
            with open(os.path.join(TEST_DIR, fn), "rb") as f:
                data = f.read()
            p = SGMLParser(ParserOptions(
                dialect=dialect, encoding="utf-8",
                file=fn, quiet=False))
            dom, errors = p.parse(data)
            rows.append(("test://sgml/" + fn, extract_text(dom),
                         dom_to_json(dom), len(errors)))
    return spark.createDataFrame(
        rows, "url string, text_expected string, "
              "dom_json_expected string, n_errors_expected int")


def golden_compare(extracted: DataFrame, golden: DataFrame) -> DataFrame:
    """Golden-equality join (SURVEY §2.4): broadcast the (small)
    golden set against extraction output; returns mismatch rows
    (empty == pass)."""
    j = extracted.join(F.broadcast(golden), "url", "full_outer")
    return j.filter(
        F.col("text_expected").isNull() |
        F.col("text_extracted").isNull() |
        (F.col("text_extracted") != F.col("text_expected")))
