"""Link-graph operators: outlink extraction, host graph, PageRank.

The crawl-pipeline trio downstream of parsing — link frontiers,
host-level quality priors (PageRank-ish), and spam/nofollow
filtering — built so the expensive part stays inside the one narrow
map the extract family already pays:

* ``outlinks`` runs the SAME single-pass NodeTableParser the node
  queries use, but folds the node rows into link rows *inside the
  worker* — one parse per document, links-only output (orders of
  magnitude smaller than the node table), zero shuffle, ``<base
  href>`` honored, anchors resolved + canonicalized (core/urls.py)
  while the strings are already in Python.
* ``host_graph`` is ONE groupBy over JVM-side parse_url hosts.
* ``pagerank`` is the standard damped power iteration as DataFrame
  joins: per-iteration lineage cut with localCheckpoint (the
  dedup_components pattern), dangling mass redistributed in-plan via
  a 1-row aggregate crossJoin — no driver-side collect of data.

Reference parity note: packages-sgml stops at the parse (its xpath.pl
would select ``//a/@href``); the resolution/graph layer is the
"beyond the reference" pipeline surface SURVEY.md §6 calls for.
"""

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (BooleanType, DoubleType, IntegerType,
                               LongType, StringType, StructField,
                               StructType)

from .extract import _node_rows, _page_sink

LINKS_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("link_ord", IntegerType()),
    StructField("href", StringType()),
    StructField("target", StringType()),
    StructField("anchor", StringType()),
    StructField("nofollow", BooleanType()),
])

_TEXT_KINDS = ("text", "sdata", "ndata")


def _doc_links(url, rows):
    """Fold one document's pre-order node rows into link tuples.
    O(nodes): a stack of open anchors collects descendant text;
    the first <base href> rebases resolution (HTML spec: only the
    first base is effective)."""
    from ..core.urls import resolve_url
    base = url
    base_seen = False
    open_anchors = []     # stack of entries, innermost last
    out = []              # entries in OPEN (document) order
    for r in rows:
        nid = r["node_id"]
        while open_anchors and open_anchors[-1][0] <= nid:
            open_anchors.pop()
        kind = r["kind"]
        if kind == "element":
            name = r["name"]
            attrs = r["attrs"] or {}
            if name == "a":
                href = attrs.get("href")
                if href is not None:
                    entry = [r["subtree_end"], href,
                             attrs.get("rel"), []]
                    open_anchors.append(entry)
                    out.append(entry)
            elif name == "base" and not base_seen:
                bh = attrs.get("href")
                if bh:
                    base = bh
                    base_seen = True
        elif kind in _TEXT_KINDS and open_anchors:
            text = r["text"]
            if text:
                for a in open_anchors:
                    a[3].append(text)
    links = []
    for ord_, (_end, href, rel, parts) in enumerate(out):
        nofollow = bool(rel) and "nofollow" in rel.lower().split()
        links.append((url, ord_, href, resolve_url(base, href),
                      "".join(parts), nofollow))
    return links


def outlinks(pages: DataFrame, dialect="html5",
             repartition="auto") -> DataFrame:
    """pages(url, html) -> (url, link_ord, href, target, anchor,
    nofollow): one row per ``<a href>`` in document order.  ``target``
    is the canonical absolute URL (None for javascript:/mailto:/
    unparseable); ``href`` keeps the raw attribute for exactness.
    One narrow map; the node rows are folded into link rows in the
    worker."""
    def page(html, opts, key):
        return _doc_links(key[0], _node_rows(html, opts))

    return _page_sink(pages, LINKS_SCHEMA, page, dialect=dialect,
                      repartition=repartition)


def host_graph(links: DataFrame, keep_nofollow=False,
               keep_self=False) -> DataFrame:
    """Resolved links -> host-level edges (src_host, dst_host, n).
    JVM-side parse_url + ONE groupBy; at crawl scale this is the
    single shuffle of the whole link job (AQE handles the hot-host
    skew the Zipf distribution guarantees)."""
    e = links.where(F.col("target").isNotNull())
    if not keep_nofollow:
        e = e.where(~F.col("nofollow"))
    e = e.select(
        F.lower(F.parse_url("url", F.lit("HOST"))).alias("src_host"),
        F.lower(F.parse_url("target", F.lit("HOST"))).alias("dst_host"))
    e = e.where(F.col("src_host").isNotNull() &
                F.col("dst_host").isNotNull())
    if not keep_self:
        e = e.where(F.col("src_host") != F.col("dst_host"))
    return (e.groupBy("src_host", "dst_host")
            .agg(F.count("*").alias("n")))


def anchor_texts(links: DataFrame, max_texts=50) -> DataFrame:
    """Incoming anchor text per target url — the classic web-scale
    relevance signal (anchor words describe the TARGET document).
    Output: (url, n_anchors, n_distinct_anchors, anchor_texts) with
    anchor_texts capped at the ``max_texts`` most frequent distinct
    texts (ties broken lexically), sorted for determinism.

    Scale shape: distinct (target, anchor) pair counts first (hash
    agg with map-side partials — the raw link fan-in never crosses
    the wire per-row), then a row_number window caps the texts BEFORE
    any per-key collection, so mega-hub targets (every crawl has
    them) hold at most ``max_texts`` strings in aggregation state
    instead of their full fan-in.  The final groupBy reuses the
    window's hash partitioning on target — two exchanges total."""
    from pyspark.sql import Window
    pairs = (links
             .where(F.col("target").isNotNull() &
                    (F.length(F.trim("anchor")) > 0))
             .select("target", F.trim("anchor").alias("anchor"))
             .groupBy("target", "anchor")
             .agg(F.count("*").alias("n")))
    w = Window.partitionBy("target").orderBy(F.desc("n"), "anchor")
    ranked = pairs.withColumn("rn", F.row_number().over(w))
    # collect_list skips NULLs: texts beyond the cap contribute to
    # the counts but never enter the per-key collection state
    kept = F.when(F.col("rn") <= max_texts, F.col("anchor"))
    return (ranked.groupBy(F.col("target").alias("url"))
            .agg(F.sum("n").alias("n_anchors"),
                 F.count("*").alias("n_distinct_anchors"),
                 F.array_sort(F.collect_list(kept))
                 .alias("anchor_texts")))


ROBOTS_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("allowed", BooleanType()),
    StructField("crawl_delay", DoubleType()),
])


def robots_filter(urls: DataFrame, robots: DataFrame,
                  user_agent="*") -> DataFrame:
    """Politeness gate on a URL frontier: urls(url) x robots(host,
    robots_txt) -> (url, allowed, crawl_delay).

    Plan: derive the host JVM-side, join on it (the robots side is
    one row per host — AQE broadcast-joins it when it fits, which at
    per-site batch sizes it does), then ONE Arrow-batched map checks
    paths.  Rules are parsed once per distinct robots_txt per batch
    (memo keyed on the text), not per URL; a frontier sorted by host
    — the natural layout after the host-graph shuffle — parses each
    robots.txt once per task.  URLs with no robots row are allowed
    (RFC 9309 §2.3.1.2: unavailable means unrestricted)."""
    u = urls.select(
        "url",
        F.lower(F.parse_url("url", F.lit("HOST"))).alias("_host"))
    r = robots.select(F.lower(F.col("host")).alias("_host"),
                      "robots_txt")
    joined = u.join(r, "_host", "left").select("url", "robots_txt")

    def fn(batches):
        from ..core.robots import parse_robots, url_allowed
        memo = {}
        for pdf in batches:
            out_allowed = []
            out_delay = []
            for url, txt in zip(pdf["url"], pdf["robots_txt"]):
                if txt is None:
                    out_allowed.append(True)
                    out_delay.append(None)
                    continue
                rules = memo.get(txt)
                if rules is None:
                    rules, _maps = parse_robots(txt, user_agent)
                    if len(memo) > 4096:   # worker-lifetime bound
                        memo.clear()
                    memo[txt] = rules
                out_allowed.append(url_allowed(rules, url))
                out_delay.append(rules.crawl_delay)
            yield pd.DataFrame({"url": pdf["url"],
                                "allowed": out_allowed,
                                "crawl_delay": out_delay})

    return joined.mapInPandas(fn, schema=ROBOTS_SCHEMA)


def frontier(links: DataFrame, crawled: DataFrame) -> DataFrame:
    """New-URL frontier: resolved link targets not yet crawled — one
    distinct + one anti-join on the canonical URL (both sides already
    canonical: outlinks canonicalizes targets; crawled(url) is the
    pages table key)."""
    cand = (links.where(F.col("target").isNotNull() &
                        ~F.col("nofollow"))
            .select(F.col("target").alias("url")).distinct())
    return cand.join(crawled.select("url"), "url", "left_anti")


def pagerank(edges: DataFrame, n_iter=10, damping=0.85,
             src="src_host", dst="dst_host", weight="n",
             checkpoint_every=3) -> DataFrame:
    """Weighted PageRank over (src, dst, weight) edges ->
    (host, rank); ranks sum to 1.  Damped power iteration as pure
    DataFrame joins: out-degree normalized contributions, dangling
    mass redistributed uniformly via an in-plan 1-row aggregate
    (crossJoin — no per-iteration driver collect), lineage cut with
    localCheckpoint every ``checkpoint_every`` iterations exactly as
    dedup_components does.  Iteration count is fixed (crawl practice:
    ~10 suffices for host graphs); convergence testing would add a
    driver action per round for no ranking benefit.

    Building the frame runs Spark jobs: the node count and the
    localCheckpoint() cuts (eager by default) snapshot `edges` at
    call time."""
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                      F.col(weight).cast("double").alias("w"))
         .groupBy("src", "dst").agg(F.sum("w").alias("w")))
    nodes = (e.select(F.col("src").alias("host"))
             .union(e.select(F.col("dst").alias("host")))
             .distinct().localCheckpoint())
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_w = e.groupBy("src").agg(F.sum("w").alias("w_out"))
    # contribution fractions are iteration-invariant: materialize once
    frac = (e.join(out_w, "src")
            .select("src", "dst", (F.col("w") / F.col("w_out"))
                    .alias("frac")).localCheckpoint())
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for i in range(n_iter):
        contrib = (frac.join(ranks, frac["src"] == ranks["host"])
                   .groupBy("dst")
                   .agg(F.sum(F.col("frac") * F.col("rank"))
                        .alias("contrib")))
        dangling = (ranks.join(out_w, ranks["host"] == out_w["src"],
                               "left_anti")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0))
                         .alias("dang")))
        ranks = (nodes.join(contrib, nodes["host"] == contrib["dst"],
                            "left")
                 .crossJoin(dangling)
                 .select(
                     "host",
                     (F.lit(base) +
                      F.lit(damping) *
                      (F.coalesce(F.col("contrib"), F.lit(0.0)) +
                       F.col("dang") / F.lit(float(n))))
                     .alias("rank")))
        if (i + 1) % checkpoint_every == 0 or i == n_iter - 1:
            ranks = ranks.localCheckpoint()
    return ranks
