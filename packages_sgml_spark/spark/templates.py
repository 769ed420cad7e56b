"""Site-template boilerplate mining + removal.

Cross-page repeated-subtree detection: the fleet-scale counterpart of
`core/boilerplate.py`'s single-document heuristic.  Real crawl
corpora repeat navigation/header/footer DOM subtrees VERBATIM across
every page of a host; mining those templates from a per-host sample
and stripping them corpus-wide recovers article text that
link-density heuristics miss (and never strips a unique article that
merely *looks* link-dense).

Scale design (the part that matters at 10^12 documents):

1. `template_candidates` runs on a bounded PER-HOST SAMPLE
   (``sample_pages_per_host``, default 64) — the only shuffles in
   the mining pass move the sample, not the corpus.
2. The surviving template table is small by construction (repeated
   subtrees of sampled hosts, share-filtered); it broadcasts.
3. `extract_text_without_templates` is ONE narrow ``mapInPandas``
   over (url, html) with the template keys broadcast — zero
   shuffle, same plan shape as `extract`.

Fingerprints are md5-derived int64s over the subtree's structure and
text (`_doc_fingerprints`) — stable across workers and Python runs
(no seeded ``hash()``), computed bottom-up in O(nodes) from the flat
NodeTableParser rows.  Two levels:

- ``content_fp``: name + class + attrs-shape + child fps + text —
  verbatim-repeat detection (navigation menus, footers, cookie
  banners: identical markup AND text on every page).
- ``struct_fp``: like content_fp but text-blind — layout-repeat
  detection (e.g. "related articles" boxes whose text varies);
  reported by the miner, NOT used by the default strip (stripping
  structure-only repeats risks article containers).

Reference: /root/reference/sgml2pl.c has no cross-document analysis
(per-document parses only); this module is engine-native
functionality layered on the node-table extraction
(`spark/extract.py:extract_nodes_rows`).
"""

import hashlib

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (DoubleType, LongType, IntegerType,
                               StringType, StructField, StructType)

from .extract import _node_rows, _page_sink

_I64 = (1 << 63) - 1


def _doc_fingerprints(rows):
    """Per-document bottom-up subtree fingerprints.

    rows: NodeTableParser flat rows (pre-order; children carry
    node_id > parent, parent_id/ord links).  Returns
    {node_id: (struct_fp, content_fp, n_nodes, text_len)} for
    ELEMENT nodes.

    O(nodes): one forward pass collects children (already in
    document order), one reverse pass combines child fps into
    parents (all children have larger ids, so descending order sees
    them first)."""
    children = {}
    byid = {}
    for r in rows:
        byid[r["node_id"]] = r
        children.setdefault(r["parent_id"], []).append(r["node_id"])
    out = {}
    memo = {}           # node_id -> (sbytes, cbytes, n_nodes, tlen)
    for nid in sorted(byid, reverse=True):
        r = byid[nid]
        if r["kind"] == "text":
            t = (r["text"] or "").encode("utf-8", "replace")
            memo[nid] = (b"t", b"t\0" + t, 1, len(r["text"] or ""))
            continue
        attrs = r["attrs"] or {}
        own = "%s\0%s\0%s" % (
            r["name"] or "",
            attrs.get("class", ""),
            ",".join(sorted(attrs)))      # attr-NAME shape, not values
        sparts = [b"e\0", own.encode("utf-8", "replace")]
        cparts = [b"e\0", own.encode("utf-8", "replace")]
        n_nodes, tlen = 1, 0
        for cid in children.get(nid, ()):
            cs, cc, cn, ct = memo[cid]
            sparts.append(cs if len(cs) <= 16 else
                          hashlib.md5(cs).digest())
            cparts.append(cc if len(cc) <= 16 else
                          hashlib.md5(cc).digest())
            n_nodes += cn
            tlen += ct
        sb = hashlib.md5(b"\0".join(sparts)).digest()
        cb = hashlib.md5(b"\0".join(cparts)).digest()
        memo[nid] = (sb, cb, n_nodes, tlen)
        out[nid] = (int.from_bytes(sb[:8], "big") & _I64,
                    int.from_bytes(cb[:8], "big") & _I64,
                    n_nodes, tlen)
    return out


_FP_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("host", StringType()),
    StructField("name", StringType()),
    StructField("struct_fp", LongType()),
    StructField("content_fp", LongType()),
    StructField("n_nodes", IntegerType()),
    StructField("text_len", IntegerType()),
])


def node_fingerprints(pages: DataFrame, dialect="html5") -> DataFrame:
    """(url, host, html) -> one row per ELEMENT node with subtree
    fingerprints.  Narrow map (no shuffle); run it on a SAMPLE for
    mining — the full corpus never needs this pass."""
    def page(html, opts, key):
        rows = _node_rows(html, opts)
        fps = _doc_fingerprints(rows)
        out = []
        for r in rows:
            fp = fps.get(r["node_id"])
            if fp is None or r["parent_id"] < 0:
                # roots excluded: a whole-page fp only repeats on
                # byte-identical pages (dedup territory) and stripping
                # it would empty the document
                continue
            out.append(key + (r["name"],) + fp)
        return out

    return _page_sink(pages, _FP_SCHEMA, page, dialect=dialect,
                      repartition=0, keys=("url", "host"))


def with_host(pages: DataFrame) -> DataFrame:
    return pages.withColumn(
        "host", F.expr("parse_url(url, 'HOST')"))


def template_candidates(pages: DataFrame, dialect="html5",
                        sample_pages_per_host=64,
                        min_pages=4, min_share=0.6,
                        min_nodes=3) -> DataFrame:
    """Mine per-host repeated subtrees from a bounded sample.

    Returns (host, content_fp, name, n_pages, host_pages, share,
    n_nodes, text_len) for content-identical subtrees appearing on
    >= min_pages sampled pages and >= min_share of the host's
    sample.  Nested repeats are pruned to the OUTERMOST subtree via
    a max-nodes-per-(host,page-count) heuristic left to the caller;
    stripping handles nesting naturally (dropping a parent drops its
    children).

    Shuffles touch only the sample: one exchange to rank pages per
    host, one aggregation of the sampled node fps."""
    from pyspark.sql import Window
    src = with_host(pages.select("url", "html"))
    w = Window.partitionBy("host").orderBy(F.xxhash64("url"))
    sample = (src.withColumn("_rk", F.row_number().over(w))
                 .filter(F.col("_rk") <= sample_pages_per_host)
                 .drop("_rk"))
    fps = node_fingerprints(sample, dialect=dialect).filter(
        F.col("n_nodes") >= min_nodes)
    host_pages = sample.groupBy("host").agg(
        F.countDistinct("url").alias("host_pages"))
    per_fp = (fps.groupBy("host", "content_fp")
                 .agg(F.countDistinct("url").alias("n_pages"),
                      F.first("name").alias("name"),
                      F.max("n_nodes").alias("n_nodes"),
                      F.max("text_len").alias("text_len")))
    return (per_fp.join(F.broadcast(host_pages), "host")
            .withColumn("share", (F.col("n_pages") /
                                  F.col("host_pages"))
                        .cast(DoubleType()))
            .filter((F.col("n_pages") >= min_pages) &
                    (F.col("share") >= min_share)))


def collect_template_keys(templates: DataFrame, cap=2_000_000):
    """Materialize the (bounded, share-filtered) template table into
    the plain set the strip pass broadcasts.  `cap` is a guard
    against a mis-filtered call flooding the driver; the default
    allows ~30 MB of keys — far beyond any real per-host template
    population."""
    out = set()
    it = templates.select("host", "content_fp").toLocalIterator()
    for row in it:
        out.add((row["host"], row["content_fp"]))
        if len(out) > cap:
            raise ValueError(
                "template key set exceeded cap=%d — tighten "
                "min_share/min_pages before broadcasting" % cap)
    return out


_CLEAN_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("text", StringType()),
    StructField("n_dropped", IntegerType()),
    StructField("dropped_text_len", IntegerType()),
])


def extract_text_without_templates(pages: DataFrame, template_keys,
                                   dialect="html5") -> DataFrame:
    """(url, html) -> (url, text, n_dropped, dropped_text_len) with
    every subtree whose (host, content_fp) is in `template_keys`
    removed before text assembly.

    The 100 TB path: `template_keys` is a plain set built from the
    SMALL mined template table (collect_template_keys), shipped via
    Spark broadcast; this pass is one narrow mapInPandas over the
    full corpus — zero shuffle, identical plan shape to extract()."""
    bkeys = pages.sparkSession.sparkContext.broadcast(
        frozenset(template_keys))

    def page(html, opts, key):
        url, host = key
        keys = bkeys.value
        rows = _node_rows(html, opts)
        fps = _doc_fingerprints(rows)
        drop_until = -1
        n_dropped = 0
        dropped_len = 0
        parts = []
        for r in rows:
            nid = r["node_id"]
            if nid < drop_until:
                continue
            fp = fps.get(nid)
            if (fp is not None and r["parent_id"] >= 0 and
                    (host, fp[1]) in keys):
                drop_until = r["subtree_end"]
                n_dropped += 1
                dropped_len += fp[3]
                continue
            if r["kind"] == "text" and r["text"]:
                parts.append(r["text"])
        return [(url, "".join(parts), n_dropped, dropped_len)]

    return _page_sink(with_host(pages.select("url", "html")),
                      _CLEAN_SCHEMA, page, dialect=dialect, repartition=0,
                      keys=("url", "host"))
