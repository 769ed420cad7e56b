"""Seeded inputs: the crawl archives, the curation documents and the
tables the headline query leaves read.

Every generator is a pure function of its seed (``random.Random`` and
``numpy.random.default_rng``), so the same seed always yields the same
archives, documents and tables.  Sizes are fixed; the seed only moves
content, so runs with different seeds do about the same amount of work.
"""

import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MAX_HTML_BYTES = 8 * 1024 * 1024      # spark.extract's per-row guard

STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "for", "with",
             "on", "was", "as", "this", "from", "be", "by", "are", "it",
             "at", "have", "they", "not", "but", "we"]
LATIN1_WORDS = ["café", "naïve", "señor", "über", "façade", "déjà",
                "garçon", "résumé", "jalapeño", "smörgåsbord"]


def _vocab(rng, n):
    """Pronounceable pseudo-words; rank 0 is the most frequent."""
    syl = ["ka", "lo", "mi", "ser", "tan", "vu", "pre", "dor", "gel",
           "ri", "son", "al", "ne", "quo", "bit", "ex"]
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(syl)
                          for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _zipf_picker(rng, items, s=1.1):
    weights = [1.0 / (r + 1) ** s for r in range(len(items))]
    cum, acc = [], 0.0
    for w in weights:
        acc += w
        cum.append(acc)

    def pick(k):
        return rng.choices(items, cum_weights=cum, k=k)
    return pick


# --------------------------------------------------------------- crawl

CRAWL_ARCHIVES = 8
CRAWL_PAGES = 4000          # per corpus, spread over the archives


class CrawlCorpus:
    """The generated archives plus what the crawl job must produce.

    ``pages`` maps url -> UTF-8 HTML for every 200 response the job
    keeps (what ``warc_pages`` yields after transcoding); ``n_empty``
    and ``n_too_large`` count the rows ``extract`` must flag.
    """

    def __init__(self, warc_dir, pages, n_empty, n_too_large,
                 payload_bytes, archive_paths):
        self.warc_dir = warc_dir
        self.pages = pages
        self.n_empty = n_empty
        self.n_too_large = n_too_large
        self.payload_bytes = payload_bytes
        self.archive_paths = archive_paths

    @property
    def n_docs(self):
        return len(self.pages)


def _prose(rng, pick, n_sent):
    out = []
    for _ in range(n_sent):
        words = []
        for i in range(rng.randint(8, 16)):
            words.append(rng.choice(STOPWORDS) if i % 3 == 1
                         else pick(1)[0])
        out.append(" ".join(words).capitalize() + ".")
    return " ".join(out)


def _page(rng, pick, page_no, host, n_para, latin1):
    """One HTML page whose shape varies with the parser's fast paths:
    repeated / unique / unquoted hrefs, <br>/<img> density, unclosed
    <p>/<li>, and prose that may pass the quality gates."""
    href = rng.choice(("repeated", "unique", "unquoted"))
    empties = rng.random() < 0.4
    unclosed = rng.random() < 0.3
    prose = rng.random() < 0.6
    parts = ["<!DOCTYPE html><html><head><title>%s page %d</title>"
             "</head><body><h1>%s</h1>"
             % (host, page_no, " ".join(pick(3)))]
    for j in range(n_para):
        if href == "repeated":
            link = '<a href="https://%s/nav">home</a>' % host
        elif href == "unique":
            link = '<a href="https://%s/p/%d-%d">more</a>' % (
                host, page_no, j)
        else:
            link = "<a href=https://%s/p/%d-%d>more</a>" % (
                host, page_no, j)
        text = (_prose(rng, pick, rng.randint(2, 4)) if prose
                else " ".join(pick(rng.randint(6, 14))))
        if latin1 and j % 2 == 0:
            text += " " + rng.choice(LATIN1_WORDS) + "."
        if empties:
            link += '<br><img src="/i/%d-%d.png" alt="">' % (page_no, j)
        close = "" if unclosed else "</p>"
        # one source line per paragraph: the text keeps the newline,
        # so prose paragraphs are the lines the C4 rule counts
        parts.append("\n<p>%s %s%s" % (link, text, close))
        if j % 5 == 4:
            items = "".join("<li>%s%s" % (" ".join(pick(3)),
                                          "" if unclosed else "</li>")
                            for _ in range(3))
            parts.append("\n<ul>%s</ul>" % items)
    parts.append("\n</body></html>")
    return "".join(parts)


def make_crawl(root, seed, n_pages=CRAWL_PAGES,
               n_archives=CRAWL_ARCHIVES, big_pages=2, huge_pages=1):
    """Write ``n_archives`` .warc.gz archives under ``root``.

    Besides ordinary pages the corpus holds ``big_pages`` pages of
    about 1 MB, ``huge_pages`` pages over the 8 MiB guard, a few empty
    bodies, a few non-200 records and some Latin-1 pages; hosts follow
    a Zipf law.
    """
    from packages_sgml_spark.core.warc import (build_response_record,
                                               write_warc)
    rng = random.Random(seed)
    pick = _zipf_picker(rng, _vocab(rng, 3000))
    hosts = ["h%d.example" % i for i in range(120)]
    pick_host = _zipf_picker(rng, hosts, s=1.2)
    os.makedirs(root, exist_ok=True)
    special = rng.sample(range(n_pages), 4 + big_pages + huge_pages + 60)
    empty_ids = set(special[:4])
    big_ids = set(special[4:4 + big_pages])
    huge_ids = set(special[4 + big_pages:4 + big_pages + huge_pages])
    non200_ids = set(special[4 + big_pages + huge_pages:
                             4 + big_pages + huge_pages + 40])
    latin1_ids = set(special[4 + big_pages + huge_pages + 40:])
    # long-tailed page size: Pareto(1.3) paragraph counts, taken at
    # fixed quantiles and shuffled, so every seed parses the same bytes
    n_paras = [min(int(3 * (1 - (k + 0.5) / n_pages) ** (-1 / 1.3)), 400)
               for k in range(n_pages)]
    rng.shuffle(n_paras)
    pages, payload_bytes = {}, 0
    per_archive = [[] for _ in range(n_archives)]
    for i in range(n_pages):
        host = pick_host(1)[0]
        url = "https://%s/doc/%d/%d" % (host, seed, i)
        date = "2026-01-%02dT00:00:00Z" % (i % 28 + 1)
        status, reason = 200, "OK"
        ctype = "text/html; charset=utf-8"
        if i in empty_ids:
            html = ""
        elif i in huge_ids:
            unit = _page(rng, pick, i, host, 40, False)
            html = unit * (MAX_HTML_BYTES // len(unit) + 2)
        else:
            n_para = 2500 if i in big_ids else n_paras[i]
            html = _page(rng, pick, i, host, n_para, i in latin1_ids)
        if i in non200_ids:
            status, reason = rng.choice(((404, "Not Found"),
                                         (500, "Server Error"),
                                         (301, "Moved Permanently")))
        if i in latin1_ids:
            payload = html.encode("latin-1")
            ctype = "text/html; charset=iso-8859-1"
        else:
            payload = html.encode("utf-8")
        per_archive[i % n_archives].append(build_response_record(
            url, date, payload, http_content_type=ctype, status=status,
            reason=reason))
        if status == 200:
            pages[url] = html.encode("utf-8")
            payload_bytes += len(payload)
    paths = []
    for a, recs in enumerate(per_archive):
        path = os.path.join(root, "crawl-%03d.warc.gz" % a)
        with open(path, "wb") as f:
            write_warc(f, recs)
        paths.append(path)
    n_too_large = sum(1 for b in pages.values() if len(b) > MAX_HTML_BYTES)
    n_empty = sum(1 for b in pages.values() if not b)
    return CrawlCorpus(root, pages, n_empty, n_too_large, payload_bytes,
                       paths)


# -------------------------------------------------------------- curate

CURATE_DOCS = 1200
FOOTER = ("all rights reserved contact the site owner today for "
          "more information about this page .")       # 15 words


class CurateCorpus:
    def __init__(self, path, n_docs, boiler_ids, text_bytes):
        self.path = path
        self.n_docs = n_docs
        self.boiler_ids = boiler_ids
        self.n_boiler = len(boiler_ids)
        self.text_bytes = text_bytes


def make_curate(path, seed, n_docs=CURATE_DOCS):
    """Documents parquet (doc_id, text) for the curation job: a
    boilerplate mega-cluster (one hot LSH bucket), near-duplicate
    clusters, a footer shared by every other doc, Zipf tokens and a
    spread of doc lengths."""
    rng = random.Random(seed)
    pick = _zipf_picker(rng, _vocab(rng, 20000), s=1.05)
    boiler = "\n".join("the bp%d and bq%d item %d ." % (i % 9, i % 7, i)
                       for i in range(12))
    ids = list(range(n_docs))
    rng.shuffle(ids)
    n_boiler = int(0.25 * n_docs)
    boiler_ids = set(ids[:n_boiler])

    # a spread of doc lengths (exponential, at fixed quantiles) that is
    # the same for every seed
    n_texts = n_docs - n_boiler
    lengths = [min(4 + int(-6.0 * math.log(1 - (k + 0.5) / n_texts)), 60)
               for k in range(n_texts)]
    rng.shuffle(lengths)

    def body(n_lines):
        lines = []
        for _ in range(n_lines):
            words = [rng.choice(STOPWORDS) if i % 3 == 0 else pick(1)[0]
                     for i in range(12)]
            lines.append(" ".join(words) + " .")
        return lines

    texts = [None] * n_docs
    cluster_base = None
    for k, d in enumerate(ids[n_boiler:]):
        if cluster_base is not None and rng.random() < 0.35:
            # near duplicate: one word swapped in one line
            lines = list(cluster_base)
            li = rng.randrange(len(lines))
            w = lines[li].split(" ")
            w[rng.randrange(len(w) - 1)] = pick(1)[0]
            lines[li] = " ".join(w)
        else:
            lines = body(lengths[k])
            cluster_base = lines
        texts[d] = "\n".join(lines + [FOOTER])
    for d in boiler_ids:
        texts[d] = boiler
    table = pa.table({"doc_id": pa.array(range(n_docs), pa.int64()),
                      "text": pa.array(texts, pa.string())})
    pq.write_table(table, path)
    text_bytes = sum(len(t.encode("utf-8")) for t in texts)
    return CurateCorpus(path, n_docs, boiler_ids, text_bytes)


# ------------------------------------------------------------- queries

DOC_WORDS = ["batch", "part", "spark", "line", "column", "order", "small",
             "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
             "agg", "filter", "query", "big", "key", "window", "row",
             "table", "stream", "merge", "data", "vector", "the", "of"]


def _ts(rng, start, span_s, n, unit="us"):
    base = np.datetime64(start, unit)
    step = 1_000_000 if unit == "us" else 1
    return base + (rng.integers(0, span_s, n) * step).astype(
        "timedelta64[%s]" % unit)


def make_tables(root, seed, scale=1.0):
    """The six tables the headline query leaves read, with the schemas
    and value ranges of the sf0.1 test tables and ``scale`` x their row
    counts.  Returns {table: parquet path}."""
    rng = np.random.default_rng(seed)
    prng = random.Random(seed)
    os.makedirs(root, exist_ok=True)
    n_cust = int(15000 * scale)
    n_orders = int(150000 * scale)
    n_li = int(600000 * scale)
    n_ev = int(100000 * scale)
    n_docs = int(5000 * scale)
    n_emb = int(2000 * scale)

    def cents(lo, hi, n):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), n)
                        / 100.0, 2)

    tables = {}
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust)
                                .astype(np.int32)),
        "c_acctbal": pa.array(cents(-999, 9999, n_cust)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"], n_cust)),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders)
                              .astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_orders)),
        "o_totalprice": pa.array(cents(1000, 500000, n_orders)),
        "o_orderdate": pa.array(_ts(rng, "1995-01-01", 2404, n_orders,
                                    "D").astype("datetime64[us]")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
             "5-LOW"], n_orders)),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_li)
                               .astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, 20000, n_li)
                              .astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n_li)
                              .astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li)
                                 .astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li)
                               .astype(np.float64)),
        "l_extendedprice": pa.array(cents(900, 105000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": pa.array(_ts(rng, "1995-01-02", 2498, n_li, "D")
                               .astype("datetime64[us]")),
    })
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(_ts(rng, "2024-01-01", 30 * 86400, n_ev)
                       + rng.integers(0, 1_000_000, n_ev)
                       .astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(
            ["click", "error", "purchase", "signup", "view"], n_ev)),
        "value": pa.array(np.round(rng.gamma(2.0, 50.0, n_ev), 2)),
        "props": pa.array(['{"k": %d}' % k
                           for k in rng.integers(0, 100, n_ev)]),
    })
    texts = []
    for i in range(n_docs):
        if i > 0 and prng.random() < 0.02:
            texts.append(texts[prng.randrange(i)])       # exact dup
            continue
        n = int(min(max(rng.lognormal(3.6, 0.6), 8), 95))
        texts.append(" ".join(prng.choice(DOC_WORDS) for _ in range(n)))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(["en", "de", "es", "fr", "zh"],
                                    n_docs)),
        "source": pa.array(["src%d" % (i % 20) for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts],
                                     dtype=np.int64)),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32)),
    })
    paths = {}
    for name, table in tables.items():
        path = os.path.join(root, name + ".parquet")
        pq.write_table(table, path)
        paths[name] = path
    return paths


def sample(rng_seed, items, k):
    """Seeded sample of at most ``k`` items, in a stable order."""
    items = list(items)
    k = min(k, len(items))
    return random.Random(rng_seed).sample(items, k) if k else []

