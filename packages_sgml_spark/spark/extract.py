"""Page sinks: the html binary column -> extracted text, DOM node rows,
parse errors and the other per-page outputs of the parser.

Every sink is one call to `_page_sink`: one narrow Arrow-batched map
over pandas frames (no per-row Python UDF dispatch) whose body is
`pageloop.page_rows`, the only loop that parses pages.  pageloop's
docstring states the per-page guards, the status vocabulary and the
three output shapes.  `_page_sink` owns the prologue: select
(url, html [, pass-through] [, dialect]) and, at 100 TB, repartition
by xxhash64(url) so work is uniform regardless of crawl ordering.  The
unit of work is a document (embarrassingly parallel), so hot hosts
don't matter here.  `repartition="auto"` shuffles only when the source
has fewer partitions than cores, N > 0 always, 0 never.  Catalyst sees
a narrow map over the selected columns, so column pruning and
predicate pushdown on the rest still reach the scan.
"""

from collections import Counter
from functools import partial
from operator import itemgetter

import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, MapType, StringType, StructField,
    StructType)

from ..core.dom import dom_to_json, extract_text, flatten_nodes
from ..core.parser import (FirstElementTextParser, NodeTableParser,
                           SGMLParser, TagCountParser)
from .pageloop import (MAX_HTML_BYTES, TEXT_META_SCHEMA, out_schema,
                       page_rows, text_quality_sink)
from .pageloop import extract_options as _extract_options
from .pageloop import markdown as _markdown
from .pageloop import options as _options
from .pageloop import text_only as _text_only
from .util import spread

NODE_TYPE = StructType([
    StructField("node_id", IntegerType()),
    StructField("parent_id", IntegerType()),
    StructField("ord", IntegerType()),
    StructField("kind", StringType()),
    StructField("name", StringType()),
    StructField("attrs", MapType(StringType(), StringType())),
    StructField("text", StringType()),
    StructField("subtree_end", IntegerType()),
    StructField("start_pos", IntegerType()),
    StructField("end_pos", IntegerType()),
])

ERROR_TYPE = StructType([
    StructField("severity", StringType()),
    StructField("line", IntegerType()),
    StructField("message", StringType()),
])

EXTRACT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("text_extracted", StringType()),
    StructField("dom_json", StringType()),
    StructField("nodes", ArrayType(NODE_TYPE)),
    StructField("parse_errors", ArrayType(ERROR_TYPE)),
    StructField("n_nodes", IntegerType()),
    StructField("n_errors", IntegerType()),
    StructField("html_bytes", LongType()),
    StructField("status", StringType()),
])

_quiet_options = partial(_options, quiet=True)


def _page_batches(batches, schema, page, options=_options,
                  dialect="html5", fold=None, derive=None):
    """`pageloop.page_rows` over pandas batches, as pandas frames of
    `schema` [+ `derive`'s fields] — the body of a page sink's Python
    worker, also callable on the driver.  A batch holds `html`, an
    optional per-row `dialect` and the key columns, url first."""
    def columns(pdf):
        keys = zip(*[pdf[c].tolist() for c in pdf.columns
                     if c not in ("html", "dialect")])
        return (keys, pdf["html"].tolist(),
                pdf["dialect"].tolist() if "dialect" in pdf.columns
                else None)

    cols = out_schema(schema, derive).fieldNames()
    for recs in page_rows(map(columns, batches), schema, page, options,
                          dialect, fold, derive):
        yield pd.DataFrame.from_records(recs, columns=cols)


def _page_sink(pages: DataFrame, schema, page, options=_options,
               dialect="html5", repartition="auto", fold=None,
               keys=("url",), row_dialect=False,
               derive=None) -> DataFrame:
    """pages(url, html, ...) -> `schema` [+ `derive`'s fields]: one
    narrow Arrow-batched map of `_page_batches` over the key columns,
    html and, with `row_dialect`, the pages' own dialect column."""
    cols = [*keys, "html"]
    if row_dialect and "dialect" in pages.columns:
        cols.append("dialect")
    src = pages.select(*cols)
    if repartition == "auto":
        src = spread(src, F.xxhash64("url"))
    elif repartition:
        src = src.repartition(repartition, F.xxhash64("url"))

    def fn(batches):
        return _page_batches(batches, schema, page, options, dialect,
                             fold, derive)

    return src.mapInPandas(fn, schema=out_schema(schema, derive))


def _text_schema(col):
    """(url, <col>, status): the schema of a one-string-per-page sink."""
    return StructType([StructField("url", StringType()),
                       StructField(col, StringType()),
                       StructField("status", StringType())])


def _node_rows(html, opts):
    """A page's flat pre-order node rows (NodeTableParser)."""
    p = NodeTableParser(opts)
    p.parse(html)
    return p.finish_rows()


def _extract_page(dom_json, nodes, text_format):
    """extract()'s per-page function for one output mode."""
    def page(html, opts, _key):
        dj = rows = None
        if text_format == "markdown":
            text, errors = _markdown(html, opts)
        elif nodes and not dom_json:
            # node-table fast path (r5): flat rows built in the event
            # sinks — no Element DOM, no recursive flatten; identical
            # rows (NodeTableParser docstring + tape-mode parity tests)
            p = NodeTableParser(opts)
            _dom, errors = p.parse(html)
            text, rows = p.text(), p.finish_rows()
        elif nodes or dom_json:
            p = SGMLParser(opts)
            dom, errors = p.parse(html)
            text = extract_text(dom)
            dj = dom_to_json(dom) if dom_json else None
            rows = (flatten_nodes(dom, p.elem_spans, p.data_spans)
                    if nodes else None)
        else:
            text, errors = _text_only(html, opts)
        errs = [{"severity": e.severity, "line": e.line,
                 "message": e.message} for e in errors]
        return (text, dj, rows, errs, len(rows) if rows else 0,
                len(errs), len(html), "ok")
    return page


def extract_batch_iter(batches, dialect_default, want_dom_json,
                       want_nodes, text_format="plain"):
    """extract()'s worker loop, callable on the driver: pandas batches
    of (url, html [, dialect]) -> EXTRACT_SCHEMA frames."""
    return _page_batches(
        batches, EXTRACT_SCHEMA,
        _extract_page(want_dom_json, want_nodes, text_format),
        _extract_options, dialect_default)


def extract(pages: DataFrame, dialect="html5", dom_json=False, nodes=True,
            repartition="auto", text_format="plain") -> DataFrame:
    """pages(url, html [, dialect]) -> EXTRACT_SCHEMA DataFrame.  A
    page's own dialect, where not NULL, overrides `dialect`.

    `text_format="markdown"` renders text_extracted as Markdown (the
    LLM-corpus text shape) instead of plain text — same schema,
    lineage, and resume semantics, only the text column's shape
    changes.  Valid only with dom_json=False, nodes=False (the
    markdown sink is DOM-free).
    """
    if text_format not in ("plain", "markdown"):
        raise ValueError("text_format must be 'plain' or 'markdown'")
    if text_format == "markdown" and (dom_json or nodes):
        raise ValueError("text_format='markdown' requires "
                         "dom_json=False, nodes=False")
    return _page_sink(pages, EXTRACT_SCHEMA,
                      _extract_page(dom_json, nodes, text_format),
                      _extract_options, dialect, repartition,
                      row_dialect=True)


def extract_text_only(pages: DataFrame, dialect="html5",
                      repartition="auto") -> DataFrame:
    """Text-only extraction sink for callers that keep ONLY the
    extracted text (r9): the text of extract(nodes=False,
    dom_json=False), but the worker ships one string column back
    instead of the full 9-column EXTRACT_SCHEMA, whose parse_errors
    array<struct> pays Arrow's per-struct conversion for every warning
    row the quiet=False HTML parse collects (guide §4.1: control how
    many columns cross the boundary).  extract() keeps its schema for
    callers that read the error/meta columns (bench parse_throughput
    forces all of them)."""
    def page(html, opts, _key):
        return _text_only(html, opts)[0], "ok"

    return _page_sink(pages, _text_schema("text_extracted"), page,
                      _extract_options, dialect, repartition)


def extract_text_quality(pages: DataFrame, dialect="html5",
                         repartition="auto", text_format="plain",
                         quality=True) -> DataFrame:
    """pages(url, html [, dialect]) -> TEXT_META_SCHEMA plus, with
    `quality`, the 12 core.quality FIELDS columns: the text and
    per-page meta of extract(nodes=False, dom_json=False,
    text_format=...), and the crawl quality sidecar's features, from
    ONE Python pass.  The features are `core.quality.features` of the
    text just extracted, on every row (a status row's NULL text gives
    features(None)), with the names, types and nullability of the
    FIELDS DDL; values equal the JVM textops.quality_features over
    the same text (tests/test_jobs.py).  The page's text crosses the Arrow
    boundary once, and the worker ships no parse_errors array back."""
    page, derive = text_quality_sink(text_format, quality)
    return _page_sink(pages, TEXT_META_SCHEMA, page, _extract_options,
                      dialect, repartition, row_dialect=True,
                      derive=derive)


MARKDOWN_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("markdown", StringType()),
    StructField("n_errors", IntegerType()),
    StructField("status", StringType()),
])


def extract_markdown(pages: DataFrame, dialect="html5",
                     repartition="auto") -> DataFrame:
    """pages(url, html) -> (url, markdown, n_errors, status): HTML
    rendered to Markdown (core/markdown.py) — structure kept as cheap
    syntax, the text shape modern LLM corpora train on.  The renderer
    of extract(text_format="markdown")."""
    def page(html, opts, _key):
        md, errors = _markdown(html, opts)
        return md, len(errors), "ok"

    return _page_sink(pages, MARKDOWN_SCHEMA, page, _extract_options,
                      dialect, repartition)


def extract_element_text(pages: DataFrame, element="title",
                         dialect="html5", repartition="auto") -> DataFrame:
    """Selective extraction of the first <element>'s text per page
    (stop-condition fast path: the tokenizer abandons the byte stream
    the moment the element closes — FirstElementTextParser).  At crawl
    scale this is the cheap metadata pass (title, first h1, canonical
    link text) that shouldn't pay for a full parse."""
    def page(html, opts, _key):
        p = FirstElementTextParser(opts, target=element)
        p.parse(html)
        t = p.text()
        return t, ("ok" if t is not None else "not_found")

    return _page_sink(pages, _text_schema("element_text"), page,
                      _quiet_options, dialect, repartition)


def serialize_pages(pages: DataFrame, dialect="html5",
                    out_dialect="xml", repartition="auto") -> DataFrame:
    """Parse each page and write the DOM back as compact XML
    (sgml_write.pl inverse-of-parser role re-expressed as a Spark
    operator): pages(url, html) -> (url, xml_out).  The writer runs
    with layout=False/net=True so output is deterministic and
    SQL-reconstructable for synthesized corpora."""
    def page(html, opts, _key):
        from ..core.serialize import xml_write
        dom, _errors = SGMLParser(opts).parse(html)
        return xml_write(dom, header=False, layout=False, net=True,
                         dialect=out_dialect), "ok"

    return _page_sink(pages, _text_schema("xml_out"), page,
                      _quiet_options, dialect, repartition)


TAG_COUNTS_SCHEMA = StructType([
    StructField("name", StringType()),
    StructField("n", LongType()),
])


def _sum_counts(records):
    """Fold (name, n) records into one record per distinct name."""
    total = Counter()
    for recs in records:
        for name, n in recs:
            total[name] += n
    if total:
        yield list(total.items())


def extract_tag_counts(pages: DataFrame,
                       dialect="html5", repartition="auto") -> DataFrame:
    """Per-partition element-name histogram: pages(url, html) ->
    (name, n) partial counts, one row per DISTINCT name per task —
    the map-side combine happens inside the Python worker
    (core.parser.TagCountParser), so the shuffle that follows a
    `groupBy(name)` moves a few hundred rows per task instead of one
    struct per DOM node.  Counts match the node-table path exactly
    (explicit + implied begins == element nodes; pytest parity) at
    ~2.4x less cost — the aggregate-don't-materialize shape for
    crawl-scale tag analytics."""
    def page(html, opts, _key):
        p = TagCountParser(opts)
        p.parse(html)
        return p.counts.items()

    return _page_sink(pages, TAG_COUNTS_SCHEMA, page, dialect=dialect,
                      repartition=repartition, fold=_sum_counts)


NODE_ROWS_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("node_id", IntegerType()),
    StructField("parent_id", IntegerType()),
    StructField("ord", IntegerType()),
    StructField("kind", StringType()),
    StructField("name", StringType()),
    StructField("attrs", MapType(StringType(), StringType())),
    StructField("text", StringType()),
    StructField("subtree_end", IntegerType()),
    StructField("start_pos", IntegerType()),
    StructField("end_pos", IntegerType()),
])


def extract_nodes_rows(pages: DataFrame, dialect="html5",
                       repartition="auto", columns=None) -> DataFrame:
    """Node-table extraction emitting FLAT per-node rows (the
    explode_nodes(extract(nodes=True)) shape) straight from the
    worker, columnar (r5).

    Why: at scale the array<struct> route pays Arrow's per-struct
    Python-dict conversion — measured ~36 µs/node CPU on the 120k-doc
    soak, an order of magnitude more than the parse itself.  Emitting
    one row per node as plain COLUMNS converts int/string columns
    vectorized; the same 48M-node corpus drops from dominating the
    job to a fraction of it.  Output rows are identical to the
    explode path (same oracle; A/B pytest), and the plan loses its
    Generate (explode) node — a narrow map is all that remains.

    r9: `columns` restricts the emitted node columns (guide §4.1 —
    Catalyst cannot prune through the opaque map, so without this
    every caller paid the Python-append + Arrow conversion for all
    ten columns; the attrs map column is the expensive one).  Values
    of the kept columns are identical to the full emission."""
    cols = NODE_ROWS_SCHEMA.fieldNames()[1:]
    if columns is not None:
        unknown = set(columns) - set(cols)
        if unknown:
            raise ValueError("unknown node columns: %s" % unknown)
        cols = [c for c in cols if c in columns]
    schema = StructType([NODE_ROWS_SCHEMA[c] for c in ["url", *cols]])
    pick = (itemgetter(*cols) if len(cols) > 1
            else lambda r: tuple(r[c] for c in cols))

    def page(html, opts, key):
        return [key + pick(r) for r in _node_rows(html, opts)]

    return _page_sink(pages, schema, page, dialect=dialect,
                      repartition=repartition)


NAME_COUNT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("n", LongType()),
])


def extract_name_count(pages: DataFrame, name="a",
                       dialect="html5", repartition="auto") -> DataFrame:
    """Per-document count of one element name: pages(url, html) ->
    (url, n) with n >= 1 — the count_links shape (r5, mirroring the
    r4 element_histogram counting path).  A TagCountParser counts
    begin events in the worker (explicit + implied begins == element
    nodes, pytest parity), so the query never materializes or ships
    node structs: the plan is a narrow map emitting one (url, long)
    row per matching document instead of one struct per DOM node.
    Docs with zero matches are omitted (the node-table path's
    filter-then-groupBy has the same semantics)."""
    def page(html, opts, key):
        p = TagCountParser(opts)
        p.parse(html)
        n = p.counts.get(name, 0)
        return [key + (n,)] if n else ()

    return _page_sink(pages, NAME_COUNT_SCHEMA, page, dialect=dialect,
                      repartition=repartition)


def esis_pages(pages: DataFrame, dialect="html5",
               repartition="auto") -> DataFrame:
    """ESIS event-dump sink (the reference CLI's golden format,
    sgml.c:194-281) as a Spark operator: (url, esis, status)."""
    def page(html, opts, _key):
        from ..core.esis import ESISParser
        return ESISParser(opts).dump(html), "ok"

    return _page_sink(pages, _text_schema("esis"), page, _quiet_options,
                      dialect, repartition)


def c14n_pages(pages: DataFrame, dialect="xml", method=None,
               keep_prefix=False, repartition="auto") -> DataFrame:
    """Canonical-XML sink (xml_write_canonical) as a Spark operator.

    Default is the exclusive method (byte-exact vs the reference's 17
    -exc outputs).  method=c14n.C14N selects the reference's plain
    non-exclusive canonicalization (c14n2.pl:64-71 method option;
    tests/test_c14n_plain.py) — for ns-bearing inputs pass
    dialect="xmlns" and keep_prefix=True, the xml_write_canonical/3
    input contract (c14n2.pl:58-63)."""
    def page(html, opts, _key):
        from ..core.c14n import EXC_C14N, xml_write_canonical
        dom, _errors = SGMLParser(opts).parse(html)
        return xml_write_canonical(
            dom, method=method if method is not None else EXC_C14N), "ok"

    return _page_sink(pages, _text_schema("c14n"), page,
                      partial(_quiet_options, keep_prefix=keep_prefix),
                      dialect, repartition)


def extracted_with_meta(pages: DataFrame, extracted: DataFrame) -> DataFrame:
    """Join extraction output back to page metadata (broadcast-free:
    both sides share the url key; Catalyst picks SMJ / shuffle hash)."""
    meta = pages.select("url", "warc_ts", "lang")
    return extracted.join(meta, "url", "left")


MAIN_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("text_main", StringType()),
    StructField("n_blocks_kept", IntegerType()),
    StructField("n_errors", IntegerType()),
    StructField("status", StringType()),
])


def extract_main(pages: DataFrame, dialect="html5", min_words=3,
                 max_link_density=0.4, repartition="auto") -> DataFrame:
    """Main-content extraction (boilerplate strip via DOM heuristics,
    core/boilerplate.py): pages(url, html) -> (url, text_main,
    n_blocks_kept, n_errors, status)."""
    def page(html, opts, _key):
        from ..core.boilerplate import main_content
        dom, errors = SGMLParser(opts).parse(html)
        text = main_content(dom, min_words, max_link_density)
        return (text, len(text.split("\n")) if text else 0, len(errors),
                "ok")

    return _page_sink(pages, MAIN_SCHEMA, page, dialect=dialect,
                      repartition=repartition)
