"""The page loop: html bytes in, the rows of a page sink out, one page
at a time, with no pandas.

`page_rows` is the only loop that parses pages.  The pandas-batched
sinks of spark/extract.py feed it their Arrow batches' columns, and
the crawl's one pass over its archives (spark/warc.py
`warc_text_quality`) feeds it the pages it decodes, so a worker that
runs only the crawl pass never imports pandas.  The loop owns:

* the per-page guards, the max_memory analog of sgml2pl.c:603-615.
  NULL or empty html is status "empty", html over MAX_HTML_BYTES is
  "too_large", a parse that raises is "exception"; no bad page fails
  its task.  Status vocabulary: ok | empty | too_large | exception |
  not_found (extract_element_text's page without the element);
* one ParserOptions per dialect per task, not per page (the parsers
  only read their options).

A sink is a per-page function `page(html: bytes, opts, key)`, where
`key` is the tuple of the page's url and pass-through values, plus its
output schema.  There are three output shapes:

1. one status row per page, for a schema with a `status` column:
   `key + page(...)`, or for a page that was not parsed, NULL values,
   zero counts, the status, and the guard's message in `parse_errors`
   where the schema has it (`extract`, `extract_text_quality`,
   `extract_markdown`, `extract_main`, the one-string sinks);
2. zero or more rows per page, returned by `page`; a page that was
   not parsed contributes none (`extract_nodes_rows`,
   `extract_name_count`, `links.outlinks`, the `templates` passes);
3. a per-task fold over the shape-2 rows (`extract_tag_counts`).
"""

from pyspark.sql.types import (IntegerType, LongType, StringType,
                               StructField, StructType)

from ..core.parser import ParserOptions, TextOnlyParser

MAX_HTML_BYTES = 8 * 1024 * 1024   # per-page guard (max_memory analog,
                                   # sgml2pl.c:603-615)


def options(dialect, **kw):
    """ParserOptions of the page sinks: UTF-8 input, every error
    collected."""
    return ParserOptions(dialect=dialect, encoding="utf-8",
                         max_errors=-1, **kw)


def extract_options(dialect):
    """extract()'s error policy: unlimited collection only for the
    HTML dialects; strict ones cap at 50 so one garbage page can't
    accumulate millions of ParseError objects."""
    return ParserOptions(
        dialect=dialect, encoding="utf-8",
        max_errors=-1 if dialect.startswith(("html", "xhtml")) else 50)


def _unparsed(cols, status, nbytes, message):
    """Output columns of a page that was not parsed: NULL values and
    zero counts, with the guard's message (if any) as its one parse
    error."""
    fill = {"parse_errors": [] if message is None else
            [{"severity": "error", "line": 0, "message": message}],
            "n_errors": 0 if message is None else 1,
            "n_nodes": 0, "n_blocks_kept": 0, "html_bytes": nbytes,
            "status": status}
    return tuple(fill.get(c) for c in cols)


def _page_records(batches, page, options, dialect, status_cols=None):
    """One list of output records per batch that has any.

    A batch is a (keys, htmls, dialects) triple of equal-length
    columns: the key tuples, url first, that reach `page`; the html
    bytes; and the per-page dialects (None, or a NULL entry, falls
    back to `dialect`).  With `status_cols` (the output columns after
    url) every page yields `key + page(...)` or its status row;
    without, `page` returns the page's records and a page that was
    not parsed yields none."""
    opts = {}
    for keys, htmls, dialects in batches:
        recs = []
        for key, html, d in zip(keys, htmls,
                                dialects or [None] * len(htmls)):
            nbytes = 0 if html is None else len(html)
            if nbytes == 0:
                status, message = "empty", None
            elif nbytes > MAX_HTML_BYTES:
                status, message = ("too_large",
                                   "Insufficient input buffer resources")
            else:
                d = d or dialect
                o = opts.get(d)
                if o is None:
                    o = opts[d] = options(d)
                try:
                    out = page(bytes(html), o, key)
                except Exception as ex:  # noqa: BLE001 per-page isolation
                    status, message = ("exception",
                                       "parser exception: %s" % ex)
                else:
                    if status_cols is None:
                        recs.extend(out)
                    else:
                        recs.append(key + out)
                    continue
            if status_cols is not None:
                recs.append(key + _unparsed(status_cols, status, nbytes,
                                            message))
        # never yield an empty batch: pandas cannot type an empty
        # column, and Arrow's map converter rejects the guess
        if recs:
            yield recs


def out_schema(schema, derive=None):
    """The output schema of a sink of `schema` with `derive`'s
    fields appended."""
    return StructType(schema.fields + derive[0]) if derive else schema


def page_rows(batches, schema, page, options=options, dialect="html5",
              fold=None, derive=None):
    """The rows of a page sink, as one list of records (tuples in the
    order of `out_schema(schema, derive)`) per batch that has any.  A
    schema with a `status` column gets one row per page (shape 1);
    `fold` reduces the task's shape-2 records.  `derive`, a
    (fields, fn) pair, appends `fn(record)` to every record, status
    rows included."""
    cols = schema.fieldNames()
    records = _page_records(batches, page, options, dialect,
                            cols[1:] if "status" in cols else None)
    if fold:
        records = fold(records)
    if derive:
        fn = derive[1]
        records = ([r + fn(r) for r in recs] for recs in records)
    return records


_FIXED_WIDTH = {"int32": "i", "int64": "q", "double": "d"}


def arrow_batch(recs, arrow_schema):
    """Records (tuples in the order of `arrow_schema`, whose columns
    are strings, ints, longs or doubles) as one Arrow RecordBatch,
    built from buffers: `pyarrow.array` on Python values imports
    pandas, wherever it is installed, to test for pandas input."""
    from array import array

    import numpy as np
    import pyarrow as pa
    cols = []
    for values, f in zip(zip(*recs), arrow_schema):
        if pa.types.is_string(f.type):
            b = pa.lib.StringBuilder()
            b.append_values(values)
            cols.append(b.finish())
            continue
        valid = [v is not None for v in values]
        mask = None if all(valid) else pa.py_buffer(
            np.packbits(valid, bitorder="little"))
        data = array(_FIXED_WIDTH[str(f.type)],
                     [0 if v is None else v for v in values])
        cols.append(pa.Array.from_buffers(f.type, len(values),
                                          [mask, pa.py_buffer(data)]))
    return pa.RecordBatch.from_arrays(cols, schema=arrow_schema)


def text_only(html, opts):
    """A page's plain text and parse errors, without building a DOM."""
    p = TextOnlyParser(opts)
    _dom, errors = p.parse(html)
    return p.text(), errors


def markdown(html, opts):
    """A page rendered as Markdown and its parse errors.  Renders from
    the event stream (core/markdown.py MarkdownParser: no Element DOM,
    rides the compiled executor's tape mode), byte-identical to the
    dom_to_markdown walker by the differential tests in
    tests/test_markdown.py."""
    from ..core.markdown import MarkdownParser
    p = MarkdownParser(opts)
    _dom, errors = p.parse(html)
    return p.markdown(), errors


TEXT_META_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("text_extracted", StringType()),
    StructField("n_errors", IntegerType()),
    StructField("html_bytes", LongType()),
    StructField("status", StringType()),
])


def text_quality_sink(text_format="plain", quality=True):
    """(page, derive) of the text-and-quality sink: the page function
    yields TEXT_META_SCHEMA's columns after url, and `derive` (None
    without `quality`) the 12 core.quality FIELDS of the text just
    extracted, with the FIELDS DDL's names, types and nullability."""
    if text_format not in ("plain", "markdown"):
        raise ValueError("text_format must be 'plain' or 'markdown'")
    render = markdown if text_format == "markdown" else text_only

    def page(html, opts, _key):
        text, errors = render(html, opts)
        return text, len(errors), len(html), "ok"

    derive = None
    if quality:
        from ..core.quality import FIELDS, features
        fields = StructType.fromDDL(
            ", ".join("%s %s" % f for f in FIELDS)).fields
        derive = (fields, lambda rec: features(rec[1]))
    return page, derive
