"""WARC archives as a Spark source / sink for the pages table.

Common Crawl's native layout is the scale model here (BASELINE.json
north star: "Common-Crawl-style web pages"): one crawl is ~70-90k
``*.warc.gz`` files of ~1 GB each, every record its own gzip member.
That layout IS the partitioning strategy: ``plan_ranges`` turns the
file listing into tasks of (path, start, end) ranges on the driver,
each task opens and decompresses its own ranges, and nothing here
shuffles.  A ``.warc.gz`` may split at gzip-member boundaries, so a
task never holds a multi-GB archive and one archive can still parse
on every core; every ``.warc.gz`` is read by the gzip-member reader,
whose ranges tile the file, so splitting never changes its rows.

The file list is driver-side metadata, not data: ``list_archives``
reads it through the session's Hadoop FileSystem in a fixed number of
py4j calls per listed root (never one per file) and runs no Spark job.
One listing serves a whole crawl launch: ``warc_todo`` prunes it
against the done set, and the scans plan their tasks from it without
touching the file system again.  Local archives are opened by the
task itself (a ``file:`` URI or a mounted path); archives on other
schemes are read one file per row through ``binaryFile``, with its
listing and its 2 GiB row bound, and feed the same per-archive code.

Memory: a task holds one decompressed record at a time
(member-per-record means members decompress individually) and a
window over its range of about 1 MiB or one member, whichever is
larger; a plain ``.warc`` is read whole, as is a binaryFile row.

Read path: ``read_warc`` -> full record table;  ``warc_pages`` ->
the authoritative input shape (url, warc_ts, html, text, lang)
feeding ``extract()`` unchanged;  ``warc_text_quality`` -> the crawl's
one pass, the rows of ``extract_text_quality(warc_pages(...))`` from
one pandas-free ``mapInArrow`` per task that reads, decodes, parses
and scores its pages (no page bytes cross the Arrow boundary).  All
three share one reader, ``_records``, and one record generator,
``warc_rows``.  Write path:
``write_warc_pages`` emits member-per-record ``.warc.gz``, one file
per partition, and returns a manifest frame.  All Python work is
Arrow-batched (``mapInArrow`` for the scans, ``mapInPandas`` for the
writers): no per-row UDFs.
"""

import fnmatch
import io
import os
import re
from functools import partial

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (ArrayType, BinaryType, IntegerType,
                               LongType, StringType, StructField,
                               StructType, TimestampType)

WARC_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("record_type", StringType()),
    StructField("record_id", StringType()),
    StructField("http_status", IntegerType()),
    StructField("content_type", StringType()),
    StructField("charset", StringType()),
    StructField("payload_digest", StringType()),
    StructField("html", BinaryType()),          # response payload bytes
    StructField("warc_file", StringType()),
    StructField("warc_offset", LongType()),
    StructField("warc_errors", ArrayType(StringType())),
])


def warc_rows(fname, recs, errors, record_types, transcode=False):
    """The record generator: the WARC_SCHEMA row tuple of each record
    of ``recs`` (one archive's or range's records; the reader appends
    malformed-content messages to ``errors``) whose type is in
    ``record_types`` (empty: every type), with ``warc_ts`` still the
    raw WARC-Date string; then, if there were errors, the range's
    ``x-parse-errors`` row (url NULL), so malformed content is
    observable in the table instead of a driver log."""
    from ..core.warc import (http_content_type, sniff_charset,
                             split_http_response, to_utf8)
    for rec in recs:
        rtype = rec.type
        if record_types and rtype not in record_types:
            continue
        status, mime, charset, payload = None, "", "", rec.body
        ctype = (rec.get("Content-Type") or "").lower()
        if rtype == "response" and ctype.startswith("application/http"):
            rec_errors = []
            status, http_headers, payload = split_http_response(
                rec.body, rec_errors)
            mime, charset = http_content_type(http_headers)
            if transcode:
                charset = sniff_charset(payload, charset)
                payload, enc_err = to_utf8(payload, charset)
                if enc_err:
                    rec_errors.append(enc_err)
            errors.extend("%s @%d: %s" % (rec.url or "?", rec.offset, e)
                          for e in rec_errors)
        yield (rec.url, rec.date, rtype,
               rec.record_id, status, mime or None,
               charset or None, rec.get("WARC-Payload-Digest"),
               payload, fname, rec.offset, None)
    if errors:
        yield (None, None, "x-parse-errors", None, None, None,
               None, None, None, fname, None, errors)


def _records_frame(path, rec_iter, errors, record_types,
                        transcode=False):
    """``warc_rows`` as a pandas frame of WARC_SCHEMA, with the dates
    parsed: ONE vectorized to_datetime per frame — the scalar call
    costs ~450 us/record (measured), which at CC archive sizes (~50k
    records/file) would dominate the whole scan task."""
    import pandas as pd
    frame = pd.DataFrame(
        list(warc_rows(_strip_file(path), rec_iter, errors,
                       record_types, transcode)),
        columns=[f.name for f in WARC_SCHEMA])
    raw_dates = frame["warc_ts"]
    ts = pd.to_datetime(raw_dates, utc=True, errors="coerce",
                        format="ISO8601")
    # non-ISO dates (RFC-1123 from non-conforming writers, old
    # ARC-derived records) fall back to the general parser — scalar
    # cost only on the rare rows the fast path rejects
    bad = ts.isna() & raw_dates.notna()
    if bad.any():
        ts[bad] = pd.to_datetime(raw_dates[bad], utc=True,
                                 errors="coerce", format="mixed")
    frame["warc_ts"] = ts.dt.tz_localize(None)
    return frame


def _strip_file(uri):
    """``uri`` without its ``file:`` scheme: the path form the
    ``warc_file`` column and the crawl's archive manifest record."""
    return uri[5:] if uri.startswith("file:") else uri


def _local_path(uri):
    """Locally-openable path for a binaryFile URI, or None (ranged
    reads open the file directly; non-local schemes can't)."""
    if uri.startswith("file:"):
        path = uri[5:]
        while path.startswith("//"):
            path = path[1:]
        return path
    if "://" not in uri:
        return uri
    return None


_SEP = "\0"                  # joins path lists crossing py4j: no file
                             # name can hold it
_GLOB = re.compile(r"[{}\[\]*?\\]")        # Spark's isGlobPath chars
_FS_PREFIX = re.compile(r"[A-Za-z][\w+.-]*:(//[^/]*)?")
_STATUS = re.compile(r"; isDirectory=(true|false)(?:; length=(\d+))?")


def _skipped(name):
    """binaryFile's file-name filter (Spark's
    ``HadoopFSUtils.shouldFilterOutPathName``): hidden and ``_`` names
    (``_SUCCESS``, ``.crc`` checksums) and in-flight ``._COPYING_``
    copies, bar parquet metadata files and ``_k=v`` directories."""
    skip = ((name.startswith("_") and "=" not in name) or
            name.startswith(".") or name.endswith("._COPYING_"))
    return skip and not name.startswith(("_common_metadata",
                                         "_metadata"))


def _jstrings(jvm, strings):
    """``strings`` as a Java String[] in a fixed number of py4j calls
    (a Python list crosses py4j one call per element)."""
    return jvm.java.util.regex.Pattern.compile(_SEP).split(
        _SEP.join(strings))


def _statuses(jvm, statuses):
    """A Java FileStatus[] as [(path, length, is_dir)], read back as
    two joined strings: the paths, and the statuses' ``toString``,
    which every Hadoop 3 FileStatus starts with
    ``{path=<path>; isDirectory=<b>[; length=<n>]``."""
    seq = jvm.scala.collection.mutable.ArraySeq
    paths = seq.make(jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(
        statuses)).mkString(_SEP)
    if not paths:
        return []
    out = []
    for p, text in zip(paths.split(_SEP),
                       seq.make(statuses).mkString(_SEP).split(_SEP)):
        at = text.find("{path=" + p)
        m = _STATUS.match(text, at + 6 + len(p)) if at >= 0 else None
        if m is None:
            raise ValueError("unrecognised FileStatus: %s" % text)
        out.append((p, int(m.group(2) or 0), m.group(1) == "true"))
    return out


def list_archives(spark, path):
    """The files a ``binaryFile`` load of ``path`` (a path, glob or
    list of them) reads, as [(uri, length)] — listed on the driver
    through the session's Hadoop FileSystem, with no Spark job.

    binaryFile's rules: a glob stands for its matches; a directory
    for the files directly inside it (subdirectories are not descended
    into); names ``_skipped`` filters and zero-length files (an archive
    still being created) are left out; a missing path, or a glob
    matching nothing, raises FileNotFoundError.  ``uri`` is the
    qualified path binaryFile reports in its ``path`` column.

    py4j calls: a fixed number per file system plus per glob, however
    many files there are — the listing crosses as joined strings."""
    from py4j.protocol import Py4JJavaError
    sc = spark.sparkContext
    jvm = sc._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    by_fs = {}
    for p in [path] if isinstance(path, str) else path:
        m = _FS_PREFIX.match(p)
        by_fs.setdefault(m.group(0) if m else "", []).append(p)
    out = []
    for roots in by_fs.values():
        fs = Path(roots[0]).getFileSystem(sc._jsc.hadoopConfiguration())
        expanded = []
        for root in roots:
            if not _GLOB.search(root):
                expanded.append(root)
                continue
            matches = fs.globStatus(Path(root))
            if not matches:
                raise FileNotFoundError("Path does not exist: " + root)
            expanded += [p for p, _n, _d in _statuses(jvm, matches)]
        try:
            listed = fs.listStatus(
                jvm.org.apache.hadoop.util.StringUtils.stringToPath(
                    _jstrings(jvm, expanded)))
        except Py4JJavaError as ex:
            if "java.io.FileNotFoundException" not in str(ex):
                raise
            raise FileNotFoundError(
                str(ex.java_exception.getMessage())) from None
        for p, length, is_dir in _statuses(jvm, listed):
            name = p.rsplit("/", 1)[-1]
            if _skipped(name):
                continue
            if is_dir and "=" in name:
                # binaryFile would read a key=value layout as a
                # partition column; refuse it rather than drop files
                raise ValueError("partition directory %s: list its "
                                 "files instead" % p)
            if not is_dir and length:
                out.append((p, length))
    return out


def _listing(spark, path):
    """A ``list_archives`` listing of ``path``; a listing passed in
    (a list of (path, length) pairs) is returned as it stands."""
    if (isinstance(path, (list, tuple)) and path and
            not isinstance(path[0], str)):
        return list(path)
    return list_archives(spark, path)


def _binary_files(spark, paths):
    """``binaryFile`` over an explicit file list, handed to the JVM as
    one string (``load(list)`` crosses py4j once per path)."""
    jvm = spark.sparkContext._jvm
    seq = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray(
        _jstrings(jvm, paths))
    return DataFrame(
        spark._jsparkSession.read().format("binaryFile").load(seq), spark)


SPLIT_BYTES = 1536 << 20     # archives larger than this always split
RANGE_BYTES = 512 << 20      # into member-aligned ranges of this size,
                             # so a task never holds one whole


def _ranges(path, length, pieces):
    """``path`` as ``pieces`` (path, start, end, bytes) ranges of equal
    size that tile the file; one piece is the whole file (end None)."""
    if pieces <= 1:
        return [(path, 0, None, length)]
    cuts = sorted({length * i // pieces for i in range(pieces + 1)})
    return [(path, a, b, b - a) for a, b in zip(cuts, cuts[1:])]


def plan_ranges(spark, listing, tasks="auto"):
    """The scan plan of a listing [(path, length)], on the driver, with
    no Spark job: (plan, remote).  ``plan`` is a list of tasks, each a
    list of (path, start, end) ranges of locally readable archives
    (``end`` None: the whole file); ``remote`` lists the archives on
    non-local schemes, which only binaryFile can read.

    A file is one whole range, bar a ``.warc.gz`` larger than
    ``SPLIT_BYTES``, which splits into ranges of at most
    ``RANGE_BYTES`` (r8: a task never holds a multi-GB archive).  A
    range owns the gzip members whose first byte lies in it
    (core.warc.iter_warc_records_file_range), so ranges tile the file:
    the member reader yields the same records from any split of it.

    ``tasks`` is the number of tasks wanted: "auto" for the session's
    default parallelism, or N.  With fewer ranges than that, the whole
    ``.warc.gz`` files split, in proportion to their sizes, into at
    least that many ranges, one task each, so even one archive parses
    on every core.  With more, the ranges pack into tasks by Spark's
    file-packing rule, as binaryFile packs its files
    (FilePartition: largest first; a task closes when the next range
    would take it past min(maxPartitionBytes, max(openCostInBytes,
    total / wanted)), each range costing its bytes plus
    openCostInBytes).  0 wants one task per range, so one per archive
    below ``SPLIT_BYTES``."""
    want = (spark.sparkContext.defaultParallelism if tasks == "auto"
            else int(tasks))
    # read whether or not the ranges pack: the planner's py4j calls
    # stay one fixed number
    conf = spark._jsparkSession.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    max_bytes = conf.filesMaxPartitionBytes()
    remote, ranges = [], []
    for p, n in listing:
        if _local_path(p) is None:
            remote.append(p)
        elif p.endswith(".gz") and n > SPLIT_BYTES:
            ranges += _ranges(p, n, -(-n // RANGE_BYTES))
        else:
            ranges.append((p, 0, None, n))
    whole = [r for r in ranges if r[2] is None and r[0].endswith(".gz")]
    if whole and len(ranges) < want:
        k = want - len(ranges) + len(whole)
        total = sum(r[3] for r in whole) or 1
        ranges = [r for r in ranges if r not in whole] + [
            x for p, _s, _e, n in whole
            for x in _ranges(p, n, -(-n * k // total))]
        want = len(ranges)
    if len(ranges) <= want or not want:
        return [[r[:3]] for r in ranges], remote
    cap = min(max_bytes,
              max(open_cost,
                  sum(r[3] + open_cost for r in ranges) // want))
    plan, task, size = [], [], 0
    for r in sorted(ranges, key=lambda r: -r[3]):
        if task and size + r[3] > cap:
            plan.append(task)
            task, size = [], 0
        task.append(r[:3])
        size += r[3] + open_cost
    if task:
        plan.append(task)
    return plan, remote


def _records(path, f, start, end, errors):
    """The records of the range [start, end) of the open archive ``f``
    at ``path`` (``end`` None: to the end of the file), the one reader
    of every scan.  A ``.gz`` name or a gzip stream (told by its magic
    bytes) is read member by member
    (core.warc.iter_warc_records_file_range): a range owns the members
    whose first byte lies in it, a bad member is reported in
    ``errors`` and skipped with the members after it kept, and a
    truncated last member is dropped; the name decides first, so an
    archive whose first bytes are damaged still resyncs to its later
    members.  Any other file is a plain ``.warc``, parsed whole
    (``plan_ranges`` never splits it)."""
    from ..core.warc import (GZIP_MAGIC, iter_warc_records_file_range,
                             parse_warc_buffer)
    if end is None:
        end = f.seek(0, os.SEEK_END)
    f.seek(0)
    if path.endswith(".gz") or f.read(2) == GZIP_MAGIC:
        yield from iter_warc_records_file_range(f, start, end, errors)
    else:
        f.seek(0)
        yield from parse_warc_buffer(f.read(), errors)


def _run_ranges(plan, task, batches):
    """A mapInArrow body over ``spark.range(n)``: each row names its
    task in ``plan`` (a broadcast, loaded once per Python worker),
    whose ranges ``task(path, records, errors)`` turns into Arrow
    batches."""
    for batch in batches:
        for i in batch.column(0).to_pylist():
            for path, start, end in plan.value[i]:
                errors = []
                with open(_local_path(path), "rb") as f:
                    yield from task(path, _records(path, f, start, end,
                                                   errors), errors)


def _run_files(task, batches):
    """``_run_ranges`` over binaryFile rows (path, content)."""
    for batch in batches:
        paths, contents = batch.column("path"), batch.column("content")
        for j in range(batch.num_rows):
            errors = []
            path = paths[j].as_py()
            yield from task(path, _records(
                path, io.BytesIO(contents[j].as_py()), 0, None, errors),
                errors)


def _scan(spark, path, task, schema, tasks="auto"):
    """``task`` over every archive of ``path`` (a path, glob or list of
    them, or a ``list_archives`` listing) -> a DataFrame of ``schema``:
    one mapInArrow over the ``plan_ranges`` tasks of the local
    archives, unioned with one over binaryFile rows for the others.
    ``task(path, records, errors)`` yields Arrow batches of
    ``schema``.  Building the scan runs no Spark job."""
    plan, remote = plan_ranges(spark, _listing(spark, path), tasks)
    out = None
    if plan:
        # as a broadcast the plan is shipped and unpickled once per
        # Python worker; pickled into the function, every task would
        # unpickle the ranges of every task
        shared = spark.sparkContext.broadcast(plan)
        out = spark.range(0, len(plan), 1, len(plan)).mapInArrow(
            partial(_run_ranges, shared, task), schema)
    if remote:
        files = _binary_files(spark, remote).select("path", "content") \
            .mapInArrow(partial(_run_files, task), schema)
        out = files if out is None else out.unionByName(files)
    return out if out is not None else spark.createDataFrame([], schema)


def _arrow_schema(schema):
    from pyspark.sql.pandas.types import to_arrow_schema
    return to_arrow_schema(schema)


def read_warc(spark, path, record_types=("response",),
              transcode=False):
    """WARC archive(s) at ``path`` (a path, glob or list of them, or a
    ``list_archives`` listing; ``.warc`` or ``.warc.gz``) ->
    WARC_SCHEMA DataFrame; no shuffle.  ``record_types`` filters
    records in the scan (None = all types); malformed content lands in
    ``x-parse-errors`` rows, never raises.

    The scan is planned from the file listing (paths + sizes, no
    content) on the driver, with no Spark job: a path is listed once
    with ``list_archives``; a listing is used as it stands, so a
    crawl that already listed its archives stats none of them again.
    ``plan_ranges`` states how archives become tasks: about one per
    core, a ``.warc.gz`` splitting at gzip members to fill the cores
    or when it is above ``SPLIT_BYTES``.  Every archive is read by
    ``_records``, so the rows never depend on the split: a corrupt
    gzip member is skipped and the members after it kept, a truncated
    last member is dropped, and each range with malformed content
    adds one ``x-parse-errors`` row.  Local tasks open their files
    directly; plain ``.warc`` files never split, and non-local schemes
    are read one file per row through binaryFile, with its 2 GiB row
    bound, by the same reader.

    ``transcode=True`` normalizes response payloads to UTF-8 in the
    same scan (charset = BOM > HTTP header > WHATWG meta prescan >
    XML decl); UTF-8/unknown payloads pass through byte-identical, so
    the reference byte-identity contract on utf-8 corpora is
    untouched.  The ``charset`` column then reports the SOURCE
    charset the bytes came from."""
    return _scan(spark, path, _record_task(record_types, transcode),
                 WARC_SCHEMA)


def _record_task(record_types, transcode):
    """The per-archive task of ``read_warc`` and ``stream_warc``: the
    archive's ``_records_frame`` as one Arrow batch of WARC_SCHEMA."""
    rtypes = tuple(record_types) if record_types else ()
    arrow_schema = _arrow_schema(WARC_SCHEMA)

    def task(path_, recs, errors):
        import pyarrow as pa
        frame = _records_frame(path_, recs, errors, rtypes, transcode)
        if len(frame):
            yield pa.RecordBatch.from_pandas(
                frame, schema=arrow_schema, preserve_index=False)
    return task


_PAGE_TYPE = re.compile("html|xml|^text/")


def _is_page(row, statuses):
    """warc_pages' filter on a ``warc_rows`` row: a url, a content
    type that is absent or matches ``_PAGE_TYPE``, and, with
    ``statuses``, an HTTP status among them."""
    return (row[0] is not None and
            (row[5] is None or _PAGE_TYPE.search(row[5]) is not None)
            and (not statuses or row[4] in statuses))


def warc_pages(spark, path, statuses=(200,),
               transcode=True) -> DataFrame:
    """Archives -> the authoritative pages shape
    (url, warc_ts, html, text, lang): the ingest half of the north
    star.  ``text``/``lang`` start NULL — ``extract()`` fills text,
    ``lang_id`` fills lang.  Non-HTML and non-2xx responses are
    filtered in the same scan stage (``_is_page``'s rule, as a
    predicate on the scan's output; no extra pass).  ``transcode``
    (default on) is the WET-style UTF-8 normalization — legacy
    windows-1252/shift_jis/etc. pages parse correctly downstream while
    utf-8 pages stay byte-identical."""
    recs = read_warc(spark, path, record_types=("response",),
                     transcode=transcode)
    keep = ((F.col("url").isNotNull()) &
            (F.col("content_type").isNull() |
             F.col("content_type").rlike(_PAGE_TYPE.pattern)))
    if statuses:
        keep = keep & F.col("http_status").isin(*statuses)
    return (recs.where(keep)
            .select("url", "warc_ts", "html",
                    F.lit(None).cast("string").alias("text"),
                    F.lit(None).cast("string").alias("lang")))


def warc_text_quality(spark, path, statuses=(200,), transcode=True,
                      dialect="html5", text_format="plain",
                      quality=True, tasks="auto") -> DataFrame:
    """Archives -> TEXT_META_SCHEMA plus, with ``quality``, the 12
    core.quality FIELDS columns: the rows of
    ``extract_text_quality(warc_pages(spark, path, statuses,
    transcode), dialect, text_format=text_format, quality=quality)``
    from one Python pass per task.  Each task opens its archive
    ranges, decodes their records with ``warc_rows``, keeps the pages
    ``_is_page`` keeps, and parses and scores them in
    ``pageloop.page_rows`` — the loop, guards and status vocabulary of
    every page sink — in batches of the session's
    ``arrow.maxRecordsPerBatch`` pages.  No page crosses the Arrow
    boundary into Python (local tasks get only their task number), its
    text and features come back once, and the worker never imports
    pandas.  ``tasks`` is ``plan_ranges``'.  The archives are read by
    ``_records``, as ``warc_pages`` reads them, so the rows equal the
    composition above however the archives split into tasks, corrupt
    archives included.  Building the frame runs no Spark job."""
    from .pageloop import (TEXT_META_SCHEMA, arrow_batch,
                           extract_options, out_schema, page_rows,
                           text_quality_sink)
    page, derive = text_quality_sink(text_format, quality)
    schema = out_schema(TEXT_META_SCHEMA, derive)
    arrow_schema = _arrow_schema(schema)
    statuses = frozenset(statuses or ())
    batch_rows = int(spark._jsparkSession.sessionState().conf()
                     .arrowMaxRecordsPerBatch())

    def task(path_, recs, errors):
        def pages():
            keys, htmls = [], []
            for row in warc_rows(None, recs, errors, ("response",),
                                 transcode):
                if _is_page(row, statuses):
                    keys.append((row[0],))
                    htmls.append(row[8])
                    if len(htmls) == batch_rows:
                        yield keys, htmls, None
                        keys, htmls = [], []
            if htmls:
                yield keys, htmls, None

        for out in page_rows(pages(), TEXT_META_SCHEMA, page,
                             extract_options, dialect, derive=derive):
            yield arrow_batch(out, arrow_schema)

    return _scan(spark, path, task, schema, tasks)


def stream_warc(spark, input_dir, record_types=("response",),
                transcode=False) -> DataFrame:
    """Continuous WARC ingest from a landing directory: the
    binaryFile STREAM source discovers newly-arrived archives, each
    becoming one input row read by read_warc's reader and task.
    Exactly-once at file granularity comes from the stream
    checkpoint (the file source journals seen files); pair with
    ``trigger(availableNow=True)`` for batch catch-up or a processing
    trigger for a live feed.  Caller attaches writeStream with a
    checkpointLocation."""
    # streaming sources require an explicit schema; binaryFile's is
    # fixed by the format
    bin_schema = StructType([
        StructField("path", StringType()),
        StructField("modificationTime", TimestampType()),
        StructField("length", LongType()),
        StructField("content", BinaryType()),
    ])
    src = (spark.readStream.format("binaryFile")
           .schema(bin_schema)
           .option("pathGlobFilter", "*.warc*")
           .load(input_dir)
           .select("path", "content"))
    return src.mapInArrow(
        partial(_run_files, _record_task(record_types, transcode)),
        WARC_SCHEMA)


def warc_todo(spark, path, done=()):
    """Batch-mode file-level resume: the ``*.warc*`` archives of
    ``path`` (a path, glob or list of them, or a ``list_archives``
    listing) minus ``done`` (the processed ``warc_file`` paths — the
    crawl's archive manifest read back), as a listing of
    (``file:``-stripped path, length) that ``read_warc`` and
    ``warc_pages`` take as it stands.  A file MANIFEST (one entry per
    archive, ~10^5 per crawl), not data: it is listed and pruned on
    the driver with no Spark job, at plan time, so done archives are
    never parsed."""
    done = set(done)
    todo = ((_strip_file(p), n) for p, n in _listing(spark, path)
            if fnmatch.fnmatchcase(p.rsplit("/", 1)[-1], "*.warc*"))
    return [(p, n) for p, n in todo if p not in done]


WRITE_MANIFEST_SCHEMA = StructType([
    StructField("warc_file", StringType()),
    StructField("n_records", LongType()),
    StructField("bytes", LongType()),
])


def write_wet_pages(extracted: DataFrame, out_dir,
                    prefix="wet-part") -> DataFrame:
    """extracted(url, warc_ts?, text) -> WET-style extracted-text
    archives: ``conversion`` records (Content-Type text/plain, UTF-8
    body, WARC-Refers-To-Target-URI back to the page) in
    member-per-record ``.warc.gz`` — the exact shape Common Crawl
    publishes its text layer in, so downstream WET consumers can read
    our extraction output unchanged.  One file per partition, same
    manifest/idempotency contract as write_warc_pages.  Read back with
    ``read_warc(spark, path, record_types=("conversion",))``."""
    cols = [c for c in ("url", "warc_ts", "text")
            if c in extracted.columns]
    src = extracted.select(*cols)

    def fn(batches):
        from pyspark import TaskContext
        import pandas as pd
        from ..core.warc import build_record, gzip_member
        pid = TaskContext.get().partitionId()
        fname = os.path.join(out_dir, "%s-%05d.warc.gz" % (prefix, pid))
        n = total = 0
        os.makedirs(out_dir, exist_ok=True)
        with open(fname, "wb") as out:
            for pdf in batches:
                has_ts = "warc_ts" in pdf.columns
                for i in range(len(pdf)):
                    date = "1970-01-01T00:00:00Z"
                    if has_ts and pdf["warc_ts"].iloc[i] is not pd.NaT:
                        date = pd.Timestamp(
                            pdf["warc_ts"].iloc[i]).strftime(
                            "%Y-%m-%dT%H:%M:%SZ")
                    url = pdf["url"].iloc[i]
                    text = pdf["text"].iloc[i]
                    rec = build_record(
                        "conversion",
                        (text or "").encode("utf-8"),
                        url=url, date=date,
                        content_type="text/plain",
                        extra_headers=(
                            ("WARC-Refers-To-Target-URI", url),))
                    member = gzip_member(rec)
                    out.write(member)
                    n += 1
                    total += len(member)
        yield pd.DataFrame([(fname, n, total)],
                           columns=["warc_file", "n_records", "bytes"])

    return src.mapInPandas(fn, schema=WRITE_MANIFEST_SCHEMA)


def write_warc_pages(pages: DataFrame, out_dir,
                     prefix="part") -> DataFrame:
    """pages(url, warc_ts, html) -> member-per-record ``.warc.gz``,
    one file per partition under ``out_dir`` (a shared filesystem at
    cluster scale; executors write their own partition's file —
    driver never sees the data).  Returns the manifest frame
    (file, record count, bytes); the action that materializes it
    performs the writes.  Records are deterministic in their row
    content (digest-derived ids, mtime-0 gzip), so re-running a
    partition rewrites an identical file — idempotent retry."""
    cols = ["url", "warc_ts", "html"]
    src = pages.select(*[c for c in cols if c in pages.columns])

    def fn(batches):
        from pyspark import TaskContext
        import pandas as pd
        from ..core.warc import build_response_record, gzip_member
        pid = TaskContext.get().partitionId()
        fname = os.path.join(out_dir, "%s-%05d.warc.gz" % (prefix, pid))
        n = total = 0
        os.makedirs(out_dir, exist_ok=True)
        with open(fname, "wb") as out:
            for pdf in batches:
                ts = pd.to_datetime(pdf["warc_ts"]) if "warc_ts" in \
                    pdf.columns else None
                for i in range(len(pdf)):
                    date = None
                    if ts is not None and ts.iloc[i] is not pd.NaT:
                        date = ts.iloc[i].strftime(
                            "%Y-%m-%dT%H:%M:%SZ")
                    html = pdf["html"].iloc[i]
                    rec = build_response_record(
                        pdf["url"].iloc[i], date or
                        "1970-01-01T00:00:00Z",
                        bytes(html) if html is not None else b"")
                    member = gzip_member(rec)
                    out.write(member)
                    n += 1
                    total += len(member)
        yield pd.DataFrame([(fname, n, total)],
                           columns=["warc_file", "n_records", "bytes"])

    return src.mapInPandas(fn, schema=WRITE_MANIFEST_SCHEMA)
