"""WARC archives as a Spark source / sink for the pages table.

Common Crawl's native layout is the scale model here (BASELINE.json
north star: "Common-Crawl-style web pages"): one crawl is ~70-90k
``*.warc.gz`` files of ~1 GB each, every record its own gzip member.
That layout IS the partitioning strategy — ``binaryFile`` hands each
archive to one task (one row per file), tasks decompress + scan their
file independently, and the only exchange in the whole ingest is the
optional url-hash spread the downstream extract already owns.  Nothing
here shuffles.

The file list is driver-side metadata, not data: ``list_archives``
reads it through the session's Hadoop FileSystem in a fixed number of
py4j calls per listed root (never one per file) and runs no Spark job.
One listing serves a whole crawl launch — ``warc_todo`` prunes it
against the done set, and ``read_warc`` plans its scan (and the r8
range splits) from it without touching the file system again.

Memory: a task holds one compressed file + one decompressed record at
a time (member-per-record means members decompress individually);
the 2 GiB JVM byte-array bound on a ``binaryFile`` row comfortably
clears CC's 1 GB target size.  Pathological archives (a multi-GB
single member) are the one shape this reader would refuse — the same
bound every JVM WARC reader has.

Read path: ``read_warc`` -> full record table;  ``warc_pages`` ->
the authoritative input shape (url, warc_ts, html, text, lang)
feeding ``extract()`` unchanged.  Write path: ``write_warc_pages``
emits member-per-record ``.warc.gz``, one file per partition, and
returns a manifest frame.  All Python work is Arrow-batched
``mapInPandas`` — no per-row UDFs.
"""

import fnmatch
import os
import re

import pandas as pd

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


def _records_frame(path, content, record_types, transcode=False):
    from ..core.warc import iter_warc_records
    errors = []
    return _records_frame_iter(
        path, iter_warc_records(bytes(content), errors), errors,
        record_types, transcode)


def _records_frame_iter(path, rec_iter, errors, record_types,
                        transcode=False):
    from ..core.warc import (http_content_type, sniff_charset,
                             split_http_response, to_utf8)
    rows = []
    fname = _strip_file(path)
    for rec in rec_iter:
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
        # raw date string here; ONE vectorized to_datetime below —
        # the scalar call costs ~450 us/record (measured), which at
        # CC archive sizes (~50k records/file) would dominate the
        # whole scan task
        rows.append((rec.url, rec.date, rtype,
                     rec.record_id, status, mime or None,
                     charset or None, rec.get("WARC-Payload-Digest"),
                     payload, fname, rec.offset, None))
    if errors:
        # file-level error row (url NULL) so malformed content is
        # observable in the table instead of a driver log
        rows.append((None, None, "x-parse-errors", None, None, None,
                     None, None, None, fname, None, errors))
    frame = pd.DataFrame(rows, columns=[f.name for f in WARC_SCHEMA])
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


SPLIT_BYTES = 1536 << 20     # archives larger than this split into
RANGE_BYTES = 512 << 20      # member-aligned ranges of this size —
                             # the 2 GiB JVM byte-array bound on a
                             # binaryFile row never gets hit


def read_warc(spark, path, record_types=("response",),
              transcode=False, split_bytes=SPLIT_BYTES,
              range_bytes=RANGE_BYTES):
    """WARC archive(s) at ``path`` (a path, glob or list of them, or a
    ``list_archives`` listing; ``.warc`` or ``.warc.gz``) ->
    WARC_SCHEMA DataFrame.  One task per archive file; no shuffle.
    ``record_types`` filters records in the scan (None = all types);
    malformed content lands in ``x-parse-errors`` rows, never raises.

    The scan is planned from the file listing (paths + sizes, no
    content) on the driver, with no Spark job: a path is listed once
    with ``list_archives``; a listing is used as it stands, so a
    crawl that already listed its archives stats none of them again.

    Oversized archives (r8): ``.warc.gz`` files larger than
    ``split_bytes`` are read as MULTIPLE ``range_bytes`` tasks — each
    task scans its compressed byte range for the first validated gzip
    member and parses every member starting inside the range
    (core.warc.iter_warc_records_file_range; a member straddling the
    range end belongs to the task holding its first byte, so ranges
    tile the archive exactly).  Ranged tasks open the file directly,
    so they need a locally-readable path (``file:`` URI or mounted
    FS) — plain ``.warc`` files and non-local schemes keep the
    single-task binaryFile path and its documented 2 GiB row bound.

    ``transcode=True`` normalizes response payloads to UTF-8 in the
    same scan (charset = BOM > HTTP header > WHATWG meta prescan >
    XML decl); UTF-8/unknown payloads pass through byte-identical, so
    the reference byte-identity contract on utf-8 corpora is
    untouched.  The ``charset`` column then reports the SOURCE
    charset the bytes came from."""
    rtypes = tuple(record_types) if record_types else ()

    def fn(batches):
        for pdf in batches:
            for path_, content in zip(pdf["path"], pdf["content"]):
                yield _records_frame(path_, content, rtypes,
                                     transcode)

    listing = _listing(spark, path)
    big = [(p, n) for p, n in listing
           if n > split_bytes and p.endswith(".gz") and
           _local_path(p) is not None]
    big_set = {p for p, _n in big}
    small = [p for p, _n in listing if p not in big_set]
    out = None
    if small:
        out = (_binary_files(spark, small).select("path", "content")
               .mapInPandas(fn, schema=WARC_SCHEMA))
    if not big:
        return out if out is not None else \
            spark.createDataFrame([], WARC_SCHEMA)

    tasks = []
    for p, length in big:
        s = 0
        while s < length:
            tasks.append((p, s, min(s + range_bytes, length)))
            s += range_bytes

    def range_fn(batches):
        from ..core.warc import iter_warc_records_file_range
        for pdf in batches:
            for path_, start, end in zip(pdf["path"], pdf["start"],
                                         pdf["end"]):
                errors = []
                local = _local_path(path_)
                with open(local, "rb") as f:
                    yield _records_frame_iter(
                        path_,
                        iter_warc_records_file_range(
                            f, int(start), int(end), errors),
                        errors, rtypes, transcode)

    ranged = (spark.createDataFrame(
                  tasks, "path string, start long, end long")
              .repartition(len(tasks))
              .mapInPandas(range_fn, schema=WARC_SCHEMA))
    return ranged if out is None else out.unionByName(ranged)


def warc_pages(spark, path, statuses=(200,),
               transcode=True) -> DataFrame:
    """Archives -> the authoritative pages shape
    (url, warc_ts, html, text, lang): the ingest half of the north
    star.  ``text``/``lang`` start NULL — ``extract()`` fills text,
    ``lang_id`` fills lang.  Non-HTML and non-2xx responses are
    filtered in the same scan stage (predicate on the mapInPandas
    output; no extra pass).  ``transcode`` (default on) is the
    WET-style UTF-8 normalization — legacy windows-1252/shift_jis/
    etc. pages parse correctly downstream while utf-8 pages stay
    byte-identical."""
    recs = read_warc(spark, path, record_types=("response",),
                     transcode=transcode)
    keep = ((F.col("url").isNotNull()) &
            (F.col("content_type").isNull() |
             F.col("content_type").rlike("html|xml|^text/")))
    if statuses:
        keep = keep & F.col("http_status").isin(*statuses)
    return (recs.where(keep)
            .select("url", "warc_ts", "html",
                    F.lit(None).cast("string").alias("text"),
                    F.lit(None).cast("string").alias("lang")))


def stream_warc(spark, input_dir, record_types=("response",),
                transcode=False) -> DataFrame:
    """Continuous WARC ingest from a landing directory: the
    binaryFile STREAM source discovers newly-arrived archives, each
    becoming one input row parsed by the same scan as read_warc.
    Exactly-once at file granularity comes from the stream
    checkpoint (the file source journals seen files); pair with
    ``trigger(availableNow=True)`` for batch catch-up or a processing
    trigger for a live feed.  Caller attaches writeStream with a
    checkpointLocation."""
    rtypes = tuple(record_types) if record_types else ()
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

    def fn(batches):
        for pdf in batches:
            for path_, content in zip(pdf["path"], pdf["content"]):
                yield _records_frame(path_, content, rtypes,
                                     transcode)

    return src.mapInPandas(fn, schema=WARC_SCHEMA)


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


def warc_todo_paths(spark, path, done=()):
    """The paths of ``warc_todo(spark, path, done)``."""
    return [p for p, _n in warc_todo(spark, path, done)]


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
    manifest/idempotency contract as write_warc_pages."""
    cols = [c for c in ("url", "warc_ts", "text")
            if c in extracted.columns]
    src = extracted.select(*cols)

    def fn(batches):
        from pyspark import TaskContext
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


def read_wet(spark, path) -> DataFrame:
    """WET archives -> (url, warc_ts, text): the inverse of
    write_wet_pages, and a reader for Common Crawl's own WET layer
    (records typed ``conversion``, text/plain UTF-8 bodies)."""
    recs = read_warc(spark, path, record_types=("conversion",))
    return (recs.where(F.col("url").isNotNull())
            .select("url", "warc_ts",
                    F.decode(F.col("html"), "UTF-8").alias("text")))


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
