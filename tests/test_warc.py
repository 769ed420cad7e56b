"""WARC reader/writer: core roundtrips, malformed-content resync,
HTTP split, and the Spark source/sink (read_warc / warc_pages /
write_warc_pages) against synthesized member-per-record archives."""

import gzip
import os
import io
import zlib

import pytest
from pyspark.sql import functions as F

from packages_sgml_spark.core.warc import (
    build_record, build_response_record, gzip_member,
    http_content_type, iter_gzip_members, iter_warc_records,
    parse_warc_buffer, sha1_digest, split_http_response, write_warc)


def _one(data, errors=None):
    recs = list(iter_warc_records(data, errors))
    assert len(recs) == 1
    return recs[0]


def test_plain_roundtrip():
    body = b"hello \x00 world"
    raw = build_record("resource", body, url="https://x.example/r",
                       date="2026-01-02T03:04:05Z")
    rec = _one(raw)
    assert rec.type == "resource"
    assert rec.url == "https://x.example/r"
    assert rec.date == "2026-01-02T03:04:05Z"
    assert rec.body == body
    assert rec.get("WARC-Block-Digest") == sha1_digest(body)
    assert rec.get("content-length") == str(len(body))  # case-insens
    assert rec.record_id.startswith("<urn:uuid:")
    # deterministic id: same inputs -> same bytes
    assert raw == build_record("resource", body,
                               url="https://x.example/r",
                               date="2026-01-02T03:04:05Z")


def test_gzip_member_per_record_and_offsets():
    recs_raw = [build_record("metadata", b"m%d" % i,
                             url="https://x/%d" % i,
                             date="2026-01-01T00:00:00Z")
                for i in range(3)]
    buf = io.BytesIO()
    assert write_warc(buf, recs_raw) == 3
    data = buf.getvalue()
    # multi-member: stdlib gzip sees the concatenation
    assert gzip.decompress(data) == b"".join(recs_raw)
    members = list(iter_gzip_members(data))
    assert len(members) == 3 and members[0][0] == 0
    errors = []
    recs = list(iter_warc_records(data, errors))
    assert errors == []
    assert [r.body for r in recs] == [b"m0", b"m1", b"m2"]
    # offsets are compressed member offsets (CDX convention)
    assert [r.offset for r in recs] == [m[0] for m in members]
    # gzip writer is deterministic (mtime 0)
    assert gzip_member(recs_raw[0]) == gzip_member(recs_raw[0])


def test_http_response_split_and_charset():
    payload = "<html><p>café</html>".encode("iso-8859-1")
    raw = build_response_record(
        "https://h.example/a", "2026-01-01T00:00:00Z", payload,
        http_content_type="text/html; charset=ISO-8859-1",
        http_headers=(("Server", "x"),))
    rec = _one(raw)
    assert rec.type == "response"
    status, headers, got = split_http_response(rec.body)
    assert status == 200 and got == payload
    mime, charset = http_content_type(headers)
    assert mime == "text/html" and charset == "iso-8859-1"
    assert rec.get("WARC-Payload-Digest") == sha1_digest(payload)


def test_http_split_no_separator():
    errors = []
    status, headers, payload = split_http_response(b"not http", errors)
    assert status is None and payload == b"not http" and errors


def test_warc11_bracketed_uri_and_continuation():
    raw = (b"WARC/1.1\r\n"
           b"WARC-Type: response\r\n"
           b"WARC-Target-URI: <https://w.example/x>\r\n"
           b"X-Folded: a\r\n  b\r\n"
           b"Content-Length: 2\r\n"
           b"\r\nhi\r\n\r\n")
    rec = _one(raw)
    assert rec.version == "WARC/1.1"
    assert rec.url == "https://w.example/x"
    assert rec.get("X-Folded") == "a b"
    assert rec.body == b"hi"


def test_malformed_resync_and_truncation():
    good = build_record("resource", b"ok", url="https://x/1",
                        date="2026-01-01T00:00:00Z")
    bad = b"WARC/1.0\r\nContent-Length: oops\r\n\r\nzz\r\n\r\n"
    garbage = b"random junk\r\n"
    errors = []
    recs = list(iter_warc_records(garbage + bad + good, errors))
    assert [r.body for r in recs] == [b"ok"]
    assert any("garbage" in e for e in errors)
    assert any("Content-Length" in e for e in errors)
    # truncated tail: reported, good prefix still parsed
    errors2 = []
    recs2 = list(iter_warc_records(good + good[:40], errors2))
    assert len(recs2) == 1 and any("truncated" in e for e in errors2)
    # bad gzip tail
    errors3 = []
    data = gzip_member(good) + b"\x1f\x8b\x00garbage"
    recs3 = list(iter_warc_records(data, errors3))
    assert len(recs3) == 1 and any("gzip" in e for e in errors3)


def test_sniff_charset_priority():
    from packages_sgml_spark.core.warc import sniff_charset
    # BOM beats everything
    assert sniff_charset(b"\xef\xbb\xbf<html>", "iso-8859-1") == "utf-8"
    assert sniff_charset(b"\xff\xfex\x00", "") == "utf-16le"
    # HTTP header beats meta; WHATWG alias folds latin-1 family
    assert sniff_charset(
        b'<meta charset="shift_jis">', "ISO-8859-1") == "windows-1252"
    # meta prescan variants
    assert sniff_charset(b'<html><META CHARSET=Shift_JIS>', "") == \
        "shift_jis"
    assert sniff_charset(
        b'<meta http-equiv="Content-Type" content="text/html; '
        b'charset=EUC-JP">', "") == "euc-jp"
    # meta outside the 1 KiB prescan window is ignored
    assert sniff_charset(b"<p>" + b"x" * 1100 +
                         b'<meta charset="euc-jp">', "") == ""
    # xml decl
    assert sniff_charset(
        b"<?xml version='1.0' encoding='ISO-8859-2'?><r/>", "") == \
        "iso-8859-2"
    assert sniff_charset(b"<html>plain", "") == ""


def test_to_utf8_passthrough_and_transcode():
    from packages_sgml_spark.core.warc import to_utf8
    # utf-8 and unknown: byte-identical passthrough, even invalid utf-8
    bad = b"<p>\xc3</p>"
    assert to_utf8(bad, "utf-8") == (bad, None)
    assert to_utf8(bad, "") == (bad, None)
    out, err = to_utf8(bad, "not-a-charset")
    assert out == bad and "unknown charset" in err
    # windows-1252 curly quote + iso-8859-1 alias
    assert to_utf8(b"\x93hi\x94", "windows-1252") == \
        ("“hi”".encode("utf-8"), None)
    assert to_utf8(b"caf\xe9", "iso-8859-1") == \
        ("café".encode("utf-8"), None)
    # utf-16le with BOM: BOM stripped on transcode
    src = "﻿<p>héllo</p>".encode("utf-16le")
    assert to_utf8(src, "utf-16le") == \
        ("<p>héllo</p>".encode("utf-8"), None)


def test_warc_pages_transcode_spark(spark, tmp_path):
    from packages_sgml_spark.spark.warc import read_warc, warc_pages
    legacy = "<html><p>café “quoted”</html>".encode(
        "windows-1252")
    utf8_doc = "<html><p>café</html>".encode("utf-8")
    f = tmp_path / "legacy.warc.gz"
    with open(f, "wb") as out:
        write_warc(out, [
            build_response_record(
                "https://l.example/1", "2026-01-01T00:00:00Z", legacy,
                http_content_type="text/html; charset=windows-1252"),
            build_response_record(
                "https://l.example/2", "2026-01-01T00:00:01Z",
                utf8_doc),
        ])
    got = {r.url: bytes(r.html)
           for r in warc_pages(spark, str(f)).collect()}
    assert got["https://l.example/1"] == \
        "<html><p>café “quoted”</html>".encode("utf-8")
    assert got["https://l.example/2"] == utf8_doc   # byte-identical
    # charset column reports the source charset
    cs = {r.url: r.charset for r in
          read_warc(spark, str(f), transcode=True).collect()}
    assert cs["https://l.example/1"] == "windows-1252"
    assert cs["https://l.example/2"] == "utf-8"


@pytest.fixture()
def archive_dir(tmp_path):
    docs = [
        ("https://a.example/1", "2026-01-01T00:00:01Z",
         b"<html><head><title>One</title></head><p>alpha</html>"),
        ("https://a.example/2", "2026-01-01T00:00:02Z",
         b"<html><head><title>Two</title></head><p>beta</html>"),
        ("https://b.example/3", "2026-01-01T00:00:03Z",
         b"<html><head><title>Three</title></head><p>gamma</html>"),
    ]
    f1 = tmp_path / "crawl-00000.warc.gz"
    with open(f1, "wb") as out:
        # warcinfo + request records must be filtered by warc_pages
        write_warc(out, [
            build_record("warcinfo", b"software: test\r\n",
                         date="2026-01-01T00:00:00Z",
                         content_type="application/warc-fields"),
            build_response_record(*docs[0]),
            build_record("request", b"GET /2 HTTP/1.1\r\n\r\n",
                         url=docs[1][0], date=docs[1][1],
                         content_type="application/http;msgtype=request"),
            build_response_record(*docs[1]),
            # 404 response: filtered by statuses=(200,)
            build_response_record("https://a.example/miss", docs[1][1],
                                  b"gone", status=404,
                                  reason="Not Found"),
        ])
    f2 = tmp_path / "crawl-00001.warc"        # plain variant
    with open(f2, "wb") as out:
        write_warc(out, [build_response_record(*docs[2])],
                   compress=False)
    return tmp_path, docs


def test_read_warc_spark(spark, archive_dir):
    from packages_sgml_spark.spark.warc import read_warc
    path, docs = archive_dir
    df = read_warc(spark, str(path) + "/*.warc*", record_types=None)
    rows = df.collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.record_type, []).append(r)
    assert len(by_type["warcinfo"]) == 1
    assert len(by_type["request"]) == 1
    assert len(by_type["response"]) == 4
    assert "x-parse-errors" not in by_type
    ok = {r.url: r for r in by_type["response"]}
    for url, date, payload in docs:
        r = ok[url]
        assert bytes(r.html) == payload          # byte-identical payload
        assert r.http_status == 200
        assert r.content_type == "text/html"
        assert r.charset == "utf-8"
        assert r.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ") == date
    assert ok["https://a.example/miss"].http_status == 404


def test_warc_pages_feeds_extract(spark, archive_dir):
    from packages_sgml_spark.spark.warc import warc_pages
    from packages_sgml_spark.spark.extract import extract_element_text
    path, docs = archive_dir
    pages = warc_pages(spark, str(path) + "/*.warc*")
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    got = {r.url: bytes(r.html) for r in pages.collect()}
    assert got == {u: p for u, _, p in docs}     # 404 + non-response gone
    titles = {r.url: r.element_text for r in
              extract_element_text(pages, "title").collect()}
    assert titles == {"https://a.example/1": "One",
                      "https://a.example/2": "Two",
                      "https://b.example/3": "Three"}


def test_wet_roundtrip_from_extraction(spark, tmp_path, archive_dir):
    """End-to-end CC trio: WARC in -> extract -> WET out -> WET in,
    text byte-identical through the conversion records."""
    from packages_sgml_spark.spark.extract import extract
    from packages_sgml_spark.spark.warc import (read_wet, warc_pages,
                                                write_wet_pages)
    path, docs = archive_dir
    pages = warc_pages(spark, str(path) + "/*.warc*")
    extracted = extract(pages, nodes=False).join(
        pages.select("url", "warc_ts"), "url", "left").select(
        "url", "warc_ts", F.col("text_extracted").alias("text"))
    out = tmp_path / "wet"
    manifest = write_wet_pages(extracted, str(out)).collect()
    assert sum(m.n_records for m in manifest) == len(docs)
    direct = {r.url: (r.warc_ts, r.text) for r in
              extracted.select("url", "warc_ts", "text").collect()}
    back = {r.url: (r.warc_ts, r.text) for r in
            read_wet(spark, str(out) + "/*.warc.gz").collect()}
    assert back == direct
    assert back["https://a.example/1"][1] == "Onealpha"


def test_write_warc_pages_roundtrip(spark, tmp_path, archive_dir):
    from packages_sgml_spark.spark.warc import (read_warc, warc_pages,
                                                write_warc_pages)
    path, docs = archive_dir
    pages = warc_pages(spark, str(path) + "/*.warc*")
    out = tmp_path / "out"
    manifest = write_warc_pages(pages, str(out)).collect()
    assert sum(m.n_records for m in manifest) == len(docs)
    back = warc_pages(spark, str(out) + "/*.warc.gz")
    got = {(r.url, r.warc_ts.strftime("%Y-%m-%dT%H:%M:%SZ"),
            bytes(r.html)) for r in back.collect()}
    assert got == set(docs)


def test_stream_warc_incremental(spark, tmp_path):
    """Landing-directory ingest: availableNow catch-up processes the
    files present, the checkpoint journals them, and a restart after a
    new archive lands parses ONLY the new file (file-level
    exactly-once — the north-rule resume contract at the ingest
    stage)."""
    from packages_sgml_spark.spark.warc import stream_warc
    land = tmp_path / "land"
    land.mkdir()
    out, chk = tmp_path / "out", tmp_path / "chk"

    def drop(name, url, body):
        with open(land / name, "wb") as f:
            write_warc(f, [build_response_record(
                url, "2026-01-01T00:00:00Z", body)])

    def run_once():
        q = (stream_warc(spark, str(land))
             .writeStream.format("parquet")
             .option("path", str(out))
             .option("checkpointLocation", str(chk))
             .trigger(availableNow=True)
             .start())
        assert q.awaitTermination(180)

    drop("c-0.warc.gz", "https://s.example/1", b"<html><p>one</html>")
    run_once()
    got = spark.read.parquet(str(out))
    assert [r.url for r in got.collect()] == ["https://s.example/1"]

    drop("c-1.warc.gz", "https://s.example/2", b"<html><p>two</html>")
    run_once()
    rows = spark.read.parquet(str(out)).collect()
    # old archive NOT re-parsed: exactly one row per record ever
    assert sorted(r.url for r in rows) == \
        ["https://s.example/1", "https://s.example/2"]
    files = {os.path.basename(r.warc_file) for r in rows}
    assert files == {"c-0.warc.gz", "c-1.warc.gz"}


def test_warc_todo_paths(spark, archive_dir):
    """File-level batch resume: archives minus the processed set."""
    from packages_sgml_spark.spark.warc import read_warc, \
        warc_todo_paths
    path, _docs = archive_dir
    glob = str(path) + "/*.warc*"
    empty = []
    todo0 = warc_todo_paths(spark, glob, empty)
    assert sorted(os.path.basename(p) for p in todo0) == \
        ["crawl-00000.warc.gz", "crawl-00001.warc"]
    # mark the first archive done via its own read output
    done = [r.warc_file for r in
            read_warc(spark, todo0[0]).select("warc_file").collect()]
    todo1 = warc_todo_paths(spark, glob, done)
    assert [os.path.basename(p) for p in todo1] == \
        [os.path.basename(p) for p in todo0 if p != todo0[0]]
    # the returned paths load directly
    assert read_warc(spark, todo1[0] if len(todo1) == 1 else todo1
                     ).count() > 0


def _listing_tree(root):
    """A landing directory holding everything binaryFile leaves out
    or keeps: commit markers, checksums, an in-flight copy, an empty
    (still being created) archive, a non-WARC file and nested
    directories."""
    files = {
        "a.warc.gz": b"a" * 30, "b.warc": b"b" * 7, "notes.txt": b"n",
        "sp ace.warc.gz": b"s" * 3, "_SUCCESS": b"", "_x.warc.gz": b"xx",
        ".a.warc.gz.crc": b"crc", "c.warc.gz._COPYING_": b"c" * 9,
        "zero.warc.gz": b"", "sub/d.warc.gz": b"d" * 11,
        "sub/_e.warc": b"e", "sub/deeper/f.warc.gz": b"f" * 4,
        "_hidden/g.warc": b"g" * 5,
    }
    for rel, data in files.items():
        f = root / rel
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_bytes(data)
    return root


LISTING_INPUTS = {
    "directory": lambda r: str(r),
    "glob": lambda r: str(r) + "/*",
    "warc-glob": lambda r: str(r) + "/*.warc*",
    "list": lambda r: [str(r / "a.warc.gz"), str(r / "_x.warc.gz"),
                       str(r / "zero.warc.gz"), str(r / "sub"),
                       "file:" + str(r / "b.warc"),
                       str(r / "c.warc.gz._COPYING_")],
    "subdirectory": lambda r: str(r / "sub"),
}


@pytest.mark.parametrize("shape", sorted(LISTING_INPUTS))
def test_list_archives_matches_binaryfile(spark, tmp_path, shape):
    """The driver listing is exactly the (path, length) set a
    binaryFile load of the same input reads."""
    from packages_sgml_spark.spark.warc import list_archives
    arg = LISTING_INPUTS[shape](_listing_tree(tmp_path))
    want = sorted(tuple(r) for r in spark.read.format("binaryFile")
                  .load(arg).select("path", "length").collect())
    assert sorted(list_archives(spark, arg)) == want
    assert want


def test_list_archives_missing_path(spark, tmp_path):
    from packages_sgml_spark.spark.warc import list_archives
    for arg in (str(tmp_path / "nope"), str(tmp_path / "*.nope"),
                [str(tmp_path), str(tmp_path / "nope")]):
        with pytest.raises(FileNotFoundError):
            list_archives(spark, arg)
    assert list_archives(spark, str(tmp_path)) == []


def test_warc_todo_and_pages_build_run_no_job(spark, archive_dir):
    """File-level resume and the scan plan come from the driver
    listing: pruning the archives and building warc_pages over the
    todo listing launch no Spark job."""
    from packages_sgml_spark.spark.warc import (list_archives,
                                                warc_pages, warc_todo,
                                                warc_todo_paths)
    path, docs = archive_dir
    listing = list_archives(spark, str(path))
    sc = spark.sparkContext
    group = "warc-todo-no-job"
    sc.setJobGroup(group, "listing and planning must not run a job")
    try:
        todo = warc_todo_paths(spark, str(path), ["/elsewhere.warc"])
        pages = warc_pages(spark, warc_todo(spark, listing))
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        # the tracker does see jobs of this group
        n = pages.count()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(todo) == 2 and n == len(docs)


def _write_archives(root, n, docs_per=3):
    """``n`` .warc.gz archives of ``docs_per`` small pages under
    ``root``; returns the page urls."""
    root.mkdir()
    urls = []
    for a in range(n):
        recs = [build_response_record(
            "https://n%d.example/%d" % (a, i), "2026-01-01T00:00:00Z",
            ("<html><p>archive %d page %d</p></html>" % (a, i)).encode())
            for i in range(docs_per)]
        urls += [r.split(b"\r\n")[2][len(b"WARC-Target-URI: "):]
                 .decode() for r in recs]
        with open(root / ("c-%03d.warc.gz" % a), "wb") as f:
            write_warc(f, recs)
    return urls


def test_crawl_pass_build_above_32_archives_runs_no_job(spark,
                                                        tmp_path):
    """The crawl's page frame over more archives than Spark's parallel
    partition discovery threshold (32) is planned from the driver
    listing: building it runs no Spark job (a binaryFile load of the
    list would run a parallel listing job)."""
    from packages_sgml_spark.spark.warc import (warc_text_quality,
                                                warc_todo)
    root = tmp_path / "warc"
    urls = _write_archives(root, 40)
    sc = spark.sparkContext
    group = "crawl-pass-40-archives"
    sc.setJobGroup(group, "planning the crawl pass must not run a job")
    try:
        pages = warc_text_quality(spark, warc_todo(spark, str(root)))
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        got = sorted(r.url for r in pages.select("url").collect())
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == sorted(urls)


def test_one_archive_parses_on_every_core(spark, tmp_path):
    """One .warc.gz splits into member-aligned ranges so that its
    pages parse in at least as many tasks as there are cores (or as
    ``tasks`` asks), with rows identical to a one-task read."""
    from packages_sgml_spark.spark.warc import warc_text_quality
    root = tmp_path / "warc"
    _write_archives(root, 1, docs_per=64)

    def read(tasks):
        df = warc_text_quality(spark, str(root), tasks=tasks)
        rows = df.withColumn("pid", F.spark_partition_id()).collect()
        return ({r.pid for r in rows},
                sorted(tuple(r)[:-1] for r in rows))

    one_pids, one = read(0)
    assert len(one_pids) == 1 and len(one) == 64
    cores = spark.sparkContext.defaultParallelism
    for tasks, want in (("auto", cores), (4, 4)):
        pids, rows = read(tasks)
        assert len(pids) >= want, (tasks, pids)
        assert rows == one


def _mixed_archive(path):
    """One .warc.gz holding every kind of record the crawl pass must
    keep or drop as warc_pages does; returns the kept page urls."""
    from packages_sgml_spark.spark.extract import MAX_HTML_BYTES
    page = b"<html><body><p>one two three four five</p></body></html>"
    recs = [build_response_record("https://m.example/ok/%d" % i,
                                  "2026-01-01T00:00:00Z", page)
            for i in range(12)]
    recs += [
        build_response_record("https://m.example/404",
                              "2026-01-01T00:00:00Z", page,
                              status=404, reason="Not Found"),
        build_response_record("https://m.example/pdf",
                              "2026-01-01T00:00:00Z", b"%PDF-1.4",
                              http_content_type="application/pdf"),
        build_response_record("https://m.example/empty",
                              "2026-01-01T00:00:00Z", b""),
        build_response_record("https://m.example/big",
                              "2026-01-01T00:00:00Z",
                              b"<p>" + b"x" * (MAX_HTML_BYTES + 1)),
        build_response_record(
            "https://m.example/latin1", "2026-01-01T00:00:00Z",
            "<p>caf\u00e9 cr\u00e8me br\u00fbl\u00e9e</p>"
            .encode("latin-1"),
            http_content_type="text/html; charset=ISO-8859-1"),
        # no Content-Type header: a NULL content type is a page
        build_record("response",
                     b"HTTP/1.1 200 OK\r\n\r\n<p>no type given</p>",
                     url="https://m.example/untyped",
                     date="2026-01-01T00:00:00Z",
                     content_type="application/http;msgtype=response"),
        # not an HTTP message: no status, so no page
        build_record("response", b"<p>raw</p>",
                     url="https://m.example/raw",
                     date="2026-01-01T00:00:00Z",
                     content_type="text/html"),
        # no url
        build_record("response",
                     b"HTTP/1.1 200 OK\r\nContent-Type: text/html"
                     b"\r\n\r\n<p>nowhere</p>",
                     date="2026-01-01T00:00:00Z",
                     content_type="application/http;msgtype=response"),
        build_record("request", b"GET / HTTP/1.1\r\n\r\n",
                     url="https://m.example/ok/0",
                     date="2026-01-01T00:00:00Z"),
        build_record("warcinfo", b"software: test\r\n",
                     date="2026-01-01T00:00:00Z"),
    ]
    with open(path, "wb") as f:
        write_warc(f, recs)
    return {"https://m.example/ok/%d" % i for i in range(12)} | {
        "https://m.example/empty", "https://m.example/big",
        "https://m.example/latin1", "https://m.example/untyped"}


def test_crawl_pass_equals_extract_text_quality_of_warc_pages(
        spark, tmp_path):
    """warc_text_quality is the fused form of extract_text_quality over
    warc_pages: the same rows, every column, on an archive with
    non-200, non-HTML, untyped, empty, oversized, Latin-1, url-less
    and non-response records, split over every core or read in one
    task."""
    from packages_sgml_spark.spark.extract import extract_text_quality
    from packages_sgml_spark.spark.warc import (warc_pages,
                                                warc_text_quality)
    root = tmp_path / "warc"
    root.mkdir()
    kept = _mixed_archive(root / "mixed.warc.gz")
    want = sorted(tuple(r) for r in extract_text_quality(
        warc_pages(spark, str(root))).collect())
    assert {r[0] for r in want} == kept
    status = {r[0]: r[4] for r in want}
    assert status["https://m.example/empty"] == "empty"
    assert status["https://m.example/big"] == "too_large"
    assert {r[1] for r in want
            if r[0] == "https://m.example/latin1"} == {
        "caf\u00e9 cr\u00e8me br\u00fbl\u00e9e"}
    for tasks in (0, "auto"):
        df = warc_text_quality(spark, str(root), tasks=tasks)
        assert df.columns == extract_text_quality(
            warc_pages(spark, str(root))).columns
        assert sorted(tuple(r) for r in df.collect()) == want, tasks


def _corrupt_archive(path, n=24, bad=10):
    """A .warc.gz of ``n`` pages whose member ``bad`` has a flipped
    byte inside its deflate data; returns the page urls."""
    recs = [build_response_record(
        "https://z.example/%d" % i, "2026-01-01T00:00:00Z",
        ("<html><p>page %d of a damaged archive</p></html>" % i)
        .encode()) for i in range(n)]
    buf = io.BytesIO()
    write_warc(buf, recs)
    data = bytearray(buf.getvalue())
    at = [off for off, _plain in iter_gzip_members(bytes(data))][bad]
    data[at + 20] ^= 0xFF
    path.write_bytes(bytes(data))
    return ["https://z.example/%d" % i for i in range(n)]


def test_corrupt_small_archive_never_raises(spark, tmp_path):
    """A small .warc.gz with one corrupt gzip member, on a session
    with more cores than archives: read_warc keeps the whole-file
    reader's rows (the records before the bad member, then one
    x-parse-errors row for the file), and the crawl pass, which splits
    the archive over every core, resyncs past the bad member and keeps
    the same rows however the archive is split.  Nothing raises."""
    from packages_sgml_spark.spark.warc import (read_warc, warc_pages,
                                                warc_rows,
                                                warc_text_quality)
    root = tmp_path / "warc"
    root.mkdir()
    arc = root / "bad.warc.gz"
    urls = _corrupt_archive(arc)
    errors = []
    whole = list(warc_rows(str(arc), iter_warc_records(
        arc.read_bytes(), errors), errors, ("response",)))
    assert any("gzip stream error" in e for e in errors)
    assert [r[0] for r in whole] == urls[:10] + [None]

    def key(url, offset, rtype, errs):
        return (url or "", -1 if offset is None else offset, rtype,
                tuple(errs or ()))

    got = sorted(key(r.url, r.warc_offset, r.record_type, r.warc_errors)
                 for r in read_warc(spark, str(root)).collect())
    assert got == sorted(key(r[0], r[10], r[2], r[11]) for r in whole)
    assert sorted(r.url for r in warc_pages(spark, str(root))
                  .select("url").collect()) == sorted(urls[:10])

    cores = spark.sparkContext.defaultParallelism
    assert cores > 1
    seen = {}
    for tasks in (0, "auto", 3):
        rows = warc_text_quality(spark, str(root), tasks=tasks) \
            .withColumn("pid", F.spark_partition_id()).collect()
        seen[tasks] = sorted(tuple(r)[:-1] for r in rows)
        if tasks == "auto":
            assert len({r.pid for r in rows}) > 1
    assert seen[0] == seen["auto"] == seen[3]
    assert sorted(r[0] for r in seen[0]) == sorted(
        urls[:10] + urls[11:])
    assert {r[4] for r in seen[0]} == {"ok"}


# registers the function's broadcasts as a Python worker does, builds
# its input from buffers and reads its output column by column:
# pyarrow.array and RecordBatch.from_pydict import pandas
_NO_PANDAS_WORKER = """
import array, json, pickle, sys
import pyarrow as pa
from pyspark.core.broadcast import Broadcast, _broadcastRegistry
for bid, path in json.loads(sys.argv[2]):
    _broadcastRegistry[bid] = Broadcast(path=path)
fn = pickle.load(open(sys.argv[1], "rb"))
ids = pa.Array.from_buffers(pa.int64(), 1,
                            [None, pa.py_buffer(array.array("q", [0]))])
rows = []
for b in fn(iter([pa.RecordBatch.from_arrays([ids], names=["id"])])):
    rows += zip(b.column("url").to_pylist(),
                b.column("status").to_pylist())
print(json.dumps({"rows": sorted(rows),
                  "pandas": "pandas" in sys.modules}))
"""


def test_crawl_pass_worker_never_imports_pandas(spark, tmp_path,
                                                monkeypatch):
    """The function the crawl pass hands mapInArrow, unpickled in a
    fresh interpreter and run over one small archive, parses its
    pages without importing pandas."""
    import json
    import subprocess
    import sys
    from pyspark import cloudpickle
    from pyspark.core.broadcast import Broadcast
    from packages_sgml_spark.spark.warc import warc_text_quality
    root = tmp_path / "warc"
    urls = _write_archives(root, 1)
    cls = type(spark.range(1))
    seen = []
    map_in_arrow = cls.mapInArrow

    def capture(self, func, *a, **kw):
        seen.append(func)
        return map_in_arrow(self, func, *a, **kw)

    monkeypatch.setattr(cls, "mapInArrow", capture)
    warc_text_quality(spark, str(root), tasks=0)
    assert len(seen) == 1
    fn_path = tmp_path / "worker.pkl"
    fn_path.write_bytes(cloudpickle.dumps(seen[0]))
    shared = json.dumps([[b._jbroadcast.id(), b._path]
                         for b in seen[0].args
                         if isinstance(b, Broadcast)])
    assert shared != "[]"             # the task plan is a broadcast
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=repo)
    res = subprocess.run([sys.executable, "-c", _NO_PANDAS_WORKER,
                          str(fn_path), shared], capture_output=True,
                         text=True, env=env, timeout=600)
    assert res.returncode == 0, res.stderr
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["rows"] == [[u, "ok"] for u in sorted(urls)]
    assert out["pandas"] is False


def test_read_parquet_or_none_missing_sink_is_one_lookup(spark,
                                                         tmp_path):
    """A missing sink is found missing by the file system, with no
    Spark job and a fixed, small number of py4j calls; a directory
    with no part files is None too, and a sink with rows reads
    back."""
    from packages_sgml_spark.spark.checkpoint import \
        read_parquet_or_none
    missing = str(tmp_path / "missing")
    sc = spark.sparkContext
    group = "missing-sink"
    sc.setJobGroup(group, "a missing sink runs no job")
    try:
        got = []
        n = _count_py4j_calls(spark, lambda: got.append(
            read_parquet_or_none(spark, missing, "url string")))
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == [None] and n <= 12, n
    empty = tmp_path / "empty"
    (empty / "_temporary").mkdir(parents=True)
    assert read_parquet_or_none(spark, str(empty)) is None
    sink = str(tmp_path / "sink")
    spark.createDataFrame([("u",)], "url string").write.parquet(sink)
    assert [r.url for r in read_parquet_or_none(
        spark, sink, "url string").collect()] == ["u"]


def _count_py4j_calls(spark, fn):
    """py4j round trips made by fn(), bar the memory ("m") commands
    py4j sends whenever Python garbage-collects a Java proxy."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = []

    def counting(command, *a, **kw):
        calls.append(not command.startswith("m\n"))
        return send(command, *a, **kw)

    client.send_command = counting
    try:
        fn()
    finally:
        client.send_command = send
    return sum(calls)


def test_listing_py4j_calls_do_not_grow_with_files(spark, tmp_path):
    """Listing a directory, pruning it and building the scan over the
    listing cross py4j a fixed number of times, however many archives
    there are (one call per file costs minutes at 10^5 archives)."""
    from packages_sgml_spark.spark.warc import (list_archives,
                                                warc_pages, warc_todo)

    def calls(n):
        root = tmp_path / str(n)
        root.mkdir()
        for i in range(n):
            (root / ("c-%03d.warc.gz" % i)).write_bytes(b"x")

        def run():
            listing = list_archives(spark, str(root))
            assert len(listing) == n
            warc_pages(spark, warc_todo(spark, listing))
        run()                                 # warm the JVM views
        return _count_py4j_calls(spark, run)

    assert calls(3) == calls(30)


def test_warc_reader_mutation_fuzz():
    """A task at crawl scale WILL meet corrupt archives; the reader
    contract is rows + error strings, never an exception.  Seeded
    byte-level mutations (flips, truncations, duplications, junk
    splices) over a valid multi-record archive, gzip and plain."""
    import random
    rng = random.Random(0xC0FFEE)
    recs = [build_response_record(
        "https://f.example/%d" % i, "2026-01-01T00:00:%02dZ" % i,
        ("<html><p>doc %d</p></html>" % i).encode())
        for i in range(5)]
    gz = io.BytesIO()
    write_warc(gz, recs)
    plain = b"".join(recs)
    corpora = [gz.getvalue(), plain]
    for trial in range(300):
        base = bytearray(corpora[trial % 2])
        op = trial % 4
        if op == 0:      # flip 1-8 bytes
            for _ in range(rng.randint(1, 8)):
                base[rng.randrange(len(base))] = rng.randrange(256)
        elif op == 1:    # truncate
            del base[rng.randrange(1, len(base)):]
        elif op == 2:    # splice junk
            pos = rng.randrange(len(base))
            junk = bytes(rng.randrange(256)
                         for _ in range(rng.randint(1, 64)))
            base[pos:pos] = junk
        else:            # duplicate a slice (resync stress)
            a = rng.randrange(len(base))
            b = min(len(base), a + rng.randint(1, 200))
            base[a:a] = base[a:b]
        errors = []
        out = list(iter_warc_records(bytes(base), errors))
        for r in out:
            assert isinstance(r.body, bytes)
        # mutated archives either parse some records or explain why
        assert out or errors, "silent empty parse on trial %d" % trial


def test_range_reader_mutation_fuzz():
    """The member-range reader under the whole-file reader's mutation
    fuzz: rows + error strings, never an exception, and on corrupt
    archives too its adjacent ranges yield exactly the records of one
    range over the file, so a split never changes what is read."""
    import random
    from packages_sgml_spark.core.warc import iter_warc_records_file_range
    rng = random.Random(0xC0FFEE)
    recs = [build_response_record(
        "https://f.example/%d" % i, "2026-01-01T00:00:%02dZ" % i,
        ("<html><p>doc %d</p></html>" % i).encode())
        for i in range(8)]
    gz = io.BytesIO()
    write_warc(gz, recs)
    src = gz.getvalue()

    def read(data, cuts, errors):
        return [(r.offset, r.url, r.body) for a, b in zip(cuts, cuts[1:])
                for r in iter_warc_records_file_range(io.BytesIO(data),
                                                      a, b, errors)]

    for trial in range(300):
        base = bytearray(src)
        op = trial % 4
        if op == 0:      # flip 1-8 bytes
            for _ in range(rng.randint(1, 8)):
                base[rng.randrange(len(base))] = rng.randrange(256)
        elif op == 1:    # truncate
            del base[rng.randrange(1, len(base)):]
        elif op == 2:    # splice junk
            pos = rng.randrange(len(base))
            base[pos:pos] = bytes(rng.randrange(256)
                                  for _ in range(rng.randint(1, 64)))
        else:            # duplicate a slice (resync stress)
            a = rng.randrange(len(base))
            b = min(len(base), a + rng.randint(1, 200))
            base[a:a] = base[a:b]
        data = bytes(base)
        errors = []
        one = read(data, [0, len(data)], errors)
        assert one or errors, "silent empty parse on trial %d" % trial
        for n in (2, 3, 5):
            step = len(data) // n + 1
            cuts = list(range(0, len(data), step)) + [len(data)]
            assert read(data, cuts, []) == one, (trial, n)


def test_range_reader_owns_member_at_range_end():
    """A range whose only member starts in its last two bytes owns
    that member: the member's 3-byte magic ends past the range."""
    from packages_sgml_spark.core.warc import iter_warc_records_file_range
    recs = [build_response_record(
        "https://e.example/%d" % i, "2026-01-01T00:00:00Z",
        ("<html><p>doc %d</p></html>" % i).encode()) for i in range(6)]
    buf = io.BytesIO()
    write_warc(buf, recs)
    data = buf.getvalue()
    starts = [off for off, _plain in iter_gzip_members(data)]
    whole = [r.offset for r in iter_warc_records(data)]
    for p, m in zip(starts, starts[1:]):
        for k in (1, 2, 3):
            cuts = [0, p + 1, m + k, len(data)]
            got = [r.offset for a, b in zip(cuts, cuts[1:])
                   for r in iter_warc_records_file_range(
                       io.BytesIO(data), a, b)]
            assert got == whole, (m, k)


def test_non_iso_warc_date_fallback():
    """Non-conforming writers emit RFC-1123 dates; the vectorized
    ISO fast path must fall back, not null them out."""
    raw = (b"WARC/1.0\r\n"
           b"WARC-Type: resource\r\n"
           b"WARC-Target-URI: https://d.example/x\r\n"
           b"WARC-Date: Mon, 01 Jan 2026 00:00:00 GMT\r\n"
           b"Content-Length: 2\r\n\r\nhi\r\n\r\n")
    from packages_sgml_spark.core.warc import iter_warc_records
    from packages_sgml_spark.spark.warc import _records_frame
    errors = []
    f = _records_frame("f", iter_warc_records(raw, errors), errors,
                       ("resource",), False)
    assert str(f["warc_ts"].iloc[0]) == "2026-01-01 00:00:00"


# ------------------------------------------------------------------
# r8: oversized-archive range split
# ------------------------------------------------------------------

def test_range_reader_tiles_file_exactly(tmp_path):
    """iter_warc_records_file_range over adjacent ranges yields
    exactly the whole-file record sequence, for every split point —
    including payloads that embed fake gzip magic bytes."""
    import io
    from packages_sgml_spark.core.warc import (
        build_response_record, iter_warc_records,
        iter_warc_records_file_range, write_warc, GZIP_MAGIC)
    recs = []
    for i in range(60):
        body = (b"<html>page %d " % i +
                GZIP_MAGIC + b"\x08 fake magic inside " * 3 +
                b"WARC/1.0 fake header too</html>")
        recs.append(build_response_record(
            "https://h%d.example/p/%d" % (i % 7, i),
            "2026-01-01T00:00:00Z", body))
    buf = io.BytesIO()
    write_warc(buf, recs)
    data = buf.getvalue()
    whole = [(r.url, r.offset, r.body) for r in
             iter_warc_records(data)]
    assert len(whole) == 60
    for n_ranges in (2, 3, 7):
        step = len(data) // n_ranges + 1
        got = []
        for s in range(0, len(data), step):
            got += [(r.url, r.offset, r.body) for r in
                    iter_warc_records_file_range(
                        io.BytesIO(data), s, min(s + step, len(data)))]
        assert got == whole, n_ranges


def test_read_warc_split_matches_single_task(spark, tmp_path):
    """A .warc.gz above split_bytes reads as N range tasks with rows
    identical to a whole-file read: the core reader over each file's
    bytes, which read_warc below split_bytes matches too."""
    from packages_sgml_spark.core.warc import (build_response_record,
                                               write_warc)
    from packages_sgml_spark.spark.warc import read_warc, warc_rows
    recs = [build_response_record(
        "https://s%d.example/p/%d" % (i % 11, i),
        "2026-01-02T03:04:05Z",
        ("<html><body>doc %d " % i + "word " * 200 +
         "</body></html>").encode())
        for i in range(400)]
    big = tmp_path / "big.warc.gz"
    with open(big, "wb") as f:
        write_warc(f, recs)
    small = tmp_path / "small.warc.gz"
    with open(small, "wb") as f:
        write_warc(f, recs[:5])
    size = big.stat().st_size
    assert size > 120_000

    def rows(df):
        return sorted((r.url, r.warc_offset, bytes(r.html or b""),
                       r.record_type) for r in df.collect())

    single = []
    for arc in (big, small):
        errors = []
        single += [(r[0], r[10], r[8], r[2]) for r in warc_rows(
            str(arc), iter_warc_records(arc.read_bytes(), errors),
            errors, ("response",))]
    single.sort()
    assert len(single) == 405
    assert rows(read_warc(spark, str(tmp_path) + "/*.warc.gz")) == single
    split = read_warc(spark, str(tmp_path) + "/*.warc.gz",
                      split_bytes=100_000, range_bytes=30_000)
    # the big file must ACTUALLY have split into range tasks — a
    # silent fall-back to the single-task path would keep rows equal
    # while the whole range code path goes unexercised (review r8:
    # the original assert here was vacuous)
    n_tasks = split.rdd.getNumPartitions()
    assert n_tasks >= size // 30_000, (n_tasks, size)
    assert rows(split) == single


def test_range_task_bounded_when_member_exceeds_range():
    """An interior range that falls inside one oversized member must
    yield nothing AND stop scanning at its range end instead of
    buffering the rest of the file (review r8)."""
    import io
    from packages_sgml_spark.core import warc as W
    recs = [W.build_response_record(
        "https://x/0", "2026-01-01T00:00:00Z",
        b"<html>" + b"A" * 3_000_000 + b"</html>")]
    recs += [W.build_response_record(
        "https://x/%d" % i, "2026-01-01T00:00:00Z",
        b"<html>x</html>") for i in (1, 2)]
    buf = io.BytesIO()
    W.write_warc(buf, recs)
    data = buf.getvalue()

    seen = {"max": 0}
    orig = W._FileWindow

    class SpyWin(orig):
        def ensure(self, upto, chunk=1 << 20):
            super().ensure(upto, chunk)
            seen["max"] = max(seen["max"], len(self.buf))

    W._FileWindow = SpyWin
    try:
        got = list(W.iter_warc_records_file_range(
            io.BytesIO(data), 100, 200))
    finally:
        W._FileWindow = orig
    assert got == []
    assert seen["max"] < 100_000, seen
    # and adjacent ranges still tile the file exactly
    whole = [r.url for r in W.iter_warc_records(data)]
    parts = []
    for s in range(0, len(data), 1000):
        parts += [r.url for r in W.iter_warc_records_file_range(
            io.BytesIO(data), s, min(s + 1000, len(data)))]
    assert parts == whole
