"""WARC (ISO 28500 / WARC/1.0-1.1) record reader and writer, pure
stdlib.

This is ingestion surface for the north-star pipeline (BASELINE.json:
"Iceberg table of Common-Crawl-style web pages"): Common Crawl ships
its corpus as ``*.warc.gz`` files — one gzip *member per record* (the
convention that makes byte-offset random access work; the CC CDX
index stores member offsets).  The reference parser consumes byte
streams and has no archive-format reader; this module supplies the
standard one so a crawl lands in the (url, warc_ts, html, text, lang)
pages shape without external libraries.

Format notes (public spec, warc-specifications + Common Crawl docs):

* A record is ``WARC/1.0\\r\\n`` + named headers (``Name: value``,
  continuation lines start with SP/HT) + ``\\r\\n`` + exactly
  ``Content-Length`` body bytes + ``\\r\\n\\r\\n``.
* ``response`` records carry a full HTTP message
  (``Content-Type: application/http;msgtype=response``): status line +
  HTTP headers + ``\\r\\n\\r\\n`` + payload (the HTML bytes we want).
* Digests are ``sha1:`` + RFC-4648 base32 of block / HTTP payload.

The parser is resilient the way a 100 TB ingest needs to be: malformed
records append a message to ``errors`` and the scanner *resyncs* on
the next ``WARC/`` magic instead of abandoning the file; truncated
tails are reported, not raised.
"""

import hashlib
import io
import re
import uuid
import zlib
from base64 import b32encode

GZIP_MAGIC = b"\x1f\x8b"
_CRLF = b"\r\n"


class WarcRecord:
    """One parsed WARC record.

    ``headers`` preserves order and original case; ``get`` is
    case-insensitive (first match).  ``offset`` is the byte offset of
    the record in the (compressed, if gzip) input — for ``.warc.gz``
    with member-per-record this is the member offset a CDX index would
    store.
    """

    __slots__ = ("headers", "body", "offset", "version")

    def __init__(self, headers, body, offset, version="WARC/1.0"):
        self.headers = headers
        self.body = body
        self.offset = offset
        self.version = version

    def get(self, name, default=None):
        low = name.lower()
        for k, v in self.headers:
            if k.lower() == low:
                return v
        return default

    @property
    def type(self):
        return self.get("WARC-Type", "")

    @property
    def url(self):
        u = self.get("WARC-Target-URI")
        # WARC/1.1 allows <...> bracketing of the URI
        if u and len(u) >= 2 and u[0] == "<" and u[-1] == ">":
            u = u[1:-1]
        return u

    @property
    def date(self):
        return self.get("WARC-Date")

    @property
    def record_id(self):
        return self.get("WARC-Record-ID")


def _parse_header_block(data, pos, end, errors, what="WARC"):
    """Parse ``Name: value`` lines from ``pos`` until the blank line.
    Returns (headers list, pos_after_blank_line) or (None, resync_pos)
    on a malformed block."""
    headers = []
    while pos < end:
        eol = data.find(_CRLF, pos, end)
        if eol < 0:
            errors.append("%s header block truncated" % what)
            return None, end
        line = data[pos:eol]
        pos = eol + 2
        if not line:
            return headers, pos
        if line[:1] in (b" ", b"\t"):          # continuation line
            if headers:
                k, v = headers[-1]
                headers[-1] = (k, v + " " + line.strip().decode(
                    "latin-1"))
            else:
                errors.append("%s continuation line before any header"
                              % what)
            continue
        colon = line.find(b":")
        if colon < 0:
            errors.append("%s header line without ':': %r"
                          % (what, line[:60]))
            continue
        headers.append((line[:colon].strip().decode("latin-1"),
                        line[colon + 1:].strip().decode("latin-1")))
    errors.append("%s header block ran off the buffer" % what)
    return None, end


def _resync(data, pos, end):
    nxt = data.find(b"WARC/", pos, end)
    return nxt if nxt >= 0 else end


def parse_warc_buffer(data, errors, base_offset=0):
    """Yield WarcRecord from a *plain* (already-decompressed) buffer
    holding one or more concatenated records.  Malformed content
    appends to ``errors`` and resyncs on the next ``WARC/`` magic."""
    pos, end = 0, len(data)
    while pos < end:
        # tolerate stray CRLFs between records
        while data[pos:pos + 2] == _CRLF:
            pos += 2
        if pos >= end:
            break
        if data[pos:pos + 5] != b"WARC/":
            errors.append("garbage before record at offset %d"
                          % (base_offset + pos))
            pos = _resync(data, pos + 1, end)
            continue
        rec_off = base_offset + pos
        eol = data.find(_CRLF, pos, end)
        if eol < 0:
            errors.append("truncated version line at offset %d"
                          % rec_off)
            return
        version = data[pos:eol].decode("latin-1")
        headers, pos = _parse_header_block(data, eol + 2, end, errors)
        if headers is None:
            pos = _resync(data, pos, end)
            continue
        rec = WarcRecord(headers, b"", rec_off, version)
        clen = rec.get("Content-Length")
        try:
            clen = int(clen)
            if clen < 0:
                raise ValueError
        except (TypeError, ValueError):
            errors.append("record at offset %d has bad Content-Length"
                          " %r" % (rec_off, clen))
            pos = _resync(data, pos, end)
            continue
        if pos + clen > end:
            errors.append("record at offset %d truncated: body wants"
                          " %d bytes, %d available"
                          % (rec_off, clen, end - pos))
            return
        rec.body = data[pos:pos + clen]
        pos += clen
        if data[pos:pos + 4] != _CRLF * 2:
            errors.append("record at offset %d missing CRLFCRLF"
                          " trailer" % rec_off)
            pos = _resync(data, pos, end)
        else:
            pos += 4
        yield rec


def iter_gzip_members(data):
    """Yield (compressed_offset, plain_bytes) per gzip member of a
    multi-member stream (the ``.warc.gz`` layout).

    Feeding is chunked over a memoryview with the chunk sized from
    the previous member (~25% headroom): handing ``data[pos:]`` to
    each member's decompressor would copy the whole remaining
    archive per member — O(members x size) memcpy, ~25 TB for a
    1 GB / 50k-member Common-Crawl archive — and ``unused_data``
    would copy it right back.  With sized chunks the only per-member
    copy is the overshoot inside the final chunk."""
    mv = memoryview(data)
    pos, end = 0, len(data)
    est = 1 << 14
    while pos < end:
        d = zlib.decompressobj(wbits=31)
        start = fed = pos
        parts = []
        chunk = max(4096, est + (est >> 2))
        while not d.eof and fed < end:
            nxt = min(end, fed + chunk)
            parts.append(d.decompress(mv[fed:nxt]))
            fed = nxt
            chunk = 1 << 16      # grow after a miss
        parts.append(d.flush())
        consumed = (fed - start) - len(d.unused_data)
        if consumed <= 0:        # defensive: no forward progress
            raise zlib.error("gzip member at %d consumed 0 bytes"
                             % pos)
        yield start, b"".join(parts)
        pos = start + consumed
        est = consumed


def iter_warc_records(data, errors=None):
    """Yield WarcRecord from raw file bytes — plain ``.warc`` or
    multi-member ``.warc.gz`` auto-detected.  ``errors`` (a list, if
    given) collects malformed-content messages."""
    if errors is None:
        errors = []
    if data[:2] == GZIP_MAGIC:
        try:
            for off, plain in iter_gzip_members(data):
                yield from parse_warc_buffer(plain, errors,
                                             base_offset=off)
        except zlib.error as e:
            errors.append("gzip stream error: %s" % e)
    else:
        yield from parse_warc_buffer(data, errors)


# ---------------------------------------------------------------- HTTP

def split_http_response(body, errors=None):
    """Split a ``response`` record body (a full HTTP message) into
    (status:int|None, http_headers:list[(name,value)], payload:bytes).
    A body with no header/payload separator is returned whole as the
    payload with status None (seen in the wild; the HTML is usually
    still in there)."""
    if errors is None:
        errors = []
    sep = body.find(b"\r\n\r\n")
    if sep < 0 or not body[:5].startswith(b"HTTP/"):
        if not body[:5].startswith(b"HTTP/"):
            errors.append("response body does not start with HTTP/")
        else:
            errors.append("HTTP message without header separator")
        return None, [], body
    head = body[:sep]
    payload = body[sep + 4:]
    eol = head.find(_CRLF)
    status_line = head[:eol if eol >= 0 else len(head)]
    parts = status_line.split(None, 2)
    status = None
    if len(parts) >= 2:
        try:
            status = int(parts[1])
        except ValueError:
            errors.append("bad HTTP status line %r" % status_line[:60])
    headers = []
    if eol >= 0:
        hdr_errors = []
        headers, _ = _parse_header_block(head + _CRLF * 2, eol + 2,
                                         len(head) + 4, hdr_errors)
        if headers is None:
            headers = []
        errors.extend(hdr_errors)
    return status, headers, payload


def http_content_type(headers):
    """(mime, charset) from an HTTP header list; ('', '') if absent.
    Both lowercased; charset unquoted."""
    for k, v in headers:
        if k.lower() == "content-type":
            mime, _, params = v.partition(";")
            charset = ""
            for p in params.split(";"):
                name, _, val = p.partition("=")
                if name.strip().lower() == "charset":
                    charset = val.strip().strip("'\"").lower()
            return mime.strip().lower(), charset
    return "", ""


# ------------------------------------------------------------- charset

# WHATWG encoding-standard label behavior for the labels a crawl
# actually sees: browsers decode latin-1-family labels as
# windows-1252 (its 0x80-0x9F block is what legacy pages really
# contain).  The reference parser itself recognizes only
# utf-8/iso-8859-1 (parser.c xml_set_encoding); transcoding wider
# charsets to UTF-8 at ingest is the WET-style normalization step
# that keeps the parser's input contract.
_WHATWG_ALIASES = {
    "latin-1": "windows-1252", "latin1": "windows-1252",
    "iso-8859-1": "windows-1252", "iso8859-1": "windows-1252",
    "l1": "windows-1252", "ascii": "windows-1252",
    "us-ascii": "windows-1252", "cp819": "windows-1252",
    "unicode": "utf-16le",
}

_META_WINDOW = 1024          # WHATWG prescan window

_RE_META_CHARSET = re.compile(
    br"""<meta\s[^>]*?(?:
            charset\s*=\s*["']?\s*([A-Za-z0-9_.:-]+)
          | content\s*=\s*["'][^"'>]*?charset=([A-Za-z0-9_.:-]+)
         )""", re.IGNORECASE | re.VERBOSE)
_RE_XML_DECL_ENC = re.compile(
    br"""<\?xml[^>]*?encoding\s*=\s*["']([A-Za-z0-9_.:-]+)["']""",
    re.IGNORECASE)


def _norm_charset(label):
    label = (label or "").strip().strip("'\"").lower()
    return _WHATWG_ALIASES.get(label, label)


def sniff_charset(payload, http_charset=""):
    """Effective charset of an HTML payload: BOM > HTTP header >
    meta prescan (first 1 KiB: ``<meta charset=..>`` or http-equiv
    content-type) > XML decl > '' (unknown -> caller defaults
    utf-8).  Labels normalized per the WHATWG alias table."""
    if payload[:3] == b"\xef\xbb\xbf":
        return "utf-8"
    if payload[:2] == b"\xff\xfe":
        return "utf-16le"
    if payload[:2] == b"\xfe\xff":
        return "utf-16be"
    if http_charset:
        return _norm_charset(http_charset)
    window = payload[:_META_WINDOW]
    m = _RE_META_CHARSET.search(window)
    if m:
        return _norm_charset(
            (m.group(1) or m.group(2)).decode("latin-1"))
    m = _RE_XML_DECL_ENC.match(window)
    if m:
        return _norm_charset(m.group(1).decode("latin-1"))
    return ""


def to_utf8(payload, charset):
    """(utf8_bytes, error|None).  UTF-8/unknown/empty charsets pass
    through BYTE-IDENTICAL (no decode/encode round trip — the parser
    owns UTF-8 recovery and its gripes are part of the reference
    byte-identity contract); everything else decodes with
    errors='replace' and re-encodes.  A BOM is stripped when
    transcoding (it is charset metadata, not content)."""
    cs = _norm_charset(charset)
    if cs in ("", "utf-8", "utf8"):
        return payload, None
    try:
        text = payload.decode(cs, errors="replace")
    except LookupError:
        return payload, "unknown charset %r" % charset
    if text[:1] == "\ufeff":
        text = text[1:]
    return text.encode("utf-8"), None


# --------------------------------------------------------------- write

def sha1_digest(data):
    """``sha1:<base32>`` — the digest format CC uses for
    WARC-Block-Digest / WARC-Payload-Digest."""
    return "sha1:" + b32encode(hashlib.sha1(data).digest()).decode(
        "ascii")


def deterministic_record_id(*parts):
    """urn:uuid deterministic in its inputs (md5-derived, RFC 4122
    version bits set) — keeps synthesized test archives byte-stable."""
    h = hashlib.md5(("\x00".join(parts)).encode(
        "utf-8", "surrogateescape")).digest()
    return "<urn:uuid:%s>" % uuid.UUID(bytes=h[:16], version=4)


def build_record(warc_type, body, url=None, date=None, record_id=None,
                 content_type=None, extra_headers=(),
                 payload_digest=None, version="WARC/1.0"):
    """Serialize one WARC record to bytes (uncompressed)."""
    headers = [("WARC-Type", warc_type)]
    if url:
        headers.append(("WARC-Target-URI", url))
    if date:
        headers.append(("WARC-Date", date))
    headers.append(("WARC-Record-ID", record_id or
                    deterministic_record_id(warc_type, url or "",
                                            date or "")))
    if content_type:
        headers.append(("Content-Type", content_type))
    headers.append(("WARC-Block-Digest", sha1_digest(body)))
    if payload_digest:
        headers.append(("WARC-Payload-Digest", payload_digest))
    headers.extend(extra_headers)
    headers.append(("Content-Length", str(len(body))))
    out = [version.encode("ascii"), _CRLF]
    for k, v in headers:
        out.append(("%s: %s" % (k, v)).encode("latin-1"))
        out.append(_CRLF)
    out.append(_CRLF)
    out.append(body)
    out.append(_CRLF * 2)
    return b"".join(out)


def build_response_record(url, date, payload,
                          http_content_type="text/html; charset=utf-8",
                          status=200, reason="OK", http_headers=(),
                          **kw):
    """A ``response`` record wrapping ``payload`` in an HTTP/1.1
    message — the shape CC stores fetched pages in."""
    head = ["HTTP/1.1 %d %s" % (status, reason),
            "Content-Type: %s" % http_content_type]
    head.extend("%s: %s" % (k, v) for k, v in http_headers)
    head.append("Content-Length: %d" % len(payload))
    body = ("\r\n".join(head) + "\r\n\r\n").encode("latin-1") + payload
    return build_record(
        "response", body, url=url, date=date,
        content_type="application/http;msgtype=response",
        payload_digest=sha1_digest(payload), **kw)


def gzip_member(record_bytes):
    """Compress one record as its own gzip member (deterministic:
    mtime 0, no filename) — the CC member-per-record convention."""
    buf = io.BytesIO()
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    # zlib wbits=31 writes a minimal gzip header with mtime=0
    buf.write(co.compress(record_bytes))
    buf.write(co.flush())
    return buf.getvalue()


def write_warc(fileobj, records, compress=True):
    """Write serialized records (bytes, from build_*) to a file
    object; member-per-record gzip when ``compress``."""
    n = 0
    for rec in records:
        fileobj.write(gzip_member(rec) if compress else rec)
        n += 1
    return n


# ------------------------------------------------------- range reads

class _FileWindow:
    """Rolling byte window over a seekable file, for member-range
    scans that must not hold a whole oversized archive in memory."""

    __slots__ = ("f", "base", "buf", "eof")

    def __init__(self, f, pos):
        self.f = f
        self.base = pos
        self.buf = bytearray()   # dropping its head moves no bytes
        self.eof = False
        f.seek(pos)

    def ensure(self, upto_rel, chunk=1 << 20):
        while len(self.buf) < upto_rel and not self.eof:
            b = self.f.read(max(chunk, upto_rel - len(self.buf)))
            if not b:
                self.eof = True
                break
            self.buf += b

    def drop(self, n):
        if n:
            del self.buf[:n]
            self.base += n


def _member_at(win, rel):
    """Decompress the gzip member starting at window-relative ``rel``.
    Returns (plain_bytes, consumed_compressed, complete)."""
    d = zlib.decompressobj(wbits=31)
    parts = []
    fed = rel
    step = 1 << 16
    while not d.eof:
        win.ensure(fed + step)
        chunk = win.buf[fed:fed + step]
        if not chunk:
            break
        parts.append(d.decompress(chunk))
        fed += len(chunk)
        step = 1 << 20
    consumed = (fed - rel) - len(d.unused_data)
    return b"".join(parts), consumed, d.eof


def _find_member(win, rel, limit=None):
    """First offset >= ``rel`` (window-relative) that starts a REAL
    gzip member of a .warc.gz — i.e. whose decompressed prefix is a
    WARC version line.  The magic-byte triple can occur inside
    compressed payloads, so every candidate is validated by decoding
    a prefix; a false positive either fails zlib or decodes to
    non-"WARC/".  Returns -1 when no member starts before EOF — or
    before ``limit`` (window-relative): a range task must never scan
    past its own range end looking for a member it would not own
    anyway (review r8: a member larger than the range otherwise made
    every interior task buffer the rest of the file)."""
    while True:
        if limit is not None and rel >= limit:
            return -1
        win.ensure(rel + (1 << 20))
        # a member starting just before ``limit`` is the range's own:
        # its 3-byte magic may end up to 2 bytes past it
        hi = len(win.buf) if limit is None else min(len(win.buf),
                                                    limit + 2)
        idx = win.buf.find(GZIP_MAGIC + b"\x08", rel, hi)
        if idx < 0:
            if win.eof or (limit is not None and
                           len(win.buf) >= limit + 2):
                return -1
            # keep a 2-byte overlap so a magic split across the
            # window growth boundary is still found
            rel = max(rel, len(win.buf) - 2)
            win.ensure(len(win.buf) + (1 << 20))
            continue
        if _is_member(win, idx):
            return idx
        rel = idx + 1


def _is_member(win, rel):
    """Whether a real member starts at window-relative ``rel``: its
    decompressed prefix is a WARC version line."""
    d = zlib.decompressobj(wbits=31)
    out = b""
    fed = rel
    while len(out) < 5 and not d.eof:
        win.ensure(fed + 65536)
        chunk = win.buf[fed:fed + 65536]
        if not chunk:
            return False
        try:
            out += d.decompress(chunk)
        except zlib.error:
            return False
        fed += len(chunk)
    return out[:5] == b"WARC/"


def iter_warc_records_file_range(f, start, end, errors=None):
    """Yield WarcRecord for every gzip member whose COMPRESSED offset
    lies in [start, end) of an open ``.warc.gz`` file — the split
    path of oversized archives and the crawl pass's reader (one Spark
    task per range; a member straddling ``end`` belongs to the range
    holding its first byte, so ranges tile the file exactly, corrupt
    files included).  Unlike the whole-file reader, a corrupt member
    (bad deflate data or CRC, or truncated) is reported in ``errors``
    and skipped: the reader resyncs to the next validated member
    instead of abandoning the file, and never raises.  A bad member is
    reported once, by the range that owns it or, when it is the first
    member of its range, by the range holding the member before it."""
    if errors is None:
        errors = []
    win = _FileWindow(f, start)
    if start == 0:
        rel = 0
    else:
        rel = _find_member(win, 0, limit=end - win.base)
        if rel < 0:
            return
    while win.base + rel < end:
        win.drop(rel)
        rel = 0
        try:
            plain, consumed, complete = _member_at(win, 0)
        except zlib.error:       # bad deflate data or CRC: resync
            plain, consumed, complete = b"", 0, False
        if not complete or consumed <= 0:
            errors.append("truncated/invalid gzip member at %d"
                          % win.base)
            nxt = _find_member(win, 1, limit=end - win.base)
            if nxt < 0:
                return
            rel = nxt
            continue
        yield from parse_warc_buffer(plain, errors,
                                     base_offset=win.base)
        rel = consumed
        if win.base + rel >= end:
            # the member after this range's last one lies in a later
            # range, whose resync cannot tell a bad member from a magic
            # inside this one's payload and skips it unreported: only
            # this range knows where it starts
            win.ensure(rel + 1)
            if len(win.buf) > rel and not _is_member(win, rel):
                errors.append("truncated/invalid gzip member at %d"
                              % (win.base + rel))
