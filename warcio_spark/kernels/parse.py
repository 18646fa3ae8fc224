"""WARC/ARC record parsing kernel: full-file bytes -> list of record dicts.

This is the batch re-expression of the reference's pull pipeline
(warcio/archiveiterator.py:102-140 + warcio/recordloader.py:72-156):
byte source -> gzip-member split -> record-boundary split -> header parse ->
length limit -> digest verify -> payload decode. It runs inside the
mapInArrow task of sources/warc.py on Spark executors (one call per byte
extent), and standalone in unit tests where its output is compared
field-by-field against warcio itself.

Semantics studied from the reference (path:line cited per function), written
fresh against flat byte cursors instead of stream wrappers.
"""

from __future__ import annotations

import hashlib
import uuid

from .chrono import ts14_to_iso
from .digests import digest_b32, digests_match, split_digest
from .payload import extract_content_ex, is_gzip, split_gzip_members
from .textcodec import decode_fallback

WARC_VERSIONS = ("WARC/1.1", "WARC/1.0", "WARC/0.17", "WARC/0.18")
HTTP_VERSIONS = ("HTTP/1.0", "HTTP/1.1")
HTTP_VERBS = (
    "GET", "HEAD", "POST", "PUT", "DELETE", "TRACE", "OPTIONS", "CONNECT", "PATCH",
)
HTTP_REC_TYPES = ("response", "request", "revisit")
HTTP_SCHEMES = ("http:", "https:")

ARC_FIELDS = ("uri", "ip-address", "archive-date", "content-type", "length")
ARC2WARC_FIELDS = (
    "WARC-Target-URI", "WARC-IP-Address", "WARC-Date", "Content-Type", "Content-Length",
)

INVALID_GZIP_ERR = (
    "non-chunked gzip file detected, gzip block continues beyond single record"
)


class ArchiveParseError(Exception):
    """Equivalent of the reference's ArchiveLoadFailed."""


class _HeaderMismatch(Exception):
    """Statusline did not match the expected format prefixes."""

    def __init__(self, statusline):
        super().__init__(statusline)
        self.statusline = statusline


class _Cursor:
    """Byte cursor with readline over an in-memory blob."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def readline(self, limit: int | None = None) -> bytes:
        end = len(self.data) if limit is None else min(len(self.data), self.pos + limit)
        nl = self.data.find(b"\n", self.pos, end)
        stop = nl + 1 if nl != -1 else end
        line = self.data[self.pos : stop]
        self.pos = stop
        return line

    def read(self, n: int | None = None) -> bytes:
        stop = len(self.data) if n is None else min(len(self.data), self.pos + n)
        out = self.data[self.pos : stop]
        self.pos = stop
        return out

    def at_end(self) -> bool:
        return self.pos >= len(self.data)


def header_get(headers, name, default=None):
    """First header value with case-insensitive name (order + dups preserved,
    warcio/statusandheaders.py:34-44)."""
    low = name.lower()
    for hname, hvalue in headers:
        if hname.lower() == low:
            return hvalue
    return default


def header_replace(headers, name, value):
    """Replace *last* matching header in place, or append
    (warcio/statusandheaders.py:49-62)."""
    low = name.lower()
    for i in range(len(headers) - 1, -1, -1):
        if headers[i][0].lower() == low:
            headers[i] = (headers[i][0], value)
            return
    headers.append((name, value))


def split_format_prefix(statusline: str, prefixes):
    """Case-insensitive prefix split, first match wins
    (warcio/statusandheaders.py:310-320)."""
    upper = statusline.upper()
    for prefix in prefixes:
        if upper.startswith(prefix):
            return upper[: len(prefix)], statusline[len(prefix) :]
    return None


def _read_header_fields(cur: _Cursor):
    """Read `Name: value` lines until blank, with continuation-line folding
    (warcio/statusandheaders.py:274-298). Returns (headers, bytes_consumed).

    Hot path, two tiers. FAST: the whole block to the standard
    CRLFCRLF/LFLF terminator in two ``find`` calls, ONE utf-8 decode and
    ONE split — the shape every well-formed WARC/HTTP header block has.
    Any deviation (no terminator, leading blank line, an interior line
    that rstrips to nothing, mixed LF-line/CRLF-blank endings, invalid
    utf-8 anywhere in the block — per-line decode falls back to
    iso-8859-1 for exactly the bad lines) bails to the original per-line
    loop, so outputs stay byte-identical (the field-exact parse oracle
    pins equivalence; fast-vs-slow parity is pinned by
    test_header_fields_fast_path_matches_slow). The earlier per-line
    inlining measured +17% (19.8k -> 23.3k rec/s); block-at-once adds
    +9% whole-parse on a gzip-member corpus (zlib decompress, untouched,
    is ~40% of that loop) — ~30% off the header-scan itself."""
    data = cur.data
    pos = cur.pos
    start = pos
    n = len(data)
    if pos < n and data[pos] not in (0x0A, 0x0D):
        e1 = data.find(b"\r\n\r\n", pos)
        e2 = data.find(b"\n\n", pos)
        if e1 != -1 and (e2 == -1 or e1 < e2):
            end, tlen = e1, 4
        else:
            end, tlen = e2, 2
        if end != -1:
            try:
                block = data[pos:end].decode("utf-8")
            except UnicodeDecodeError:
                block = None
            if block is not None:
                lines = [ln.rstrip() for ln in block.split("\n")]
                if all(lines):
                    cur.pos = end + tlen
                    return (_fold_header_lines(lines),
                            end + tlen - start)
    lines = []
    while pos < n:
        nl = data.find(b"\n", pos)
        stop = nl + 1 if nl != -1 else n
        line = decode_fallback(data[pos:stop]).rstrip()
        pos = stop
        if not line:
            break
        lines.append(line)
    cur.pos = pos
    return _fold_header_lines(lines), pos - start


def _fold_header_lines(lines):
    """`Name: value` split + continuation-line folding over rstripped,
    non-empty lines — shared by both _read_header_fields tiers. Folded
    continuations are rare, so the scan runs a no-lookahead loop and
    only falls back to the folding loop when some line actually starts
    with the fold characters."""
    headers = []
    for line in lines:
        if line[0] in " \t":
            break
        name, sep, value = line.partition(":")
        if sep:
            headers.append((name.rstrip(" \t"), value.lstrip()))
    else:
        return headers

    headers = []
    i = 0
    L = len(lines)
    while i < L:
        line = lines[i]
        i += 1
        parts = line.split(":", 1)
        if len(parts) == 2:
            name = parts[0].rstrip(" \t")
            value = parts[1].lstrip()
        else:
            name, value = parts[0], None
        # continuation-line folding: collected lines are rstripped and
        # non-empty, so the bare [0] test matches the original
        # "nxt and nxt[0] in (' ', '\t')" guard exactly
        while i < L and lines[i][0] in " \t":
            if value is not None:
                value += lines[i]
            i += 1
        if value is not None:
            headers.append((name, value))
    return headers


def _parse_status_headers(cur: _Cursor, statusline_bytes, prefixes, verify):
    """Parse one status+headers block. Returns a dict with protocol,
    statusline, headers, total_len; raises EOFError at stream end and
    _HeaderMismatch when verify is on and no prefix matches
    (warcio/statusandheaders.py:236-308)."""
    raw = statusline_bytes if statusline_bytes is not None else cur.readline()
    full = decode_fallback(raw)
    statusline = full.rstrip()
    total = len(full)

    if total == 0:
        raise EOFError()
    if not statusline:
        return {"protocol": "", "statusline": "", "headers": [], "total_len": total}

    if verify:
        split = split_format_prefix(statusline, prefixes)
        if split is None:
            raise _HeaderMismatch(full)
        protocol, rest = split
    else:
        parts = statusline.split(" ", 1)
        protocol = parts[0]
        rest = parts[1] if len(parts) > 1 else ""

    headers, consumed = _read_header_fields(cur)
    return {
        "protocol": protocol,
        "statusline": rest.strip(),
        "headers": headers,
        "total_len": total + consumed,
    }


def _parse_arc_headerline(cur: _Cursor, statusline_bytes, arc2warc, det_id=None):
    """Parse the 5-field space-separated ARC header line, optionally mapping
    to WARC headers (warcio/recordloader.py:272-373). Returns
    (rec_type, headers, sub_len, format)."""
    raw = statusline_bytes if statusline_bytes is not None else cur.readline()
    headerline = decode_fallback(raw)
    if len(headerline) == 0:
        raise EOFError()
    headerline = headerline.rstrip()

    total_read = 0
    if headerline.startswith("filedesc://"):
        # version + header-spec lines are part of the declared length
        total_read += len(decode_fallback(cur.readline()))
        total_read += len(decode_fallback(cur.readline()))

    parts = headerline.rsplit(" ", len(ARC_FIELDS) - 1)
    if len(parts) != len(ARC_FIELDS):
        raise _HeaderMismatch(headerline)

    if not arc2warc:
        headers = list(zip(ARC_FIELDS, parts))
        rec_type = "arc_header" if parts[0].startswith("filedesc://") else "response"
        return rec_type, headers, total_read, "arc"

    # arc2warc mapping (warcio/recordloader.py:336-373)
    if headerline.startswith("filedesc://"):
        warc_type = "warcinfo"
    else:
        warc_type = "response"
        parts[3] = "application/http;msgtype=response"
    headers = [("WARC-Type", warc_type), ("WARC-Record-ID", det_id or make_record_id())]
    for name, value in zip(ARC2WARC_FIELDS, parts):
        if name == "WARC-Date":
            value = ts14_to_iso(value)
        if warc_type == "warcinfo" and name == "WARC-Target-URI":
            name, value = "WARC-Filename", value[len("filedesc://") :]
        headers.append((name, value))
    return warc_type, headers, total_read, "warc"


def make_record_id(id_=None) -> str:
    return "<urn:uuid:{0}>".format(id_ or uuid.uuid4())


def deterministic_record_id(filename: str, offset: int) -> str:
    """uuid5 over (filename, offset) — reproducible ids for synthesized headers."""
    return make_record_id(uuid.uuid5(uuid.NAMESPACE_URL, f"{filename}#{offset}"))


def _fix_target_uri(headers):
    """wget '<uri>' bug strip + space -> %20 (warcio/recordloader.py:245-268)."""
    uri = header_get(headers, "WARC-Target-URI")
    if uri is not None and uri.startswith("<") and uri.endswith(">"):
        uri = uri[1:-1]
        header_replace(headers, "WARC-Target-URI", uri)
    if uri is not None and " " in uri:
        uri = uri.replace(" ", "%20")
        header_replace(headers, "WARC-Target-URI", uri)
    return uri


def _check_digests(rec_type, rec_headers, body, payload, mode,
                   verify_values=True, payload_only=False):
    """Verify WARC-Block-Digest / WARC-Payload-Digest over the record body /
    payload (warcio/digestverifyingreader.py:38-108). Returns
    (passed: bool|None, problems: list[str]).

    ``verify_values=False`` mirrors a lazily-read record: only the
    algorithm-name validity problems fire (they fire at reader-construction
    time in the reference). ``payload_only`` mirrors the zero-length-body
    path where begin_payload compares the payload digest but the block
    digester never updates.
    """
    problems = []
    passed = None

    payload_digest = header_get(rec_headers, "WARC-Payload-Digest")
    block_digest = header_get(rec_headers, "WARC-Block-Digest")
    if rec_type == "revisit":
        payload_digest = block_digest = None
    if header_get(rec_headers, "WARC-Segment-Number") is not None:
        payload_digest = None

    def check_algo(claimed, label):
        nonlocal passed
        if not claimed:
            return False
        try:
            hashlib.new(split_digest(claimed)[0])
            return True
        except ValueError:
            problems.append("unknown hash algorithm name in {} digest".format(label))
            passed = False
            return False

    if not verify_values or payload_only:
        block_ok_algo = check_algo(block_digest, "block")
        payload_ok_algo = check_algo(payload_digest, "payload")
        if verify_values and payload_only and payload_ok_algo:
            computed = digest_b32(payload, split_digest(payload_digest)[0])
            ok = digests_match(computed, payload_digest)
            if ok is False:
                problems.append("payload digest failed: {}".format(payload_digest))
                passed = False
            elif ok is True and passed is not False:
                passed = True
        if problems and mode == "raise":
            raise ArchiveParseError("; ".join(problems))
        return passed, problems

    def verify(claimed, data, label):
        nonlocal passed
        if not claimed:
            return
        try:
            algo, _ = split_digest(claimed)
            computed = digest_b32(data, algo)
        except ValueError:
            # unknown algo is a recorded problem => record fails the check
            # (warcio/digestverifyingreader.py:63-76 via DigestChecker.problem)
            problems.append("unknown hash algorithm name in {} digest".format(label))
            passed = False
            return
        ok = digests_match(computed, claimed)
        if ok is False:
            problems.append("{} digest failed: {}".format(label, claimed))
            passed = False
        elif ok is True and passed is not False:
            passed = True

    verify(block_digest, body, "block")
    verify(payload_digest, payload, "payload")

    if problems and mode == "raise":
        raise ArchiveParseError("; ".join(problems))
    return passed, problems


def _parse_one(cur: _Cursor, statusline_bytes=None, known_format=None,
               arc2warc=False, parse_http=True, verify_http=False,
               check_digests=False, filename="", offset=0,
               ensure_http_headers=False, decode_content=True):
    """Parse one record starting at the cursor. Returns a record dict.

    Mirrors warcio/recordloader.py:72-156 (parse_record_stream).
    ``decode_content=False`` leaves ``content`` None and skips the
    de-chunk/decompress unless digest verification needs to know whether
    the decode drains the body (the reference's lazy ``content_stream()``).
    """
    fmt = None
    rec_headers = None
    sub_len = 0
    hmap = None  # lowered first-match header map, WARC branch only

    if known_format != "arc":
        try:
            block = _parse_status_headers(cur, statusline_bytes, WARC_VERSIONS, True)
            fmt = "warc"
            rec_headers = block["headers"]
            warc_protocol = block["protocol"]
        except _HeaderMismatch as mismatch:
            if known_format == "warc":
                raise ArchiveParseError(
                    "Invalid WARC record, first line: " + str(mismatch.statusline)
                )
            statusline_bytes = mismatch.statusline  # str passes through decode
            fmt = None

    if fmt is None:
        try:
            rec_type, rec_headers, sub_len, fmt = _parse_arc_headerline(
                cur, statusline_bytes, arc2warc,
                det_id=deterministic_record_id(filename, offset),
            )
        except _HeaderMismatch as mismatch:
            prefix = ("Invalid ARC record, first line: " if known_format == "arc"
                      else "Unknown archive format, first line: ")
            raise ArchiveParseError(prefix + str(mismatch.statusline))
        if fmt == "arc":
            uri = header_get(rec_headers, "uri")
            length_str = header_get(rec_headers, "length")
            content_type = header_get(rec_headers, "content-type")
        else:  # arc2warc -> warc-shaped headers
            uri = header_get(rec_headers, "WARC-Target-URI")
            length_str = header_get(rec_headers, "Content-Length")
            content_type = header_get(rec_headers, "Content-Type")
        warc_protocol = "WARC/1.0"
    else:
        # one lowered pass instead of four first-match scans (hot path;
        # first value wins exactly like header_get)
        hmap = {}
        for _hn, _hv in rec_headers:
            _k = _hn.lower()
            if _k not in hmap:
                hmap[_k] = _hv
        rec_type = hmap.get("warc-type")
        uri = hmap.get("warc-target-uri")
        if uri is not None and (uri.startswith("<") or " " in uri):
            uri = _fix_target_uri(rec_headers)
        length_str = hmap.get("content-length")
        content_type = hmap.get("content-type")
        sub_len = 0

    # length arithmetic with err->0 (warcio/recordloader.py:111-124)
    length = None
    if length_str is not None:
        try:
            length = int(length_str) - sub_len
            if length < 0:
                length = 0
        except (ValueError, TypeError):
            length = 0

    body = cur.read(length) if length is not None else cur.read()

    # http header parse gating (warcio/recordloader.py:173-200)
    http_protocol = http_statusline = None
    http_headers = None
    payload = body
    payload_length = -1
    if (
        parse_http
        and length != 0
        and rec_type in HTTP_REC_TYPES
        and uri is not None
        and uri.startswith(HTTP_SCHEMES)
    ):
        body_cur = _Cursor(body)
        prefixes = HTTP_VERBS if rec_type == "request" else HTTP_VERSIONS
        try:
            block = _parse_status_headers(body_cur, None, prefixes, verify_http)
            payload = body[body_cur.pos :]
            if block["statusline"] or block["headers"]:
                http_protocol = block["protocol"]
                http_statusline = block["statusline"]
                http_headers = block["headers"]
                if length:
                    payload_length = length - body_cur.pos
            # an empty status+headers block is "falsy": treated as no http
            # headers downstream, but its bytes stay consumed
            # (StatusAndHeaders.__bool__, warcio/statusandheaders.py:138-141)
        except EOFError:
            if rec_type != "revisit":
                raise
        except _HeaderMismatch as mismatch:
            raise ArchiveParseError(
                "Expected Status Line starting with {0} - Found: {1}".format(
                    list(prefixes), mismatch.statusline
                )
            )

    # synthesize default http headers for replay (warcio/recordloader.py:202-210)
    if http_headers is None and ensure_http_headers:
        http_protocol = "HTTP/1.0"
        http_statusline = "200 OK"
        http_headers = []
        if content_type:
            http_headers.append(("Content-Type", content_type))
        if length is not None and length >= 0:
            http_headers.append(("Content-Length", str(length)))

    content, raw_consumed = payload, True
    if http_headers is not None and (decode_content or check_digests):
        content, raw_consumed = extract_content_ex(
            payload,
            header_get(http_headers, "content-encoding"),
            header_get(http_headers, "transfer-encoding"),
        )
    if not decode_content:
        content = None

    digest_ok, digest_problems = (None, [])
    if check_digests and fmt == "warc" and length is not None:
        # digest comparison in the reference fires only once the limited
        # stream is fully drained; a content decode that stops early (e.g.
        # trailing bytes after the final chunk) or a body starved of bytes
        # (record spanning gzip members / truncated file) leaves digests
        # unchecked — only algorithm-name problems fire eagerly
        starved = len(body) < length
        digest_ok, digest_problems = _check_digests(
            rec_type, rec_headers, body, payload, check_digests,
            verify_values=raw_consumed and not starved,
            payload_only=(length == 0),
        )

    return {
        "format": fmt,
        "rec_type": rec_type,
        "rec_headers": rec_headers,
        "warc_protocol": warc_protocol,
        "url": uri,
        "http_protocol": http_protocol,
        "http_statusline": http_statusline,
        "http_headers": http_headers,
        "content_type": content_type,
        "length": length,
        "payload_length": payload_length,
        "payload": payload,
        "content": content,
        "digest_ok": digest_ok,
        "digest_problems": digest_problems,
        "record_id": (
            hmap.get("warc-record-id") if hmap is not None
            else header_get(rec_headers, "WARC-Record-ID") if fmt == "warc"
            else None
        ),
        "warc_date": (
            hmap.get("warc-date") if hmap is not None
            else header_get(rec_headers, "WARC-Date") if fmt == "warc"
            else header_get(rec_headers, "archive-date")
        ),
        "filename": filename,
    }


def _consume_blanklines(cur: _Cursor):
    """Skip blank lines between records; a non-blank *first* line means a bad
    Content-Length (warcio/archiveiterator.py:155-193). Returns
    (next_statusline_bytes|None, empty_size, errs)."""
    empty_size = 0
    errs = 0
    first = True
    while True:
        line = cur.readline()
        if len(line) == 0:
            return None, empty_size, errs
        stripped = line.rstrip()
        if len(stripped) == 0 or first:
            empty_size += len(line)
            if len(stripped) != 0:
                errs += 1
            first = False
            continue
        return line, empty_size, errs


def parse_warc_bytes(data: bytes, filename: str = "", known_format=None,
                     arc2warc=False, parse_http=True, verify_http=False,
                     check_digests=False, start_offset=0, max_records=None,
                     ensure_http_headers=False, decode_content=True):
    """Parse a whole WARC/ARC file (gzip-member or plain) into record dicts.

    Returns {"records": [...], "err_count": int, "error": str|None}. Records
    carry member (offset, rec_length) matching the reference's member_info
    (warcio/archiveiterator.py:209-239). A file-level error (invalid gzip,
    unknown format) stops the parse; records before it are kept — mirroring
    the iterator which yields until it raises. ``decode_content=False``
    (a headers-only read) leaves every ``content`` None, see _parse_one.

    Scale note: one call per byte extent (a whole file, a split range or
    one index entry), executed inside the mapInArrow task of
    sources/warc.py; the gzip-member property is what makes the ranged
    extents possible.
    """
    records = []
    err_count = 0
    error = None
    pin_format = known_format

    def done():
        return max_records is not None and len(records) >= max_records

    blob = data[start_offset:] if start_offset else data
    members = split_gzip_members(blob) if is_gzip(blob) else None
    if members:
        for member_off, comp_len, decoded in members:
            if done() or error:
                break
            cur = _Cursor(decoded)
            first_in_member = True
            while not cur.at_end():
                try:
                    rec = _parse_one(
                        cur, None, pin_format, arc2warc, parse_http,
                        verify_http, check_digests, filename,
                        start_offset + member_off, ensure_http_headers,
                        decode_content,
                    )
                except EOFError:
                    break
                except ArchiveParseError as e:
                    error = str(e)
                    break
                if not first_in_member:
                    # a second record inside one gzip member: invalid for
                    # seekable replay (warcio/archiveiterator.py:35-48)
                    error = INVALID_GZIP_ERR
                    break
                rec["offset"] = start_offset + member_off
                rec["rec_length"] = comp_len
                records.append(rec)
                first_in_member = False
                if done():
                    break
                if not arc2warc and pin_format is None:
                    pin_format = rec["format"]
                _, _, errs = _consume_blanklines(cur)
                err_count += errs
    else:
        cur = _Cursor(data, start_offset)
        next_line = None
        while True:
            rec_start = (cur.pos - len(next_line)) if next_line else cur.pos
            try:
                rec = _parse_one(
                    cur, next_line, pin_format, arc2warc, parse_http,
                    verify_http, check_digests, filename, rec_start,
                    ensure_http_headers, decode_content,
                )
            except EOFError:
                break
            except ArchiveParseError as e:
                error = str(e)
                break
            if not arc2warc and pin_format is None:
                pin_format = rec["format"]
            next_line, empty_size, errs = _consume_blanklines(cur)
            err_count += errs
            rec_end = cur.pos - (len(next_line) if next_line else 0)
            rec["offset"] = rec_start
            rec["rec_length"] = (rec_end - rec_start) - empty_size
            records.append(rec)
            if done():
                break
            if next_line is None and cur.at_end():
                break

    return {"records": records, "err_count": err_count, "error": error}
