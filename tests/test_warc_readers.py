"""The three WARC readers over a self-made corpus (no reference files).

The corpus is written with ``kernels/build.py``: a multi-member
``.warc.gz``, the same records as a plain ``.warc``, and a ``.warc.gz``
whose last record declares a Content-Length shorter than its block, so one
non-blank line is left over after it (one parse error, no hard error), and
an empty ``.warc.gz`` (no records, no error).
``read_warc`` over the whole corpus is the oracle for the index-driven and
the ranged reader, and the full read is the oracle for a headers-only read.
"""

import gzip
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from warcio_spark.kernels.build import (
    build_record,
    build_revisit_record,
    build_warcinfo_record,
    serialize_record,
    serialize_records,
)
from warcio_spark.kernels.parse import parse_warc_bytes
from warcio_spark.sources import read_cdxj, read_warc, read_warc_entries
from warcio_spark.sources.warc import read_warc_ranges

DATE = "2024-01-02T03:04:05Z"
GZ, PLAIN, TRUNC = "multi.warc.gz", "plain.warc", "trunc.warc.gz"
EMPTY = "empty.warc.gz"
#: the last line of the truncated record's body, cut off by Content-Length
CUT = b"this line is past the declared Content-Length"


def _http(status, headers, body):
    return (b"HTTP/1.1 " + status + b"\r\n"
            + b"".join(h + b"\r\n" for h in headers) + b"\r\n" + body)


def _chunked(body, size=7):
    parts = [body[i:i + size] for i in range(0, len(body), size)]
    return b"".join(b"%x\r\n%s\r\n" % (len(p), p) for p in parts) + b"0\r\n\r\n"


def _records(n):
    """Deterministic records: warcinfo, then n captures cycling through a
    plain, a gzip-encoded and a chunked response, a request, a revisit
    and a non-http resource."""
    recs = [build_warcinfo_record("corpus.warc.gz", {"software": "tests"},
                                  record_id="<urn:uuid:info>", warc_date=DATE)]
    for i in range(n):
        url = "http://host%d.example.com/page/%d" % (i % 5, i)
        html = b"<html><body>page %d %s</body></html>" % (i, b"x" * (i % 17))
        kind = i % 6
        rid = "<urn:uuid:rec-%d>" % i
        if kind == 0:
            payload = _http(b"200 OK", [b"Content-Type: text/html"], html)
        elif kind == 1:
            payload = _http(b"200 OK", [b"Content-Type: text/html",
                                        b"Content-Encoding: gzip"],
                            gzip.compress(html, mtime=0))
        elif kind == 2:
            payload = _http(b"200 OK", [b"Content-Type: text/plain",
                                        b"Transfer-Encoding: chunked"],
                            _chunked(html))
        elif kind == 3:
            recs.append(build_record(
                url, "request", payload=b"GET /page/%d HTTP/1.1\r\nHost: "
                b"host%d.example.com\r\n\r\n" % (i, i % 5),
                record_id=rid, warc_date=DATE))
            continue
        elif kind == 4:
            recs.append(build_revisit_record(
                url, "sha1:B6QJ6BNJ3R4B23XXMRKZKHLPGJY2VE4O", url, DATE,
                http_headers=("HTTP/1.1", "304 Not Modified", []),
                record_id=rid, warc_date=DATE))
            continue
        else:
            recs.append(build_record(
                "dns:host%d.example.com" % i, "resource",
                payload=b"host%d.example.com\t300\tIN\tA\t10.0.0.%d\n" % (i, i),
                warc_content_type="text/dns", record_id=rid, warc_date=DATE))
            continue
        recs.append(build_record(url, "response", payload=payload,
                                 record_id=rid, warc_date=DATE))
    return recs


def _truncated_member():
    """One gzip member whose response declares a Content-Length that stops
    one line short of the block: that line is left over after the record."""
    rec = build_record(
        "http://host0.example.com/truncated", "response",
        payload=_http(b"200 OK", [b"Content-Type: text/plain"],
                      b"first line\n" + CUT),
        record_id="<urn:uuid:truncated>", warc_date=DATE)
    raw = serialize_record(rec)
    head, sep, rest = raw.partition(b"Content-Length: ")
    length, eol, tail = rest.partition(b"\r\n")
    short = str(int(length) - len(CUT)).encode()
    return gzip.compress(head + sep + short + eol + tail, mtime=0)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("readers")
    recs = _records(60)
    (d / GZ).write_bytes(serialize_records(recs, gzip=True))
    (d / PLAIN).write_bytes(serialize_records(recs))
    (d / TRUNC).write_bytes(
        serialize_records(_records(7), gzip=True) + _truncated_member())
    (d / EMPTY).write_bytes(b"")
    return d


@pytest.fixture(scope="module")
def full(spark, corpus):
    """read_warc over the corpus, keyed by (filename, offset)."""
    rows = read_warc(spark, str(corpus / "*")).collect()
    return {(r["filename"], r["offset"]): r.asDict() for r in rows}


def test_corpus_shape(corpus, full):
    """The corpus is what the tests below rely on: every file parses in
    full, and only the truncated file has a parse error (count 1)."""
    for name in (GZ, PLAIN, TRUNC):
        res = parse_warc_bytes((corpus / name).read_bytes())
        assert res["error"] is None, name
        assert res["err_count"] == (1 if name == TRUNC else 0), name
        rows = [r for (f, _), r in full.items() if f == name]
        assert len(rows) == len(res["records"]) > 8, name
        assert {r["file_err_count"] for r in rows} == {res["err_count"]}
    types = {r["rec_type"] for r in full.values()}
    assert types == {"warcinfo", "response", "request", "revisit", "resource"}


def _index_entries(spark, corpus, tmp_path):
    from warcio_spark.operators.indexer import index_cdxj

    idx = index_cdxj(read_warc(spark, str(corpus / "*")))
    out = tmp_path / "corpus.cdxj"
    out.write_text("\n".join(r.line for r in idx.collect()) + "\n")
    return read_cdxj(spark, str(out))


def test_entries_equal_read_warc_rows(spark, corpus, full, tmp_path):
    """read_warc_entries over the corpus's own CDXJ index returns, for the
    clean files, exactly the rows read_warc returns for those members,
    every column. On the truncated file the error fields describe each
    entry's own member: the truncated record's entry has the one error,
    every other entry none — while read_warc reports the file's count on
    all its rows."""
    entries = _index_entries(spark, corpus, tmp_path)
    got = read_warc_entries(spark, entries, base=str(corpus)).collect()
    assert len(got) == entries.count() > 0
    assert {r["filename"] for r in got} == {GZ, PLAIN, TRUNC}
    last_trunc = max(o for f, o in full if f == TRUNC)
    for r in got:
        r = r.asDict()
        want = full[(r["filename"], r["offset"])]
        if r["filename"] != TRUNC:
            assert r == want
            continue
        own = 1 if r["offset"] == last_trunc else 0
        assert r["file_err_count"] == own
        assert r["file_error"] is None
        assert want["file_err_count"] == 1
        same = {k: v for k, v in r.items() if k != "file_err_count"}
        assert same == {k: want[k] for k in same}
    assert any(r["offset"] == last_trunc and r["filename"] == TRUNC
               for r in got)


def test_cdx11_fields_equal_cdxj(spark, corpus):
    """index_cdx11 renders the captures index_cdxj renders: each line's
    11 fields are the same capture's cdxj urlkey, timestamp and json
    fields in CDX11_HEADER order (bare base32 digest, redirect and robot
    flags '-'), with '-' wherever the cdxj json drops a field."""
    import json

    from warcio_spark.operators.indexer import (
        CDX11_HEADER,
        index_cdx11,
        index_cdxj,
    )

    recs = read_warc(spark, str(corpus / "*"))
    want = {}
    for r in index_cdxj(recs).collect():
        j = json.loads(r.block)
        get = lambda k: j.get(k, "-")  # noqa: E731
        want[(j["filename"], j["offset"])] = [
            r.urlkey, r.timestamp, get("url"), get("mime"), get("status"),
            get("digest").split(":")[-1], "-", "-", get("length"),
            get("offset"), get("filename")]
    got = {}
    for r in index_cdx11(recs).collect():
        fields = r.line.split(" ")
        assert fields[:2] == [r.urlkey, r.timestamp]
        got[(fields[10], fields[9])] = fields
    assert len(CDX11_HEADER.split()) == 12  # 'CDX' + one letter per field
    assert len(got) == len(want) > 0
    assert got == want
    # the live cases: a status-less resource, a revisit, a digest
    assert any(f[4] == "-" for f in got.values())
    assert any(f[3] == "warc/revisit" for f in got.values())
    assert all(f[5] != "-" and ":" not in f[5] for f in got.values())


def test_ranges_equal_read_warc_for_gzip(spark, corpus, full):
    """read_warc_ranges at a split far below the file size (each split
    seeks to its first member; members past a split's end come from the
    overlap) returns read_warc's rows for that file, every column."""
    size = os.path.getsize(corpus / GZ)
    split = 1 << 10
    assert size > 8 * split
    got = read_warc_ranges(spark, str(corpus / GZ), split_bytes=split,
                           overlap_bytes=1 << 12).collect()
    want = sorted((r for (f, _), r in full.items() if f == GZ),
                  key=lambda r: r["offset"])
    assert sorted((r.asDict() for r in got),
                  key=lambda r: r["offset"]) == want


def test_ranges_of_empty_file_are_empty(spark, corpus, full):
    """A 0-byte file has no byte ranges: read_warc_ranges returns an empty
    frame with the reader's schema, as read_warc returns no row for it."""
    got = read_warc_ranges(spark, str(corpus / EMPTY), split_bytes=1 << 10)
    assert got.schema == read_warc(spark, str(corpus / GZ)).schema
    assert got.collect() == []
    assert not any(f == EMPTY for f, _ in full)


def test_read_warc_keeps_listed_file_names(spark, tmp_path):
    """The binaryFile listing writes local files as file:/ paths that are
    not percent-encoded: a name with a space, a literal '%20' or a '#' is
    opened and reported as it is on disk."""
    blob = serialize_records(_records(3), gzip=True)
    names = {"with space.warc.gz", "literal%20.warc.gz", "hash#1.warc.gz"}
    for name in names:
        (tmp_path / name).write_bytes(blob)
    got = Counter(r.filename for r in read_warc(
        spark, str(tmp_path / "*")).collect())
    assert got == {name: len(parse_warc_bytes(blob)["records"])
                   for name in names}


def test_headers_only_parse_skips_content_decode(corpus, monkeypatch):
    """The kernel behind a headers-only read never de-chunks or
    decompresses a body, unless digest checking needs to know whether the
    decode drains it; every other field equals the full parse."""
    import warcio_spark.kernels.parse as parse

    calls = []
    decode = parse.extract_content_ex
    monkeypatch.setattr(parse, "extract_content_ex",
                        lambda *a: calls.append(a) or decode(*a))
    data = (corpus / GZ).read_bytes()
    full = parse.parse_warc_bytes(data)["records"]
    n_decodes = len(calls)
    assert n_decodes > 0
    head = parse.parse_warc_bytes(data, decode_content=False)["records"]
    assert len(calls) == n_decodes
    assert head == [dict(r, content=None) for r in full]
    checked = parse.parse_warc_bytes(data, decode_content=False,
                                     check_digests=True)["records"]
    assert len(calls) == 2 * n_decodes
    assert [r["content"] for r in checked] == [None] * len(full)


def test_blob_extents_equal_read_warc(spark, corpus, full):
    """The binaryFile blob frame (the path Hadoop schemes take: the file
    bytes ride in the frame instead of being opened by the task) goes
    through the same extent body and gives the same rows."""
    from warcio_spark.sources.warc import _read_extents

    files = spark.read.format("binaryFile").load(str(corpus / "*"))
    got = _read_extents(files.select(
        "path", F.lit(0).cast("long").alias("start"),
        F.col("length").alias("end"), "content")).collect()
    assert {(r["filename"], r["offset"]): r.asDict() for r in got} == full


@pytest.mark.parametrize("check_digests", [False, True])
def test_headers_only_equals_full_minus_bodies(spark, corpus, check_digests):
    """A headers-only read (no payload, no content: the content decode is
    skipped) equals the full read with payload/content taken away, with
    digest checking off and on (on, the decode still runs to decide
    whether the body drains, so digest_ok must match)."""
    path = str(corpus / "*")
    full = read_warc(spark, path, check_digests=check_digests)
    head = read_warc(spark, path, check_digests=check_digests,
                     include_payload=False, include_content=False)
    cols = [c for c in full.columns if c not in ("payload", "content")]
    assert head.filter(F.col("payload").isNotNull()
                       | F.col("content").isNotNull()).count() == 0
    key = ["filename", "offset"]
    want = full.select(*cols).orderBy(*key).collect()
    assert head.select(*cols).orderBy(*key).collect() == want
    oks = {r.digest_ok for r in want}
    assert oks >= {True, False} if check_digests else oks == {None}
