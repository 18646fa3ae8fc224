"""WARC writer sink round-trips."""

import io
import os

import pytest
from pyspark.sql import functions as F

from warcio_spark.operators.writer import (
    extract_at_offset,
    pair_request_response,
    recompress,
    to_warc_members,
    write_warc,
)
from warcio_spark.sources import read_warc, synth_pages

CORPUS = "/root/reference/test/data"


def test_write_warc_roundtrip_through_reference(spark, warcio, tmp_path):
    """records -> write_warc -> the REFERENCE reads the output, content
    byte-identical."""
    from warcio.archiveiterator import ArchiveIterator

    recs = read_warc(spark, os.path.join(CORPUS, "example.warc.gz"))
    out_dir = str(tmp_path / "out")
    paths = write_warc(recs, out_dir, gzip=True, files=1)
    assert len(paths) == 1

    want = {
        (r.rec_type, r.url, bytes(r.payload) if r.payload is not None else b"")
        for r in recs.collect()
    }
    got = set()
    with open(paths[0], "rb") as f:
        for rec in ArchiveIterator(f):
            got.add(
                (
                    rec.rec_type,
                    rec.rec_headers.get_header("WARC-Target-URI"),
                    rec.raw_stream.read(),
                )
            )
    assert {g[0] for g in got} == {w[0] for w in want}
    assert got == want


def test_recompress_fixes_invalid_gzip(spark, tmp_path):
    """The invalid single-member multi-record gzip parses fully after
    recompress (the reference CLI's fix-it workflow)."""
    out_dir = str(tmp_path / "rc")
    # example-bad-non-chunked: 1 member, many records -> error on ingest
    bad = read_warc(spark, os.path.join(CORPUS, "example-bad-non-chunked.warc.gz"))
    assert bad.filter(F.col("file_error").isNotNull()).count() > 0

    # the plain .warc has the same records; recompress it to member-gzip
    paths = recompress(spark, os.path.join(CORPUS, "example.warc"), out_dir)
    again = read_warc(spark, paths)
    assert again.filter(F.col("file_error").isNotNull()).count() == 0
    assert again.count() == 6
    assert [r.rec_type for r in again.orderBy("offset").collect()] == [
        "warcinfo", "warcinfo", "response", "request", "revisit", "request",
    ]


def test_to_warc_members_offsets(spark):
    recs = read_warc(spark, os.path.join(CORPUS, "example.warc.gz"))
    members = to_warc_members(recs, gzip=False).collect()
    assert len(members) == 6
    for m in members:
        assert bytes(m.member).startswith(b"WARC/1.0\r\n")
        assert bytes(m.member).endswith(b"\r\n\r\n")


def test_extract_at_offset(spark):
    recs = read_warc(spark, os.path.join(CORPUS, "example-iana.org-chunked.warc"))
    row = extract_at_offset(recs, "example-iana.org-chunked.warc", 405).collect()
    assert len(row) == 1
    assert row[0].rec_type == "response"


def test_pair_request_response(spark):
    recs = read_warc(spark, os.path.join(CORPUS, "post-test.warc.gz"))
    pairs = pair_request_response(recs)
    rows = pairs.collect()
    assert len(rows) == 3
    assert all(r.resp_id is not None for r in rows)
    assert all(r.req_url == r.resp_url for r in rows)


def test_substitute_revisits_roundtrip_through_reference(spark, warcio, tmp_path):
    """Duplicate-payload responses become revisit records; the rewritten
    table serializes to a WARC the REFERENCE reads, with revisits pointing
    at the original capture."""
    from warcio.archiveiterator import ArchiveIterator

    from warcio_spark.kernels.build import build_record, serialize_records
    from warcio_spark.operators.dedup import substitute_revisits

    # corpus with a duplicated payload across two urls
    payload = (b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nsame-bytes")
    recs = []
    for i, (url, body) in enumerate([
        ("http://a.com/1", payload),
        ("http://a.com/2", b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nunique"),
        ("http://b.com/3", payload),  # dup of /1
    ]):
        recs.append(build_record(url, "response", payload=body,
                                 record_id=f"<urn:uuid:r{i}>",
                                 warc_date="2024-01-0%dT00:00:00Z" % (i + 1)))
    blob = serialize_records(recs, gzip=True)
    src = tmp_path / "src.warc.gz"
    src.write_bytes(blob)

    from warcio_spark.sources import read_warc

    table = read_warc(spark, str(src))
    rewritten = substitute_revisits(table)
    out = [r for r in rewritten.orderBy("offset").collect()]
    types = [r.rec_type for r in out]
    assert types == ["response", "response", "revisit"]

    # serialize and let the reference read it back
    from warcio_spark.operators.writer import write_warc

    paths = write_warc(rewritten.orderBy("offset"), str(tmp_path / "out"),
                       gzip=True, files=1)
    got = []
    with open(paths[0], "rb") as f:
        for rec in ArchiveIterator(f):
            got.append(rec)
            if rec.rec_type == "revisit":
                assert rec.rec_headers.get_header(
                    "WARC-Refers-To-Target-URI") == "http://a.com/1"
                assert rec.rec_headers.get_header("WARC-Profile")
                assert rec.rec_headers.get_header(
                    "WARC-Payload-Digest") == got[0].rec_headers.get_header(
                    "WARC-Payload-Digest")
    assert [r.rec_type for r in got] == ["response", "response", "revisit"]


def test_records_table_partition_pruning(spark, tmp_path):
    """Partitioned records table: a rec_type filter prunes partitions at the
    source (PartitionFilters in the physical plan), and the point read by
    (filename, offset) returns the row."""
    from warcio_spark.sources.storage import (
        read_records_table,
        responses_only,
        write_records_table,
    )

    recs = read_warc(spark, os.path.join(CORPUS, "example.warc*"))
    path = str(tmp_path / "records_table")
    write_records_table(recs, path)

    pruned = responses_only(spark, path)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "rec_type" in plan and ("PartitionFilters" in plan or "isnotnull(rec_type" in plan)
    assert pruned.count() == 2  # one response per file
    assert set(r.rec_type for r in pruned.collect()) == {"response"}

    full = read_records_table(spark, path)
    point = full.filter(
        (F.col("filename") == "example.warc.gz") & (F.col("offset") == 784)
    ).collect()
    assert len(point) == 1 and point[0].rec_type == "response"
    assert "url_bucket" in full.columns


def test_write_warc_identical_partitions_distinct_files(spark, tmp_path):
    """Two partitions whose member byte-length sequences are identical must
    still land in DISTINCT output files (regression: a content-derived file
    name collided and one partition silently overwrote the other)."""
    recs = read_warc(spark, os.path.join(CORPUS, "example.warc.gz"))
    doubled = recs.unionByName(
        recs.withColumn("record_id", F.concat(F.col("record_id"), F.lit("-b")))
    )
    paths = write_warc(doubled, str(tmp_path / "two"), gzip=True, files=2)
    assert len(paths) == len(set(paths)) == 2
    again = read_warc(spark, paths)
    assert again.count() == doubled.count()


def test_substitute_revisits_nulls_length_for_recompute(spark, tmp_path):
    """Rewritten revisit rows must carry length=NULL so the serializer
    recomputes Content-Length instead of writing the original response
    length over an empty payload (misaligns every following record)."""
    from warcio_spark.kernels.build import build_record, serialize_records
    from warcio_spark.operators.dedup import substitute_revisits

    payload = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nsame-bytes"
    recs = [
        build_record("http://a.com/1", "response", payload=payload,
                     record_id="<urn:uuid:l0>", warc_date="2024-01-01T00:00:00Z"),
        build_record("http://b.com/2", "response", payload=payload,
                     record_id="<urn:uuid:l1>", warc_date="2024-01-02T00:00:00Z"),
    ]
    src = tmp_path / "dups.warc.gz"
    src.write_bytes(serialize_records(recs, gzip=True))
    table = read_warc(spark, str(src))
    out = substitute_revisits(table).orderBy("offset").collect()
    assert [r.rec_type for r in out] == ["response", "revisit"]
    assert out[1].length is None and out[1].payload_length == 0
    assert out[0].length is not None


def test_write_warc_append_mode(spark, warcio, tmp_path):
    """capture_http append analog: a second write with mode='append' keeps
    the first generation's files; the reference reads everything."""
    from warcio.archiveiterator import ArchiveIterator

    recs = read_warc(spark, os.path.join(CORPUS, "example.warc.gz"))
    out = str(tmp_path / "app")
    p1 = write_warc(recs, out, gzip=True, files=1)
    p2 = write_warc(recs.filter(F.col("rec_type") == "response"), out,
                    gzip=True, files=1, mode="append")
    assert set(p1).isdisjoint(p2)
    assert sorted(os.listdir(out)) == sorted(
        os.path.basename(p) for p in p1 + p2
    )
    n = 0
    for path in p1 + p2:
        with open(path, "rb") as f:
            n += sum(1 for _ in ArchiveIterator(f))
    assert n == 6 + 1


def test_add_ip_headers_roundtrip(spark, warcio, tmp_path):
    """record_ip analog: WARC-IP-Address lands on request/response records
    and survives serialization through the reference reader."""
    from warcio.archiveiterator import ArchiveIterator

    from warcio_spark.operators.writer import add_ip_headers

    recs = read_warc(spark, os.path.join(CORPUS, "example.warc.gz"))
    tagged = add_ip_headers(recs.withColumn(
        "fetch_ip",
        F.when(F.col("rec_type").isin("request", "response"), "93.184.216.34"),
    ))
    paths = write_warc(tagged.drop("fetch_ip"), str(tmp_path / "ip"),
                       gzip=True, files=1)
    got = {}
    with open(paths[0], "rb") as f:
        for rec in ArchiveIterator(f):
            got[rec.rec_type] = rec.rec_headers.get_header("WARC-IP-Address")
    assert got["response"] == "93.184.216.34"
    assert got["request"] == "93.184.216.34"
    assert got["warcinfo"] is None


def test_archive_pages_full_circle(spark, warcio, tmp_path):
    """The crawl's archiving leg: pages -> archive_pages -> .warc.gz that
    the REFERENCE reads with digests raised -> back through our ingest ->
    pages_from_records reproduces (url, text) exactly."""
    from warcio.archiveiterator import ArchiveIterator

    from warcio_spark.operators.writer import archive_pages
    from warcio_spark.sources.warc import pages_from_records

    pages = synth_pages(spark, 150, partitions=3)
    out = str(tmp_path / "arch")
    paths = archive_pages(pages, out, gzip=True, files=2)
    assert len(paths) == 2

    n = 0
    for p in paths:
        with open(p, "rb") as f:
            for rec in ArchiveIterator(f, check_digests="raise"):
                assert rec.rec_type == "response"
                assert rec.digest_checker.passed is not False
                n += 1
    assert n == 150

    back = pages_from_records(read_warc(spark, paths))
    got = sorted((r.url, r.text) for r in back.collect())
    # the INGEST side applies the reference's URI repairs (F7/F8,
    # oracle-tested): urls with raw spaces come back %20-encoded exactly
    # as warcio would surface them from the same file
    from warcio_spark.kernels.urls import repair_uri

    want = sorted((repair_uri(r.url), r.text) for r in pages.collect())
    assert got == want


def test_archive_pages_deterministic_ids(spark, tmp_path):
    """Record ids are name-based (md5 of url|date): two runs over the same
    corpus produce byte-identical archives per partition."""
    from warcio_spark.operators.writer import pages_to_records

    pages = synth_pages(spark, 60, partitions=2)
    a = {r.url: [h for h in r.rec_headers if h.name == "WARC-Record-ID"][0].value
         for r in pages_to_records(pages).collect()}
    b = {r.url: [h for h in r.rec_headers if h.name == "WARC-Record-ID"][0].value
         for r in pages_to_records(pages).collect()}
    assert a == b and len(a) > 50


def test_archive_pages_dedup_revisits(spark, warcio, tmp_path):
    """dedup=True: duplicate payloads become revisit records the reference
    reads back — WARC-Profile + WARC-Refers-To-*, empty block, originals
    intact."""
    from warcio.archiveiterator import ArchiveIterator

    from warcio_spark.operators.writer import archive_pages

    # the generator plants dup-url pages (i and i-37 share content)
    pages = synth_pages(spark, 300, partitions=3)
    out = str(tmp_path / "dedup_arch")
    paths = archive_pages(pages, out, gzip=True, files=2, dedup=True)

    responses, revisits = 0, {}
    for p in paths:
        with open(p, "rb") as f:
            for rec in ArchiveIterator(f, check_digests="raise"):
                if rec.rec_type == "response":
                    responses += 1
                else:
                    assert rec.rec_type == "revisit"
                    h = rec.rec_headers
                    assert "identical-payload-digest" in h.get_header("WARC-Profile")
                    revisits[h.get_header("WARC-Target-URI")] = h.get_header(
                        "WARC-Refers-To-Target-URI"
                    )
                    assert rec.content_stream().read() == b""
    assert responses + len(revisits) == 300
    assert len(revisits) > 0
    # every revisit refers to a url that exists as a full response capture
    urls = {r.url for r in pages.collect()}
    for src, orig in revisits.items():
        assert orig in urls


def test_substitute_revisits_against_index_cross_job(spark, warcio, tmp_path):
    """Cross-job dedup-on-write: a NEW crawl's responses dedup against the
    PREVIOUS crawl's CDX index — matches become revisits pointing at the
    indexed original capture, the reference reads the output, and the
    classic-CDX / broadcast variants agree."""
    from warcio.archiveiterator import ArchiveIterator

    from warcio_spark.kernels.build import build_record, serialize_records
    from warcio_spark.operators.dedup import substitute_revisits_against_index
    from warcio_spark.operators.indexer import index_cdx11, index_cdxj
    from warcio_spark.sources import read_cdx11, read_cdxj, read_warc

    same = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nsame-bytes"
    # previous crawl: the payload captured twice; the INDEX original must
    # be the earliest capture (a/1)
    prev = [
        build_record("http://a.com/1", "response", payload=same,
                     record_id="<urn:uuid:p0>",
                     warc_date="2024-01-01T06:30:00Z"),
        build_record("http://a.com/2", "response", payload=same,
                     record_id="<urn:uuid:p1>",
                     warc_date="2024-02-01T00:00:00Z"),
    ]
    (tmp_path / "prev.warc.gz").write_bytes(serialize_records(prev, gzip=True))
    prev_tbl = read_warc(spark, str(tmp_path / "prev.warc.gz"))
    idx_cdxj = index_cdxj(prev_tbl)
    idx_cdx11 = index_cdx11(prev_tbl)

    new = [
        build_record("http://c.com/9", "response", payload=same,
                     record_id="<urn:uuid:n0>",
                     warc_date="2024-03-01T00:00:00Z"),
        build_record("http://c.com/10", "response",
                     payload=b"HTTP/1.1 200 OK\r\n\r\nfresh",
                     record_id="<urn:uuid:n1>",
                     warc_date="2024-03-01T00:00:01Z"),
    ]
    (tmp_path / "new.warc.gz").write_bytes(serialize_records(new, gzip=True))
    new_tbl = read_warc(spark, str(tmp_path / "new.warc.gz"))

    outs = []
    for idx, reader in ((idx_cdxj, read_cdxj), (idx_cdx11, read_cdx11)):
        typed = reader(spark, idx.select(F.col("line"))).filter(
            F.col("urlkey").isNotNull())
        for bcast in (False, True):
            rewritten = substitute_revisits_against_index(
                new_tbl, typed, broadcast_index=bcast)
            rows = {r.url: r.rec_type for r in rewritten.collect()}
            outs.append(rows)
    assert all(o == {"http://c.com/9": "revisit",
                     "http://c.com/10": "response"} for o in outs)

    from warcio_spark.operators.writer import write_warc

    rewritten = substitute_revisits_against_index(
        new_tbl, read_cdxj(spark, idx_cdxj.select("line")), broadcast_index=True)
    paths = write_warc(rewritten.orderBy("offset"), str(tmp_path / "out"),
                       gzip=True, files=1)
    with open(paths[0], "rb") as f:
        got = {r.rec_headers.get_header("WARC-Target-URI"): r
               for r in ArchiveIterator(f, check_digests="raise")}
    rv = got["http://c.com/9"]
    assert rv.rec_type == "revisit"
    assert rv.rec_headers.get_header(
        "WARC-Refers-To-Target-URI") == "http://a.com/1"
    assert rv.rec_headers.get_header(
        "WARC-Refers-To-Date") == "2024-01-01T06:30:00Z"
    assert got["http://c.com/10"].rec_type == "response"
