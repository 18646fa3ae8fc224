"""The WARC writer without reference files.

``write_warc`` writes the self-made record corpus of ``test_warc_readers``
read back with ``read_warc``; ``archive_pages`` writes seeded
``synth_pages`` with some NULL-html rows and one partition that has no
archivable page. The oracle is the build kernel run in this process over
the same rows: each written file holds exactly the serialized records of
its partition, in partition order, and a partition with nothing to write
leaves no file.
"""

import hashlib
import os
import uuid
import zlib
from collections import Counter
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from test_warc_readers import _records

from warcio_spark.kernels.build import build_record, serialize_record, serialize_records
from warcio_spark.kernels.chrono import datetime_to_iso
from warcio_spark.kernels.parse import parse_warc_bytes
from warcio_spark.operators.writer import archive_pages, write_warc
from warcio_spark.sources import read_warc, synth_pages

#: corpus file name -> the built records it holds
SOURCES = {"a.warc.gz": _records(40), "b.warc": _records(13)}


def _ext(gzip):
    return ".warc.gz" if gzip else ".warc"


def _members(data):
    """The gzip members of a .warc.gz, in file order."""
    out = []
    while data:
        d = zlib.decompressobj(31)
        d.decompress(data)
        n = len(data) - len(d.unused_data)
        out.append(data[:n])
        data = d.unused_data
    return out


def _written(paths):
    return {os.path.basename(p): open(p, "rb").read() for p in paths}


def _by_partition(df):
    """{partition id: rows in partition order} of a cached frame."""
    parts = {}
    for r in df.withColumn("_pid", F.spark_partition_id()).collect():
        parts.setdefault(r["_pid"], []).append(r)
    return parts


@pytest.fixture(scope="module")
def records(spark, tmp_path_factory):
    """The corpus records, cached: two files spread over more partitions
    than files, so some partitions are empty."""
    d = tmp_path_factory.mktemp("writer_corpus")
    for name, recs in SOURCES.items():
        (d / name).write_bytes(serialize_records(recs, gzip=name.endswith(".gz")))
    df = read_warc(spark, str(d / "*")).cache()
    assert df.rdd.getNumPartitions() > len(SOURCES)
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def pages(spark):
    """Seeded pages, cached; every page of partition 1 and every seventh
    other page has a NULL html."""
    df = synth_pages(spark, 300, n_hosts=40, partitions=3)
    null = (F.spark_partition_id() == 1) | (F.abs(F.crc32(F.col("url"))) % 7 == 0)
    df = df.withColumn(
        "html", F.when(null, F.lit(None)).otherwise(F.col("html"))).cache()
    yield df
    df.unpersist()


def _page_member(url, ts, html, gzip):
    """A page's record built and serialized in this process: the md5 record
    id over url|isoformat of the naive capture time, WARC-Date from it."""
    h = hashlib.md5("{0}|{1}".format(url, ts.isoformat()).encode()).hexdigest()
    rec = build_record(url, "response", payload=bytes(html),
                       record_id="<urn:uuid:{0}>".format(uuid.UUID(h)),
                       warc_date=datetime_to_iso(ts))
    return serialize_record(rec, gzip=gzip)


@pytest.mark.parametrize("gzip", [True, False])
def test_write_warc_writes_each_partitions_records_in_order(records, tmp_path,
                                                            gzip):
    """Each file is its partition's records serialized in order; reading a
    corpus file and writing it again gives the bytes the build kernel
    wrote for it, so the file holds the serialized source files."""
    src = {name: serialize_records(recs, gzip=gzip)
           for name, recs in SOURCES.items()}
    want = {}
    for pid, rows in _by_partition(records).items():
        names = dict.fromkeys(r.filename for r in rows)
        want["part-{0:05d}{1}".format(pid, _ext(gzip))] = b"".join(
            src[n] for n in names)
    got = _written(write_warc(records, str(tmp_path), gzip=gzip))
    assert got == want
    assert len(got) < records.rdd.getNumPartitions()  # empty: no file


@pytest.mark.parametrize("gzip", [True, False])
def test_archive_pages_writes_built_pages_in_order(pages, tmp_path, gzip):
    """Each file is its partition's pages with an html, built and
    serialized in order; NULL-html rows are skipped, and partition 1,
    which has none left, writes no file."""
    when = F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
    want = {}
    for pid, rows in _by_partition(
            pages.select("url", when.alias("ts"), "html")).items():
        body = b"".join(
            _page_member(r.url, datetime.fromisoformat(r.ts), r.html, gzip)
            for r in rows if r.html is not None)
        if body:
            want["part-{0:05d}{1}".format(pid, _ext(gzip))] = body
    assert sorted(want) == ["part-00000" + _ext(gzip),
                            "part-00002" + _ext(gzip)]
    got = _written(archive_pages(pages, str(tmp_path), gzip=gzip))
    assert got == want
    n_null = pages.filter(F.col("html").isNull()).count()
    assert 100 < n_null < 300
    assert sum(len(parse_warc_bytes(b)["records"])
               for b in got.values()) == 300 - n_null


def test_files_keep_members_and_append_adds_a_generation(records, pages,
                                                         tmp_path):
    """``files=N`` writes N files with the same multiset of members as one
    file per partition; ``mode="append"`` leaves the files there untouched
    and writes a fresh part-genNNN generation; overwrite clears them."""
    def members(files):
        return Counter(m for b in files.values() for m in _members(b))

    for write, frame in ((write_warc, records), (archive_pages, pages)):
        base = members(_written(write(frame, str(tmp_path / "base"))))
        three = _written(write(frame, str(tmp_path / "three"), files=3))
        assert len(three) == 3
        assert members(three) == base

    out = str(tmp_path / "append")
    first = _written(archive_pages(pages, out, files=2))
    assert sorted(first) == ["part-00000.warc.gz", "part-00001.warc.gz"]
    gen1 = archive_pages(pages, out, files=2, mode="append")
    gen2 = write_warc(records, out, files=1, mode="append")
    assert [os.path.basename(p) for p in gen1 + gen2] == [
        "part-gen001-00000.warc.gz", "part-gen001-00001.warc.gz",
        "part-gen002-00000.warc.gz"]
    assert _written(os.path.join(out, n) for n in first) == first
    assert members(_written(gen1)) == members(first)
    archive_pages(pages, out, files=1)
    assert sorted(os.listdir(out)) == ["part-00000.warc.gz"]


@pytest.mark.parametrize("check_digests", [True, "raise"])
def test_written_archives_read_back_with_valid_digests(spark, records, pages,
                                                       tmp_path, check_digests):
    """read_warc reads every written record back with no parse error and
    no failed digest; every response carries digests that pass."""
    paths = (archive_pages(pages, str(tmp_path / "pages"))
             + write_warc(records, str(tmp_path / "records"), gzip=False))
    back = read_warc(spark, paths, check_digests=check_digests).collect()
    n_pages = pages.filter(F.col("html").isNotNull()).count()
    assert len(back) == n_pages + records.count()
    assert {(r.file_err_count, r.file_error) for r in back} == {(0, None)}
    assert all(r.digest_ok is not False for r in back)
    assert all(r.digest_ok for r in back if r.rec_type == "response")
