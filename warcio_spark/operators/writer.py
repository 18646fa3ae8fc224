"""WARC serialization sink + recompress + extract jobs.

- write_warc / archive_pages: one ``mapInArrow`` task body per partition
  (``_write_partitions``) turns each row into its record, serializes it
  (kernels/build.py:serialize_record — one gzip member per record,
  warcio/warcwriter.py:113-127) and appends it to the partition's file as
  it goes: the streaming loop of WARCWriter (S7). Each row crosses into
  Python once and only one path row per written file comes back; for
  ``archive_pages`` the row is the fetched page and the record is built in
  the same body.
- to_warc_members: the same per-record serializer as a DataFrame of one
  member blob per record, for callers that want the bytes as a column
- recompress: the CLI job (warcio/recompressor.py): parse anything
  readable, re-serialize as proper per-record gzip members
- extract_at_offset: seek-to-offset point read (warcio/extractor.py:16-19);
  on a records table this is a pruned filter, on a raw file a ranged parse
- pair_request_response: WARC-Concurrent-To self-join (J1,
  warcio/warcwriter.py:22-33)
"""

from __future__ import annotations

import hashlib
import os
import uuid
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from warcio_spark import functions as WF
from warcio_spark.kernels.build import build_record, serialize_record
from warcio_spark.kernels.chrono import datetime_to_iso
from warcio_spark.kernels.parse import header_get, make_record_id

MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("filename", T.StringType(), True),
        T.StructField("offset_in_file", T.LongType(), True),
        T.StructField("member", T.BinaryType(), True),
    ]
)

#: the records-table columns a record is serialized from
_RECORD_COLS = [
    "format", "rec_type", "rec_headers", "url", "http_protocol",
    "http_statusline", "http_headers", "content_type", "length",
    "payload_length", "payload",
]


def _headers_list(cell):
    if cell is None:
        return None
    return [(h["name"], h["value"]) for h in cell]


def _row_to_record(row) -> dict:
    """A records-table row (a ``RecordBatch.to_pylist`` dict) -> the record
    dict the build kernel serializes."""
    return {
        "format": row["format"],
        "rec_type": row["rec_type"],
        "warc_protocol": "WARC/1.0",
        "rec_headers": _headers_list(row["rec_headers"]) or [],
        "url": row["url"],
        "http_protocol": row["http_protocol"],
        "http_statusline": row["http_statusline"],
        "http_headers": _headers_list(row["http_headers"]),
        "content_type": row["content_type"],
        "length": row["length"],
        "payload_length": row["payload_length"],
        "payload": row["payload"] or b"",
    }


def to_warc_members(records: DataFrame, gzip: bool = True) -> DataFrame:
    """Serialize each record row to its WARC wire bytes (one gzip member),
    keeping the row's filename and offset."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(MEMBER_SCHEMA)

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            members = [serialize_record(_row_to_record(row), gzip=gzip)
                       for row in batch.to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [batch.column("filename").cast(pa.string()),
                 batch.column("offset").cast(pa.int64()),
                 pa.array(members, pa.binary())],
                schema=arrow_schema,
            )

    return records.select(*_RECORD_COLS, "filename", "offset").mapInArrow(
        run, MEMBER_SCHEMA)


def _write_partitions(rows: DataFrame, to_record, out_dir: str, gzip: bool,
                      files: int | None, mode: str) -> list:
    """The one task body behind write_warc and archive_pages: each row of a
    partition becomes a record (``to_record`` over its ``to_pylist`` dict),
    is serialized and appended to the partition's file as it goes. A
    partition with no rows writes no file. Returns the written paths."""
    if files is not None:
        rows = rows.repartition(files)
    os.makedirs(out_dir, exist_ok=True)
    ext = ".warc.gz" if gzip else ".warc"
    if mode == "append":
        gens = [
            int(f.split("-")[1][3:])
            for f in os.listdir(out_dir)
            if f.startswith("part-gen")
        ]
        gen = (max(gens) + 1) if gens else (
            1 if any(f.startswith("part-") for f in os.listdir(out_dir)) else 0
        )
    else:
        for f in os.listdir(out_dir):
            if f.startswith("part-"):
                os.unlink(os.path.join(out_dir, f))
        gen = 0
    prefix = "part-gen{0:03d}".format(gen) if gen else "part"

    def run(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        ctx = TaskContext.get()
        # name by partition id: stable across task retries and unique per
        # partition — a content-derived name (e.g. hashing member lengths)
        # collides when two partitions carry identical-length sequences and
        # silently overwrites one partition's output
        name = "{0}-{1:05d}{2}".format(prefix, ctx.partitionId(), ext)
        # written under a hidden per-attempt name and renamed once complete,
        # so a task that fails part-way leaves no partial part file
        tmp = os.path.join(out_dir, ".{0}.{1}.tmp".format(
            name, ctx.attemptNumber()))
        f = None
        try:
            for batch in batches:
                for row in batch.to_pylist():
                    if f is None:
                        f = open(tmp, "wb", buffering=1 << 20)
                    f.write(serialize_record(to_record(row), gzip=gzip))
        except BaseException:
            if f is not None:
                f.close()
                os.unlink(tmp)
            raise
        if f is None:
            return
        f.close()
        path = os.path.join(out_dir, name)
        os.replace(tmp, path)
        yield pa.RecordBatch.from_pydict({"path": [path]})

    return sorted(r.path for r in rows.mapInArrow(run, "path string").collect())


def write_warc(records: DataFrame, out_dir: str, gzip: bool = True,
               files: int | None = None, mode: str = "overwrite") -> list:
    """Write records as .warc(.gz) files, one per non-empty partition, in
    one Python hop (``_write_partitions``): each record is its own gzip
    member, so the output is splittable and re-ingestable. ``files=N``
    repartitions the records into N files first. Returns the written file
    paths.

    ``mode="append"`` is the capture_http append-mode analog
    (warcio/capture_http.py:241-252: reopen the archive and keep writing):
    existing files stay untouched and the new partitions land in a fresh
    generation (gen-K prefix), so repeated appends never collide."""
    return _write_partitions(records.select(*_RECORD_COLS), _row_to_record,
                             out_dir, gzip, files, mode)


ARCHIVE_RECORDS_DDL = (
    "format string, rec_type string,"
    " rec_headers array<struct<name:string,value:string>>, url string,"
    " http_protocol string, http_statusline string,"
    " http_headers array<struct<name:string,value:string>>,"
    " content_type string, length long, payload_length long,"
    " payload binary, filename string, offset long,"
    " warc_ts timestamp, record_id string"
)


def _page_record(url, dt, html) -> dict:
    """One fetched page -> its response record: the reference builder
    (kernels/build.py:build_record — http block parsed from the payload,
    both digests computed, Content-Length recomputed) with a DETERMINISTIC
    name-based record id (md5 of url|date — uuid4 would break run-to-run
    reproducibility and the bench's determinism gates). ``dt`` is the
    capture time as a naive datetime in the session time zone (UTC)."""
    # hash the FULL timestamp (micros included) so sub-second refetches of
    # one url keep distinct record ids even though WARC-Date is written at
    # second precision
    h = hashlib.md5(
        "{0}|{1}".format(url, dt.isoformat()).encode("utf-8", "replace")
    ).hexdigest()
    return build_record(
        url, "response", payload=bytes(html),
        record_id=make_record_id(uuid.UUID(h)), warc_date=datetime_to_iso(dt),
    )


def _page_to_record(row) -> dict:
    # Arrow hands the timestamp over tz-aware in the session time zone;
    # pandas (pages_to_records) hands it over naive in that zone
    return _page_record(row["url"], row["warc_ts"].replace(tzinfo=None),
                        row["html"])


def _archivable(pages: DataFrame) -> DataFrame:
    # no record can be built for a page without html or capture time
    return pages.select("url", "warc_ts", "html").filter(
        F.col("html").isNotNull() & F.col("warc_ts").isNotNull())


def pages_to_records(pages: DataFrame) -> DataFrame:
    """Fetched pages (url, warc_ts, html) -> writer-shaped WARC response
    records (``_page_record`` per page, one Arrow hop, no shuffle). Rows
    with a NULL html or warc_ts are skipped. ``archive_pages`` builds the
    same records inside its write body; this frame is for plans that need
    the records as rows (dedup-on-write, a records table)."""
    import pandas as pd

    cols = _RECORD_COLS + ["filename", "offset", "warc_ts", "record_id"]

    def structs(headers):
        return None if headers is None else [
            {"name": n, "value": v} for n, v in headers]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, ts, html in zip(pdf["url"], pdf["warc_ts"], pdf["html"]):
                rec = _page_record(url, ts.to_pydatetime(), html)
                rows.append(dict(
                    {k: rec[k] for k in _RECORD_COLS},
                    rec_headers=structs(rec["rec_headers"]),
                    http_headers=structs(rec["http_headers"]),
                    filename=None, offset=0, warc_ts=ts,
                    record_id=header_get(rec["rec_headers"], "WARC-Record-ID"),
                ))
            yield pd.DataFrame(rows, columns=cols)

    return _archivable(pages).mapInPandas(run, ARCHIVE_RECORDS_DDL)


def archive_pages(pages: DataFrame, out_dir: str, gzip: bool = True,
                  files: int | None = None, mode: str = "overwrite",
                  dedup: bool = False) -> list:
    """pages -> .warc(.gz) archives the reference library reads back with
    digests verified. Returns written paths. Without dedup each page
    crosses into Python once: its record is built, serialized and written
    in the one write body (``_write_partitions``); ``files``, ``mode`` and
    the file names are write_warc's.

    ``dedup=True`` is storage dedup-on-write: any page whose payload
    digest matches an EARLIER capture is written as a ``revisit`` record
    (WARC-Profile identical-payload-digest, WARC-Refers-To-*) instead of
    a full response — the Common-Crawl dedup pattern, via
    operators.dedup.substitute_revisits (one shuffle on the digest), so
    the records are built as rows first (``pages_to_records``)."""
    if not dedup:
        return _write_partitions(_archivable(pages), _page_to_record,
                                 out_dir, gzip, files, mode)

    from warcio_spark.operators.dedup import substitute_revisits

    # persist: substitute_revisits splits response/other branches of the
    # same plan, which would re-run the per-row build kernel twice over
    # an uncached mapInPandas source
    recs = pages_to_records(pages).persist()
    try:
        return write_warc(substitute_revisits(recs), out_dir, gzip=gzip,
                          files=files, mode=mode)
    finally:
        recs.unpersist()


def recompress(spark: SparkSession, in_paths, out_dir: str) -> list:
    """The reference's recompress CLI as a job: read any parseable archive
    (even invalid single-member gzip), emit per-record-gzip-member WARCs."""
    from warcio_spark.sources import read_warc

    records = read_warc(spark, in_paths)
    return write_warc(records, out_dir, gzip=True)


def extract_at_offset(records: DataFrame, filename: str, offset: int) -> DataFrame:
    """Point lookup by (filename, offset) — parquet min-max pruning makes
    this a ranged read on a sorted/partitioned records table (W2)."""
    return records.filter(
        (F.col("filename") == filename) & (F.col("offset") == offset)
    )


def add_ip_headers(records: DataFrame, ip_col: str = "fetch_ip") -> DataFrame:
    """The capture_http ``record_ip`` contract as a table op
    (warcio/capture_http.py:162-164): request and response records whose
    fetch carried a peer IP get a WARC-IP-Address header appended. Pure
    JVM array concat — no Python in the per-record path."""
    ip = F.col(ip_col)
    applies = ip.isNotNull() & F.col("rec_type").isin("request", "response")
    with_hdr = F.concat(
        WF.header_filter_out("rec_headers", "WARC-IP-Address"),
        F.array(
            F.struct(
                F.lit("WARC-IP-Address").alias("name"), ip.alias("value")
            )
        ),
    )
    return records.withColumn(
        "rec_headers", F.when(applies, with_hdr).otherwise(F.col("rec_headers"))
    )


def pair_request_response(records: DataFrame) -> DataFrame:
    """J1: link request records to their responses via WARC-Concurrent-To ==
    response's WARC-Record-ID; equi self-join, broadcastable when one side
    is small."""
    req = records.filter(F.col("rec_type") == "request").select(
        F.col("record_id").alias("req_id"),
        WF.header_get("rec_headers", "WARC-Concurrent-To").alias("concurrent_to"),
        F.col("url").alias("req_url"),
        F.col("filename"),
    )
    resp = records.filter(F.col("rec_type") == "response").select(
        F.col("record_id").alias("resp_id"),
        F.col("url").alias("resp_url"),
        F.col("http_statusline"),
    )
    return req.join(resp, req.concurrent_to == resp.resp_id, "left")
