"""``warc_roundtrip``: synthetic pages through warcio's record pipeline in
both directions.

Set-up materializes ``synth_pages`` (redirects, duplicate bodies, charset
variants, chunked and gzip/deflate bodies) to parquet; its host count is
drawn from the seed. Each timed iteration then runs four operations:

1. ``archive_pages`` writes ``.warc.gz`` files;
2. a full ``read_warc`` reads them back;
3. a headers-only ``read_warc`` feeds ``index_cdxj``;
4. ``read_warc_entries`` fetches a fixed, seeded 10% of the captures by
   the (file, offset, length) extents a CDXJ index row carries, taken
   from a headers-only read during set-up.

The archive is rewritten in place each iteration; record ids, gzip members
and partitioning are deterministic, so the index offsets stay valid.
"""

from __future__ import annotations

import hashlib
import os
import time

from pyspark.sql import functions as F

from core import Check, dir_bytes, force
from stats import median

N_PAGES = {"full": 10_000, "tiny": 300}
#: share of the captures the indexed fetch selects
FETCH_SHARE = 10


def body(html: bytes) -> bytes:
    """The HTTP body of a synthetic page (the bytes after the header
    block), which a read-back record carries as its payload."""
    return html[html.index(b"\r\n\r\n") + 4:]


class WarcRoundtrip:
    name = "warc_roundtrip"
    #: figures printed on every run and reported per layer when traced
    NAMED = (
        ("archive_records_per_s", "1/s"),
        ("ingest_records_per_s", "1/s"),
        ("index_records_per_s", "1/s"),
        ("indexed_fetch_s", "s"),
    )

    def __init__(self, ctx):
        self.ctx = ctx
        self.n = N_PAGES[ctx.scale]

    def setup(self):
        from warcio_spark.sources import synth_pages

        spark, ctx = self.ctx.spark, self.ctx
        n_hosts = 200 + (ctx.seed * 7919) % 800
        synth_pages(spark, self.n, n_hosts=n_hosts,
                    partitions=2 * ctx.cores).write.mode("overwrite").parquet(
            ctx.path("warc", "pages"))
        self.pages = spark.read.parquet(ctx.path("warc", "pages"))
        self.html = [(r.url, bytes(r.html))
                     for r in self.pages.select("url", "html").collect()]
        self.out = ctx.path("warc", "archive")
        self.paths = self._archive()
        # the fetch list: a seeded 10% of the captures, with the extents a
        # CDXJ index row carries (file, member offset, member length)
        pick = F.pmod(F.xxhash64("filename", "offset", F.lit(ctx.seed)),
                      F.lit(FETCH_SHARE)) == 0
        self._headers_only().filter(pick).select(
            "filename", "offset", F.col("rec_length").alias("length"),
        ).write.mode("overwrite").parquet(ctx.path("warc", "entries"))
        self.entries = spark.read.parquet(ctx.path("warc", "entries"))

    def _archive(self) -> list:
        from warcio_spark.operators.writer import archive_pages

        return archive_pages(self.pages, self.out)

    def _full(self, **opts):
        from warcio_spark.sources import read_warc

        return read_warc(self.ctx.spark, self.paths, **opts)

    def _headers_only(self):
        return self._full(include_payload=False, include_content=False)

    def _index(self):
        from warcio_spark.operators.indexer import index_cdxj

        return index_cdxj(self._headers_only())

    def _fetch(self, **opts):
        from warcio_spark.sources import read_warc_entries

        return read_warc_entries(self.ctx.spark, self.entries, base=self.out,
                                 **opts)

    def op(self) -> dict:
        t = [time.perf_counter()]
        self.paths = self._archive()
        t.append(time.perf_counter())
        force(self._full())
        t.append(time.perf_counter())
        force(self._index())
        t.append(time.perf_counter())
        force(self._fetch())
        t.append(time.perf_counter())
        archive_s, read_s, index_s, fetch_s = (
            b - a for a, b in zip(t, t[1:]))
        return {"archive_s": archive_s, "read_s": read_s, "index_s": index_s,
                "fetch_s": fetch_s, "total_s": t[-1] - t[0]}

    def summary(self, samples) -> dict:
        def med(k):
            return median([s[k] for s in samples])

        n, k = self.n, len(samples)
        total = [s["total_s"] for s in samples]
        return {
            "work_per_s": n / median(total),
            "op_s": total,
            "named": {
                "archive_records_per_s": (n / med("archive_s"), "1/s", k),
                "ingest_records_per_s": (n / med("read_s"), "1/s", k),
                "index_records_per_s": (n / med("index_s"), "1/s", k),
                "indexed_fetch_s": (med("fetch_s"), "s", k),
            },
        }

    # -- correctness gate (untimed) ------------------------------------

    def check(self) -> list:
        return check_archive(self.ctx.spark, self.html, self._full,
                             self._index, self._fetch, self.entries.count())

    # -- traced layers -------------------------------------------------

    LAYERS = (
        "operators.writer.pages_to_records",
        "operators.writer.write_warc",
        "sources.warc.read_warc",
        "sources.warc.read_warc_headers_only",
        "operators.indexer.index_cdxj",
        "sources.warc.read_warc_entries",
    )

    def warmup(self, trace: bool = False):
        self.op()

    def trace(self, tracer) -> tuple:
        """Spark layers, each forced on its own (``write_warc`` is the whole
        ``archive_pages`` call, so it includes ``pages_to_records``), and the
        two single-thread kernels in this process."""
        from warcio_spark.operators.writer import pages_to_records

        self.untraced_s = self.op()["total_s"]
        tracer.force_counted("operators.writer.pages_to_records",
                             pages_to_records(self.pages))
        self.paths = tracer.call("operators.writer.write_warc", self._archive)
        tracer.rows["operators.writer.write_warc"] = self.n
        tracer.force_counted("sources.warc.read_warc", self._full())
        tracer.force_counted("sources.warc.read_warc_headers_only",
                             self._headers_only())
        tracer.force_counted("operators.indexer.index_cdxj", self._index())
        tracer.force_counted("sources.warc.read_warc_entries", self._fetch())
        archive_bytes = dir_bytes(self.out)
        selected = self.entries.agg(F.sum("length")).first()[0]
        return {
            "kernels.parse.records_per_s_1t": self._parse_rate(),
            "kernels.build.records_per_s_1t": self._build_rate(),
            "operators.writer.bytes_per_page_byte":
                archive_bytes / sum(len(h) for _, h in self.html),
            "sources.warc.payload_decode_s":
                tracer.wall("sources.warc.read_warc")
                - tracer.wall("sources.warc.read_warc_headers_only"),
            "sources.warc.selected_byte_ratio": selected / archive_bytes,
        }, []

    def traced_op_s(self, tracer) -> tuple:
        """(the four traced operations of one iteration, an untraced
        iteration run just before them)."""
        return sum(tracer.wall(layer) for layer in (
            "operators.writer.write_warc", "sources.warc.read_warc",
            "operators.indexer.index_cdxj", "sources.warc.read_warc_entries",
        )), self.untraced_s

    def log_metrics(self, stages, tracer) -> dict:
        return {}

    def _parse_rate(self, seconds: float = 1.0) -> float:
        """``parse_warc_bytes`` records/s on one archive file, in this
        process on one thread (the yardstick of warcio's own iterator)."""
        from warcio_spark.kernels import parse_warc_bytes

        path = max(self.paths, key=os.path.getsize)
        with open(path, "rb") as f:
            data = f.read()
        n, t0 = 0, time.perf_counter()
        while not n or time.perf_counter() - t0 < seconds:
            n += len(parse_warc_bytes(data)["records"])
        return n / (time.perf_counter() - t0)

    def _build_rate(self, seconds: float = 1.0) -> float:
        """``build_record`` + gzip ``serialize_record`` records/s over the
        pages, in this process on one thread."""
        from warcio_spark.kernels.build import build_record, serialize_record

        n, t0 = 0, time.perf_counter()
        while not n or time.perf_counter() - t0 < seconds:
            for url, html in self.html[:1000]:
                rec = build_record(url, "response", payload=html,
                                   record_id="<urn:uuid:perfbench>",
                                   warc_date="2024-01-01T00:00:00Z")
                serialize_record(rec, gzip=True)
                n += 1
        return n / (time.perf_counter() - t0)


def check_archive(spark, html, full, index, fetch, n_entries: int) -> list:
    """The round-trip gate over the archive as it is on disk now.

    ``html`` is the page list ``[(url, html bytes)]``; ``full``, ``index``
    and ``fetch`` build the full read, the CDXJ index and the indexed fetch
    (the reads are called with ``check_digests=True``). A record whose HTTP
    block was parsed must carry the page's body as its payload; one that
    was not must carry the whole page (``build_record`` parses an HTTP
    block only for lower-case ``http:``/``https:`` targets)."""
    from collections import Counter

    def sha(b):
        return hashlib.sha1(b).hexdigest()

    # readers write a space in WARC-Target-URI as %20, as warcio does
    pages = [(url.replace(" ", "%20"), h) for url, h in html]
    want = {
        True: Counter((url, sha(body(h))) for url, h in pages),
        False: Counter((url, sha(h)) for url, h in pages),
    }
    cols = ["url", F.sha1("payload").alias("sha"), "http_statusline",
            "digest_ok", "filename", "offset", "rec_type", "file_error"]
    records = full(check_digests=True).select(*cols).collect()
    mismatched = 0
    for r in records:
        side = want[r.http_statusline is not None]
        if side[(r.url, r.sha)] > 0:
            side[(r.url, r.sha)] -= 1
        else:
            mismatched += 1
    responses = sum(1 for r in records if r.rec_type == "response")
    bad_digest = sum(1 for r in records if r.digest_ok is not True)
    errors = sum(1 for r in records if r.file_error)
    by_pos = {(r.filename, r.offset): r.sha for r in records}
    fetched = fetch(check_digests=True).select(*cols).collect()
    lines = index().count()
    return [
        Check("warc.one_record_per_page",
              len(records) == len(html) and responses == len(html),
              "{0} records for {1} pages".format(len(records), len(html))),
        Check("warc.payload_hashes", mismatched == 0,
              "{0} records differ from their page".format(mismatched)),
        Check("warc.read_digests", bad_digest == 0 and errors == 0,
              "{0} records fail digests, {1} file errors".format(
                  bad_digest, errors)),
        Check("warc.cdxj_line_per_capture", lines == len(html),
              "{0} lines for {1} captures".format(lines, len(html))),
        Check("warc.indexed_fetch",
              len(fetched) == n_entries and n_entries > 0
              and all(r.digest_ok is True for r in fetched)
              and all(by_pos.get((r.filename, r.offset)) == r.sha
                      for r in fetched),
              "{0} fetched of {1} entries".format(len(fetched), n_entries)),
    ]
