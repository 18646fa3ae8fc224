"""Deterministic synthetic ``pages`` table (the north-rule input shape).

pages(url string, warc_ts timestamp, html binary, text string, lang string)
— BASELINE.json:15. Generated fully distributed (spark.range -> mapInPandas;
no driver-side loops), deterministic per row id (seeded arithmetic, no RNG
state), so the same (n, seed) yields identical tables at any parallelism.

Per FIXTURES.md §1 the rows exercise every payload-decode path of the
engine: plain / gzip / deflate / raw-deflate / chunked / chunked+gzip /
unknown-encoding / iso-8859-1, plus URL edge cases (uppercase scheme+host,
default :80 port, dot-segments, spaces, wrapped '<uri>', dns: scheme) and a
Zipf-ish host skew (one mega-host holding ~30% of urls) to exercise salted
politeness partitioning. ``text`` is the byte-exact expected extraction
(what warcio's content_stream().read() decodes to) by construction.
"""

from __future__ import annotations

import zlib
from datetime import datetime, timedelta
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from warcio_spark.schema import PAGES_SCHEMA

_LANGS = ("en", "de", "fr", "es", "it", "pt", "nl", "pl")
_EPOCH = datetime(2024, 1, 1, 0, 0, 0)

_WORDS = (
    "the quick brown fox jumps over lazy dog archive crawl frontier spark "
    "record header payload digest politeness budget queue shard merge scan"
).split()


def _mix(i: int, salt: int = 0) -> int:
    """Deterministic 64-bit mix (splitmix64-style)."""
    x = (i * 0x9E3779B97F4A7C15 + salt * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 30
    x = (x * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x ^= x >> 27
    x = (x * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def _host_for(i: int, n_hosts: int) -> str:
    """Zipf-ish skew: host0 ~30%, host1 ~15%, rest uniform."""
    r = _mix(i, 1) % 100
    if r < 30:
        h = 0
    elif r < 45:
        h = 1
    else:
        h = 2 + (_mix(i, 2) % max(1, n_hosts - 2))
    return "host{0}.example{1}.com".format(h, h % 7)


def _body_text(i: int) -> str:
    k = _mix(i, 3)
    words = [_WORDS[(k >> (j * 5)) % len(_WORDS)] for j in range(10)]
    return "Page {0} from a synthetic crawl. {1}.\n".format(i, " ".join(words)) * (
        1 + (k % 4)
    )


def page_hrefs(i: int, n_hosts: int = 1000) -> list:
    """Deterministic anchor hrefs for page i, IN DOCUMENT ORDER — the
    contract shared by the engine (operators/links.py) and the oracle
    extractor. Mix of absolute / root-relative / doc-relative /
    parent-relative / protocol-relative / query-relative forms, plus
    non-fetchable junk (mailto:, javascript:, bare fragments) that link
    extraction must drop."""
    k = _mix(i, 13)
    out = []
    for j in range(k % 5):  # 0..4 real links
        m = _mix(i, 14 + j)
        target = "/section{0}/page{1}.html".format(m % 20, m % 9999)
        t = m % 6
        if t == 0:
            out.append("http://{0}{1}".format(_host_for(m, n_hosts), target))
        elif t == 1:
            out.append(target)  # root-relative
        elif t == 2:
            out.append("page{0}.html".format(m % 9999))  # doc-relative
        elif t == 3:
            out.append("../section{0}/page{1}.html".format(m % 20, m % 9999))
        elif t == 4:
            out.append("//{0}{1}".format(_host_for(m, n_hosts), target))
        else:
            out.append("{0}?ref={1}".format(target, k % 7))
    if k % 3 == 0:
        out.append("mailto:owner@example.com")
    if k % 4 == 0:
        out.append("javascript:void(0)")
    if k % 5 == 0:
        out.append("#top")
    return out


def _anchor_markup(i: int, n_hosts: int = 1000) -> str:
    """The hrefs rendered with varied quoting (double / single / bare) and
    attribute case, so extraction is tested against real-world markup."""
    parts = []
    for j, h in enumerate(page_hrefs(i, n_hosts)):
        q = _mix(i, 40 + j) % 3
        attr = "HREF" if _mix(i, 50 + j) % 4 == 0 else "href"
        if q == 0:
            parts.append('<a {0}="{1}">l{2}</a>\n'.format(attr, h, j))
        elif q == 1:
            parts.append("<a {0}='{1}'>l{2}</a>\n".format(attr, h, j))
        elif " " not in h:
            parts.append("<a {0}={1}>l{2}</a>\n".format(attr, h, j))
        else:
            parts.append('<a {0}="{1}">l{2}</a>\n'.format(attr, h, j))
    return "".join(parts)


def _chunked(data: bytes, i: int) -> bytes:
    out = bytearray()
    pos = 0
    size = 1 + (_mix(i, 4) % 97)
    while pos < len(data):
        part = data[pos : pos + size]
        out += b"%x\r\n%s\r\n" % (len(part), part)
        pos += len(part)
    out += b"0\r\n\r\n"
    return bytes(out)


def _raw_deflate(data: bytes) -> bytes:
    c = zlib.compressobj(6, zlib.DEFLATED, -zlib.MAX_WBITS)
    return c.compress(data) + c.flush()


def _gzip(data: bytes) -> bytes:
    c = zlib.compressobj(9, zlib.DEFLATED, zlib.MAX_WBITS + 16)
    return c.compress(data) + c.flush()


def make_page(i: int, n_hosts: int = 1000):
    """One deterministic page row; pure function of (i, n_hosts)."""
    host = _host_for(i, n_hosts)
    text = _body_text(i) + _anchor_markup(i, n_hosts)
    variant = _mix(i, 5) % 8
    lang = _LANGS[_mix(i, 6) % len(_LANGS)]

    # URL edge cases on a deterministic minority of rows
    path = "/section{0}/page{1}.html".format(_mix(i, 7) % 20, i)
    q = "?q={0}".format(_mix(i, 8) % 50) if _mix(i, 9) % 3 == 0 else ""
    edge = _mix(i, 10) % 23
    if edge == 0:
        url = "HTTP://{0}{1}{2}".format(host.upper(), path, q)
    elif edge == 1:
        url = "http://{0}:80{1}{2}".format(host, path, q)
    elif edge == 2:
        url = "http://{0}/a/../{1}{2}".format(host, path.lstrip("/"), q)
    elif edge == 3:
        url = "http://{0}{1}/with space{2}".format(host, path[: -len(".html")], q)
    else:
        url = "http://{0}{1}{2}".format(host, path, q)
    # duplicate urls for dedup/revisit flows
    if i >= 37 and _mix(i, 11) % 37 == 0:
        return make_page(i - 37, n_hosts) | {
            "warc_ts": _EPOCH + timedelta(seconds=i, microseconds=_mix(i, 12) % 1000000)
        }

    if _mix(i, 20) % 19 == 0:
        # ~5% of pages are 3xx redirects: Location header, empty body —
        # text is the (empty) extracted payload. Targets mix absolute and
        # root-relative Location values (real servers send both).
        t = _mix(i, 21)
        target = "/section{0}/page{1}.html".format(t % 20, t % 9999)
        if t % 3 == 0:
            target = "http://{0}{1}".format(_host_for(t, n_hosts), target)
        status = "302 Found" if t % 4 == 0 else "301 Moved Permanently"
        html = (
            "HTTP/1.1 {0}\r\nLocation: {1}\r\nContent-Length: 0\r\n\r\n".format(
                status, target
            )
        ).encode("ascii")
        text = ""
        if not url.startswith(("http:", "https:")):
            from warcio_spark.kernels.textcodec import decode_fallback

            text = decode_fallback(html)
        return {
            "url": url,
            "warc_ts": _EPOCH + timedelta(seconds=i, microseconds=_mix(i, 12) % 1000000),
            "html": html,
            "text": text,
            "lang": lang,
        }

    if variant == 7:
        body = text.encode("iso-8859-1", "replace")
        charset = "iso-8859-1"
        # fallback text is what iso-8859-1-decode yields from those bytes
        text = body.decode("iso-8859-1")
    else:
        body = text.encode("utf-8")
        charset = "utf-8"

    headers = [("Content-Type", "text/html; charset={0}".format(charset))]
    if variant == 1:
        payload, enc = _gzip(body), "gzip"
    elif variant == 2:
        payload, enc = zlib.compress(body), "deflate"
    elif variant == 3:
        payload, enc = _raw_deflate(body), "deflate"  # raw-deflate fallback path
    elif variant == 4:
        payload, enc = _chunked(body, i), None
        headers.append(("Transfer-Encoding", "chunked"))
    elif variant == 5:
        payload, enc = _chunked(_gzip(body), i), "gzip"
        headers.append(("Transfer-Encoding", "chunked"))
    elif variant == 6:
        payload, enc = body, "x-unknown"  # unsupported encoding passes through
    else:
        payload, enc = body, None
    if enc:
        headers.append(("Content-Encoding", enc))
    headers.append(("Content-Length", str(len(payload))))

    html = (
        "HTTP/1.1 200 OK\r\n"
        + "".join("{0}: {1}\r\n".format(n, v) for n, v in headers)
        + "\r\n"
    ).encode("ascii") + payload

    if not url.startswith(("http:", "https:")):
        # the loader's scheme gate is case-sensitive
        # (warcio/recordloader.py:59,183-185): an uppercase scheme means
        # http headers are never parsed and "content" is the raw block —
        # the text oracle column must say so
        from warcio_spark.kernels.textcodec import decode_fallback

        text = decode_fallback(html)

    return {
        "url": url,
        "warc_ts": _EPOCH + timedelta(seconds=i, microseconds=_mix(i, 12) % 1000000),
        "html": html,
        "text": text,
        "lang": lang,
    }


def make_robots_body(h: int) -> str:
    """Deterministic robots.txt body for host h: full-deny hosts, per-section
    denies with Allow overrides, wildcard rules, Crawl-delay — the rule
    shapes kernels/robots.py longest-match evaluation handles."""
    lines = ["User-agent: *"]
    if h % 13 == 1:
        lines.append("Disallow: /")
    else:
        lines.append("Disallow: /section{0}/".format(h % 20))
        if h % 3 == 0:
            lines.append("Allow: /section{0}/page1".format(h % 20))
        if h % 4 == 0:
            lines.append("Disallow: /*.cgi$")
    lines.append("Crawl-delay: {0}".format(2.0 + (h % 4) * 3.0))
    return "\n".join(lines) + "\n"


def make_robots_page(h: int) -> dict:
    """/robots.txt response row for host h: (host, url, html) with a full
    HTTP 200 text/plain response — fetchable through the same decode path
    as any page."""
    host = "host{0}.example{1}.com".format(h, h % 7)
    body = make_robots_body(h).encode("ascii")
    html = (
        "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
        "Content-Length: {0}\r\n\r\n".format(len(body))
    ).encode("ascii") + body
    return {
        "host": host,
        "url": "http://{0}/robots.txt".format(host),
        "html": html,
    }


def synth_robots_pages(spark: SparkSession, n_hosts: int,
                       partitions: int | None = None) -> DataFrame:
    """Distributed deterministic robots.txt corpus for hosts 0..n_hosts-1
    (the hosts synth_pages urls live on)."""
    parts = partitions or spark.sparkContext.defaultParallelism
    base = spark.range(0, n_hosts, 1, min(parts, max(1, n_hosts)))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [make_robots_page(int(h)) for h in pdf["id"]],
                columns=["host", "url", "html"],
            )

    return base.mapInPandas(gen, "host string, url string, html binary")


def synth_pages(spark: SparkSession, n: int, n_hosts: int = 1000,
                partitions: int | None = None) -> DataFrame:
    """Distributed deterministic pages table: same output at any parallelism."""
    parts = partitions or spark.sparkContext.defaultParallelism
    base = spark.range(0, n, 1, parts)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [make_page(int(i), n_hosts) for i in pdf["id"]]
            out = pd.DataFrame(rows, columns=[f.name for f in PAGES_SCHEMA.fields])
            out["warc_ts"] = pd.to_datetime(out["warc_ts"])
            yield out

    return base.mapInPandas(gen, PAGES_SCHEMA)
