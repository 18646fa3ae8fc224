"""Full sitemap <url> entry parsing (links.sitemap_entries) — loc,
lastmod (W3C datetime -> UTC epoch), changefreq, priority — and the
lastmod-vs-latest-capture recrawl hint (links.modified_since_capture).

The W3C-datetime oracle is an independent Python implementation on
datetime + manual offset arithmetic; entry parsing is cross-checked
against xml.etree over well-formed XML.
"""

import datetime as dt
import re

from pyspark.sql import functions as F

from warcio_spark.operators.links import (
    modified_since_capture,
    sitemap_entries,
    w3c_datetime_epoch,
)

_PY_RX = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})"
    r"(?:[Tt](\d{2}):(\d{2})(?::(\d{2})(?:\.\d+)?)?"
    r"([Zz]|[+-]\d{2}:\d{2})?)?$")


def py_w3c_epoch(s):
    """Independent oracle: datetime date + plain seconds arithmetic."""
    m = _PY_RX.match(s.strip())
    if not m:
        return None
    y, mo, d, hh, mi, ss, tz = m.groups()
    try:
        days = (dt.date(int(y), int(mo), int(d)) - dt.date(1970, 1, 1)).days
    except ValueError:
        return None
    sec = int(hh or 0) * 3600 + int(mi or 0) * 60 + int(ss or 0)
    off = 0
    if tz and tz not in ("Z", "z"):
        off = (int(tz[1:3]) * 3600 + int(tz[4:6]) * 60)
        off = -off if tz[0] == "-" else off
    return days * 86400 + sec - off


W3C_CASES = [
    "2024-01-05",
    "2024-01-05T10:30Z",
    "2024-01-05T10:30:45Z",
    "2024-01-05t10:30:45.123z",
    "2024-01-05T10:30:45+02:00",
    "2024-01-05T10:30:45-05:30",
    "2024-01-05T10:30:45",        # lenient: no designator -> UTC
    "2024-02-29",                  # leap day, valid
    "2023-02-29",                  # invalid calendar date -> NULL
    "2024-13-01",                  # invalid month -> NULL
    "05/01/2024",                  # wrong format -> NULL
    "2024-01-05 10:30:45Z",        # space separator not W3C -> NULL
    "  2024-01-05  ",              # trimmed
    "garbage",
    "",
]


def test_w3c_datetime_epoch_matches_python_oracle(spark):
    df = spark.createDataFrame([(s,) for s in W3C_CASES], ["s"])
    got = {r.s: r.e for r in
           df.select("s", w3c_datetime_epoch(F.col("s")).alias("e"))
           .collect()}
    for s in W3C_CASES:
        assert got[s] == py_w3c_epoch(s), s
    # spot-check two absolute values against known UTC epochs
    assert got["2024-01-05"] == 1704412800
    assert got["2024-01-05T10:30:45+02:00"] == 1704412800 + 8 * 3600 + 1845


XML = (
    '<?xml version="1.0"?>'
    '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
    "<url><loc>http://a.example.com/1</loc>"
    "<lastmod>2024-03-01T00:00:00Z</lastmod>"
    "<changefreq>Daily</changefreq><priority>0.8</priority></url>"
    "<url><loc> http://a.example.com/2?x=1&amp;y=2 </loc>"
    "<lastmod>not-a-date</lastmod><changefreq>sometimes</changefreq>"
    "<priority>high</priority></url>"
    "<url><priority>0.4</priority></url>"  # no loc: dropped, burns pos 2
    "<url><loc>ftp://skip.example.com/x</loc></url>"  # non-http: dropped
    "<url><loc>http://a.example.com/3</loc><priority>1.5</priority></url>"
    "</urlset>"
)


def _entries(spark):
    sm = spark.createDataFrame(
        [("http://a.example.com/sitemap.xml", XML)], ["url", "xml"])
    return sitemap_entries(sm)


def test_sitemap_entries_fields(spark):
    rows = {r.pos: r for r in _entries(spark).collect()}
    assert sorted(rows) == [0, 1, 4]  # locless + ftp blocks burn 2, 3
    r0 = rows[0]
    assert (r0.loc, r0.changefreq, r0.priority) == (
        "http://a.example.com/1", "daily", 0.8)
    assert r0.lastmod_ts == py_w3c_epoch("2024-03-01T00:00:00Z")
    r1 = rows[1]
    assert r1.loc == "http://a.example.com/2?x=1&y=2"  # trimmed + decoded
    assert r1.lastmod == "not-a-date" and r1.lastmod_ts is None
    assert r1.changefreq is None      # not in the protocol enumeration
    assert r1.priority is None        # try_cast garbage
    r4 = rows[4]
    assert r4.lastmod is None and r4.lastmod_ts is None
    assert r4.priority == 1.5         # out-of-range passes through


def test_sitemap_entries_vs_etree(spark):
    import xml.etree.ElementTree as ET
    want = []
    for el in ET.fromstring(XML):
        loc = el.find("{http://www.sitemaps.org/schemas/sitemap/0.9}loc")
        if loc is not None and loc.text.strip().startswith("http"):
            want.append(loc.text.strip())
    assert [r.loc for r in
            _entries(spark).orderBy("pos").collect()] == want


def test_sitemapindex_blocks(spark):
    xml = ("<sitemapindex><sitemap><loc>http://a.example.com/s1.xml</loc>"
           "<lastmod>2024-01-05</lastmod></sitemap>"
           "<sitemap><loc>http://a.example.com/s2.xml</loc></sitemap>"
           "</sitemapindex>")
    sm = spark.createDataFrame([("http://a.example.com/i.xml", xml)],
                               ["url", "xml"])
    got = sitemap_entries(sm, block_tag="sitemap").orderBy("pos").collect()
    assert [r.loc for r in got] == ["http://a.example.com/s1.xml",
                                   "http://a.example.com/s2.xml"]
    assert got[0].lastmod_ts == py_w3c_epoch("2024-01-05")
    assert got[1].lastmod_ts is None


def test_modified_since_capture(spark):
    entries = _entries(spark)  # /1 lastmod 2024-03-01, /2 bad, /3 none
    index = spark.createDataFrame(
        [("http://a.example.com/1", "20240101000000"),   # older capture
         ("http://a.example.com/1", "20240401000000"),   # NEWER capture
         ("http://a.example.com/2?x=1&y=2", "20230101000000"),
         ("http://other.example.com/", "20240101000000")],
        ["url", "timestamp"])
    got = {r.loc: r for r in
           modified_since_capture(entries, index).collect()}
    # latest capture (April) is newer than lastmod (March): NOT due
    assert got["http://a.example.com/1"].due is False
    assert (got["http://a.example.com/1"].last_capture_ts
            == py_w3c_epoch("2024-04-01T00:00:00Z"))
    # captured, lastmod unparseable: TTL path's business, not due
    assert got["http://a.example.com/2?x=1&y=2"].due is False
    # never captured: due
    assert got["http://a.example.com/3"].due is True
    assert got["http://a.example.com/3"].last_capture_ts is None


def test_modified_due_when_lastmod_newer(spark):
    entries = _entries(spark).filter(F.col("pos") == 0)
    index = spark.createDataFrame(
        [("http://a.example.com/1", "20240215120000")], ["url", "timestamp"])
    got = modified_since_capture(entries, index).collect()
    assert len(got) == 1 and got[0].due is True
