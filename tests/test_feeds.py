"""Feed autodiscovery + entry extraction (operators/links.py feed_*):
the fourth discovery channel. Reference-ecosystem framing: feeds ride in
ordinary WARC response records (warcio/warcwriter.py serializes payload-
agnostically); the crawler-side walk of them is engine territory."""

from pyspark.sql import functions as F

from warcio_spark.operators.links import feed_entries, feed_links

PAGE = (
    "<html><head>"
    '<link rel="alternate" type="application/rss+xml" '
    'title="Site RSS" href="/feed.xml">'
    "<link rel='alternate' type='application/atom+xml' "
    "href='https://other.ex/atom'>"
    "<link rel=alternate type=application/feed+json href=/feed.json>"
    '<link rel="stylesheet" type="text/css" href="/s.css">'
    '<link rel="alternate" hreflang="fr" href="/fr">'
    '<link rel="alternate" type="application/rss+xml; charset=utf-8" '
    'href="/param.xml">'
    '<link rel="preload" type="application/rss+xml" href="/notalt.xml">'
    '<link rel="alternate" type="application/rss+xml" href="">'
    "</head><body>"
    '<link rel="alternate" type="application/rss+xml" href="/body.xml">'
    "</body></html>"
)


def _pages(spark):
    return spark.createDataFrame(
        [("http://ex.com/a/b", PAGE)], "page_url string, text string"
    )


def test_feed_links_discovery(spark):
    rows = feed_links(_pages(spark)).orderBy("pos").collect()
    assert [
        (r.pos, r.feed_kind, r.feed_title, r.feed_url) for r in rows
    ] == [
        (0, "rss", "Site RSS", "http://ex.com/feed.xml"),
        (1, "atom", None, "https://other.ex/atom"),
        (2, "json", None, "http://ex.com/feed.json"),
    ]
    # dropped: stylesheet, hreflang-only alternate, parameterized MIME,
    # non-alternate rel, empty href, and the body-region tag


def test_feed_links_relative_resolution_uses_shared_contract(spark):
    pages = spark.createDataFrame(
        [("http://ex.com/dir/page.html",
          '<head><link rel="alternate" type="application/rss+xml" '
          'href="rel.xml"></head>')],
        "page_url string, text string",
    )
    assert feed_links(pages).collect()[0].feed_url == (
        "http://ex.com/dir/rel.xml"
    )


RSS = (
    "<?xml version='1.0'?><rss><channel>"
    "<title>Chan</title><link>http://site.ex/</link>"
    "<item><title>  First   post </title>"
    "<link>http://site.ex/p/1?a=1&amp;b=2</link></item>"
    "<item><link>http://site.ex/p/2</link></item>"
    "<item><title>no link at all</title></item>"
    "<item><link>ftp://site.ex/skip</link></item>"
    "</channel></rss>"
)

ATOM = (
    '<feed xmlns="http://www.w3.org/2005/Atom"><title>A</title>'
    '<link href="http://site.ex/" rel="self"/>'
    "<entry><title>E1</title>"
    '<link rel="alternate" href="https://site.ex/e/1"/></entry>'
    "<entry><link href='https://site.ex/e/2'/></entry>"
    "</feed>"
)


def test_feed_entries_rss_and_atom(spark):
    feeds = spark.createDataFrame(
        [("http://site.ex/feed.xml", RSS), ("http://site.ex/atom", ATOM)],
        "url string, xml string",
    )
    rows = feed_entries(feeds).orderBy("src_url", "pos").collect()
    got = [(r.src_url, r.pos, r.entry_url, r.entry_title) for r in rows]
    # channel-level <title>/<link> never leak: only <item>/<entry> blocks
    # scan. RSS item 2 has no title; item 3 (no link) and item 4 (ftp)
    # drop; entities decode; whitespace collapses.
    assert got == [
        ("http://site.ex/atom", 0, "https://site.ex/e/1", "E1"),
        ("http://site.ex/atom", 1, "https://site.ex/e/2", None),
        ("http://site.ex/feed.xml", 0, "http://site.ex/p/1?a=1&b=2",
         "First post"),
        ("http://site.ex/feed.xml", 1, "http://site.ex/p/2", None),
    ]


def test_feed_entries_malformed_unclosed_item_absorbs_next(spark):
    """Pinned malformed-feed behavior: a lazy entry scan means an item
    missing </item> absorbs through the NEXT entry's closing tag — one
    merged block whose first <link> wins."""
    xml = ("<rss><item><link>http://a.ex/1</link>"
           "<item><link>http://a.ex/2</link></item></rss>")
    feeds = spark.createDataFrame([("u", xml)], "url string, xml string")
    rows = feed_entries(feeds).collect()
    assert [(r.pos, r.entry_url) for r in rows] == [(0, "http://a.ex/1")]
