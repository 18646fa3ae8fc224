"""Image-caption candidate mining parity (operators/links.py:
extract_image_alts / image_caption_table): the engine's JVM regex
pipeline vs an independent html.parser oracle on well-formed markup,
pinned literal expectations on hostile markup, the _resolved contract
via oracle_resolve, and the two-stage caption-table rollup (no
count_distinct Expand in the plan)."""

import re
from html.parser import HTMLParser

from pyspark.sql import functions as F

from warcio_spark.operators.links import (
    MAX_IMGS_PER_PAGE,
    extract_image_alts,
    image_caption_table,
)

from oracles import oracle_resolve


class _ImgOracle(HTMLParser):
    """Document-order (pos, src, alt) per <img>, html.parser's view."""

    def __init__(self):
        super().__init__(convert_charrefs=False)
        self.tags = []

    def handle_starttag(self, tag, attrs):
        if tag == "img":
            self.tags.append(dict(attrs))

    handle_startendtag = handle_starttag


def oracle_image_alts(base, text):
    """(pos, src, alt, image_url) rows mirroring the operator contract:
    pos over ALL img tags pre-filter (capped), src fragment-split+trimmed,
    alt whitespace-normalized, empty src/alt dropped, resolution via the
    shared oracle_resolve (which also drops non-http(s) schemes)."""
    p = _ImgOracle()
    p.feed(text)
    out = []
    for pos, attrs in enumerate(p.tags[:MAX_IMGS_PER_PAGE]):
        raw_src = attrs.get("src") or ""
        src = raw_src.split("#", 1)[0].strip()
        alt = re.sub(r"\s+", " ", attrs.get("alt") or "").strip()
        if not src or not alt:
            continue
        resolved = oracle_resolve(base, raw_src)
        if resolved is None:
            continue
        out.append((pos, src, alt, resolved))
    return out


WELL_FORMED = [
    # three quoting forms, both attribute orders, self-closing, case
    '<img src="http://cdn.ex/a.jpg" alt="a photo">',
    "<img alt='b  diagram' src='/img/b.png'>",
    "<img src=c.gif alt=iconic>",
    '<IMG SRC="../up.png" ALT="parent dir" />',
    '<img width="10" src="//cdn.ex/p.webp" height=2 alt="proto rel">',
    # droppers that still occupy a pos slot
    '<img src="/no-alt.png"> <img src="x.png" alt="  "> '
    '<img alt="no src"> <img src="" alt="empty src"> '
    '<img src="q.png" alt="kept after drops">',
    # scheme filtering + fragment strip + query-relative
    '<img src="data:image/png;base64,AA" alt="inline"> '
    '<img src="javascript:alert(1)" alt="js"> '
    '<img src="f.png#frag" alt="frag strip"> '
    '<img src="?v=2" alt="query rel">',
    # whitespace inside quoted values, alt runs collapse
    '<img src="  /pad.png  " alt=" padded\talt\n text ">',
    # interleaved non-img markup; imgs inside anchors
    '<a href="/x"><img src="t1.png" alt="thumb one"></a> text '
    '<p><img src="t2.png" alt="thumb two"></p>',
]


def test_extract_image_alts_matches_html_parser(spark):
    df = spark.createDataFrame(
        [
            (f"http://h{i}.example.com/sec/p{i}.html?q=1", d)
            for i, d in enumerate(WELL_FORMED)
        ],
        "page_url string, text string",
    )
    got = {}
    for r in (
        extract_image_alts(df, url_col="page_url", text_col="text")
        .select("src_url", "pos", "src", "alt", "image_url")
        .collect()
    ):
        got.setdefault(r.src_url, []).append(
            (r.pos, r.src, r.alt, r.image_url)
        )
    n = 0
    for i, d in enumerate(WELL_FORMED):
        url = f"http://h{i}.example.com/sec/p{i}.html?q=1"
        want = oracle_image_alts(url, d)
        assert sorted(got.get(url, [])) == want, d
        n += len(want)
    assert n >= 10  # the corpus genuinely exercises extraction


def test_extract_image_alts_hostile_markup_pinned(spark):
    """Markup where html.parser and a linear scan legitimately diverge:
    pinned literal expectations (the engine contract), like
    test_hostile_markup_extraction_matches_html_parser pins anchors."""
    base = "http://h.example.com/d/p.html"
    cases = [
        # data-src must NOT satisfy the src attr (lazy-load miss is by
        # design: LAION mined src= only); alt= inside a VALUE stays inert
        ('<img data-src="lazy.jpg" alt="lazy">', []),
        ('<img title="alt=nope" src="/r.png" alt="real">',
         [(0, "/r.png", "real", "http://h.example.com/r.png")]),
        # quoted '>' cannot close the tag
        ('<img alt="a > b" src="/gt.png">',
         [(0, "/gt.png", "a > b", "http://h.example.com/gt.png")]),
        # quoting precedence: first double-quoted src wins over bare
        ('<img src=bare.png src="/quoted.png" alt=x>',
         [(0, "/quoted.png", "x", "http://h.example.com/quoted.png")]),
        # malformed nesting: scan restarts at the inner tag-open
        ("<img <img src=/x.png alt=y>",
         [(0, "/x.png", "y", "http://h.example.com/x.png")]),
        # non-img tags whose name starts with img
        ('<imgx src="/not.png" alt="no">', []),
    ]
    df = spark.createDataFrame(
        [(f"{base}?c={i}", d) for i, (d, _) in enumerate(cases)],
        "page_url string, text string",
    )
    got = {}
    for r in (
        extract_image_alts(df, url_col="page_url", text_col="text")
        .select("src_url", "pos", "src", "alt", "image_url")
        .collect()
    ):
        got.setdefault(r.src_url, []).append(
            (r.pos, r.src, r.alt, r.image_url)
        )
    for i, (d, want) in enumerate(cases):
        url = f"{base}?c={i}"
        assert sorted(got.get(url, [])) == want, d


def test_extract_image_alts_pos_caps_at_max(spark):
    text = "".join(
        f'<img src="/i{i}.png" alt="a{i}">'
        for i in range(MAX_IMGS_PER_PAGE + 8)
    )
    df = spark.createDataFrame(
        [("http://h.example.com/p.html", text)],
        "page_url string, text string",
    )
    rows = extract_image_alts(
        df, url_col="page_url", text_col="text"
    ).collect()
    assert len(rows) == MAX_IMGS_PER_PAGE
    assert max(r.pos for r in rows) == MAX_IMGS_PER_PAGE - 1


def test_image_caption_table_rollup(spark):
    """n_pages counts distinct referring pages, n_refs total tags; the
    two-stage rollup must not plan a count_distinct Expand."""
    mk = '<img src="{s}" alt="{a}">'
    rows = [
        # banner.png/"logo" on 2 pages, 3 tags total
        ("http://a.ex/p1", mk.format(s="http://c.ex/banner.png", a="logo")
         + mk.format(s="http://c.ex/banner.png", a="logo")),
        ("http://a.ex/p2", mk.format(s="http://c.ex/banner.png", a="logo")),
        # same image, different caption = a different pair row
        ("http://a.ex/p3", mk.format(s="http://c.ex/banner.png", a="hero")),
        ("http://a.ex/p4", mk.format(s="/rel.png", a="relative")),
    ]
    df = spark.createDataFrame(rows, "page_url string, text string")
    tbl = image_caption_table(df, url_col="page_url", text_col="text")
    got = {
        (r.image_url, r.alt): (r.n_pages, r.n_refs) for r in tbl.collect()
    }
    assert got == {
        ("http://c.ex/banner.png", "logo"): (2, 3),
        ("http://c.ex/banner.png", "hero"): (1, 1),
        ("http://a.ex/rel.png", "relative"): (1, 1),
    }
    plan = tbl._jdf.queryExecution().executedPlan().toString()
    assert "Expand" not in plan


def test_image_fetch_frontier(spark):
    """Demand/n_caps rollup, media-store anti-join, per-host demand-first
    cap — and the two-phase top-k equals a plain per-host window (the
    correctness claim of the bucketed phase) at several bucket counts
    and parallelism levels."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from warcio_spark.operators.links import image_fetch_frontier

    # caption table shape: (image_url, alt, n_pages, n_refs)
    rows = []
    # host a.ex: 30 images, img k wanted by k pages (demand ladder)
    for k in range(30):
        rows.append((f"http://a.ex/i{k:02d}.jpg", "cap", k + 1, k + 1))
    # the top-demand image also has a second caption (+2 pages)
    rows.append(("http://a.ex/i29.jpg", "other cap", 2, 2))
    # host b.ex: two images, one already fetched
    rows.append(("http://b.ex/x.jpg", "x", 5, 5))
    rows.append(("http://b.ex/y.jpg", "y", 7, 7))
    # no parseable host -> dropped
    rows.append(("data:image/png;base64,AA", "inline", 1, 1))
    caps = spark.createDataFrame(
        rows, "image_url string, alt string, n_pages long, n_refs long"
    )
    fetched = spark.createDataFrame(
        [("http://b.ex/x.jpg",), ("http://elsewhere.ex/z.jpg",)],
        "url string",
    )

    out = image_fetch_frontier(caps, fetched, max_per_host=8)
    got = {r.image_url: (r.host, r.n_caps, r.demand, r.fetch_rank)
           for r in out.collect()}
    # b.ex: only the unfetched image survives
    assert got["http://b.ex/y.jpg"] == ("b.ex", 1, 7, 1)
    assert "http://b.ex/x.jpg" not in got
    # a.ex: capped at 8, demand-first; i29 has 2 captions, demand 30+2
    a = {u: v for u, v in got.items() if v[0] == "a.ex"}
    assert len(a) == 8
    assert a["http://a.ex/i29.jpg"] == ("a.ex", 2, 32, 1)
    assert a["http://a.ex/i28.jpg"][3] == 2
    assert "data:image/png;base64,AA" not in got

    # two-phase == plain window, across buckets and partitioning
    wanted = (
        caps.groupBy("image_url")
        .agg(F.sum("n_pages").cast("long").alias("demand"),
             F.count(F.lit(1)).alias("n_caps"))
        .join(fetched.withColumnRenamed("url", "image_url"),
              "image_url", "left_anti")
        .withColumn("host", F.nullif(F.lower(F.regexp_extract(
            "image_url",
            "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1)),
            F.lit("")))
        .filter(F.col("host").isNotNull())
    )
    plain = (
        wanted.withColumn("fetch_rank", F.row_number().over(
            Window.partitionBy("host").orderBy(
                F.desc("demand"), F.asc("image_url"))))
        .filter(F.col("fetch_rank") <= 8)
        .select("image_url", "host", "n_caps", "demand", "fetch_rank")
    )
    want = sorted(map(tuple, plain.collect()))
    for buckets in (1, 2, 32):
        for parts in (1, 7):
            got2 = image_fetch_frontier(
                caps.repartition(parts), fetched, max_per_host=8,
                buckets=buckets,
            )
            assert sorted(map(tuple, got2.collect())) == want, (
                buckets, parts)
    # no media store: everything wanted survives
    assert image_fetch_frontier(caps, None, max_per_host=99).count() == 32
