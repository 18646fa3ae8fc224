"""Outlink extraction parity: the engine's JVM regex+resolution pipeline
(operators/links.py) vs an independent html.parser-based oracle, and the
full crawl loop driven by REAL extracted links vs the single-process
oracle crawler (BASELINE.json exact fetch-ordering gate, now with link
discovery from fetched html instead of synthetic expansion)."""

from pyspark.sql import functions as F

from warcio_spark.kernels.urls import canonicalize_url
from warcio_spark.operators.links import (
    extract_outlinks,
    oracle_extract_hrefs,
    oracle_http_meta,
    oracle_page_outlinks,
    oracle_redirect_candidates,
    oracle_resolve,
    page_outlinks_fn,
    redirect_candidates,
)
from warcio_spark.plans import crawl as crawlmod
from warcio_spark.plans import reference_crawler as oracle
from warcio_spark.plans.frontier import PolitenessConfig
from warcio_spark.sources import synth_pages
from warcio_spark.sources.pages import (
    make_robots_page,
    page_hrefs,
    synth_robots_pages,
)

CFG = PolitenessConfig(slot_seconds=60, default_crawl_delay=5.0,
                       max_host_budget=100, salt_buckets=4)
OCFG = oracle.OracleConfig(slot_seconds=60, default_crawl_delay=5.0,
                           max_host_budget=100)


def test_generator_hrefs_roundtrip_through_markup():
    """The oracle extractor recovers exactly the generator's href list from
    the rendered anchors (quoting/attr-case variants included)."""
    from warcio_spark.sources.pages import _anchor_markup

    for i in range(0, 300, 7):
        assert oracle_extract_hrefs(_anchor_markup(i)) == page_hrefs(i), i


def test_extract_outlinks_matches_oracle(spark):
    pages = synth_pages(spark, 400, partitions=4)
    got = {}
    rows = (
        extract_outlinks(pages, url_col="url", html_col="html",
                         text_col="text")
        .select("src_url", "pos", "outlink")
        .collect()
    )
    for r in rows:
        got.setdefault(r.src_url, set()).add((r.pos, r.outlink))

    n_links = 0
    for p in pages.collect():
        # sets: dup-url page rows (same url, same content, later warc_ts)
        # legitimately contribute identical link rows twice
        want = set()
        for pos, href in enumerate(oracle_extract_hrefs(p.text)):
            resolved = oracle_resolve(p.url, href)
            if resolved is not None:
                want.add((pos, resolved))
        assert got.get(p.url, set()) == want, p.url
        n_links += len(want)
    assert n_links > 300  # the corpus genuinely exercises extraction


def test_extract_outlinks_decodes_html_when_no_text_column(spark):
    """Without a text column the operator pays the Arrow decode itself —
    same results (gzip/chunked/charset payload variants included)."""
    pages = synth_pages(spark, 120, partitions=2)
    with_text = (
        extract_outlinks(pages, url_col="url", text_col="text")
        .select("src_url", "pos", "outlink")
    )
    decoded = (
        extract_outlinks(pages.drop("text"), url_col="url", html_col="html")
        .select("src_url", "pos", "outlink")
    )
    assert sorted(map(tuple, with_text.collect())) == sorted(
        map(tuple, decoded.collect())
    )


def test_hostile_markup_extraction_matches_html_parser(spark):
    """Attribute-aware extraction on markup the synthetic corpus never
    renders: href= inside other attribute NAMES (data-href, xlink:href),
    inside quoted attribute VALUES (title=\"href=nope\"), non-anchor tags
    whose name starts with 'a' (<abbr>), unquoted attrs ahead of href."""
    docs = [
        '<a data-href="/tracked" href="/real">x</a>',
        '<a title="href=nope" href="/real">x</a>',
        '<abbr href="/not-an-anchor">x</abbr>',
        '<a xlink:href="/svg" href="/real">x</a>',
        '<a class=c id=z href="/real">x</a>',
        "<a title='has href=deep inside' href=/bare>x</a>",
        '<a href="/one">a</a> text <a href="/two">b</a>',
        '<area href="/map">',
        '<a <a href=/x>',  # malformed nesting: scan stops at tag-open
    ]
    df = spark.createDataFrame(
        [(f"http://h{i}.example.com/p/x.html", d) for i, d in enumerate(docs)],
        "page_url string, text string",
    )
    got = {}
    for r in (
        extract_outlinks(df, url_col="page_url", text_col="text")
        .select("src_url", "pos", "href")
        .collect()
    ):
        got.setdefault(r.src_url, []).append((r.pos, r.href))
    for i, d in enumerate(docs):
        url = f"http://h{i}.example.com/p/x.html"
        want = [
            (pos, h.split("#", 1)[0].strip())
            for pos, h in enumerate(oracle_extract_hrefs(d))
        ]
        assert sorted(got.get(url, [])) == want, d


def test_sitemap_numeric_refs_documented_gap():
    """Numeric character references are the DOCUMENTED engine/oracle
    divergence: the ET oracle decodes them, the engine passes them
    through (sitemaps.org only requires the five named escapes). This
    test pins the gap so a silent behavior change is caught."""
    from warcio_spark.operators.links import oracle_sitemap_locs

    xml = "<urlset><url><loc>http://h/x?a=1&#38;b=2</loc></url></urlset>"
    assert oracle_sitemap_locs(xml) == ["http://h/x?a=1&b=2"]
    # engine-side regexp+named-entity chain leaves &#38; verbatim — see
    # sitemap_locs docstring; only the named five are decoded


def test_resolution_contract_cases():
    base = "http://h.example.com/a/b/page.html?q=1"
    cases = [
        ("http://x.com/p", "http://x.com/p"),
        ("HTTPS://x.com/p", None),  # non-lowercase scheme: dropped
        ("mailto:a@b", None),
        ("javascript:void(0)", None),
        ("//x.com/p", "http://x.com/p"),
        ("/root.html", "http://h.example.com/root.html"),
        ("?q=2", "http://h.example.com/a/b/page.html?q=2"),
        ("sib.html", "http://h.example.com/a/b/sib.html"),
        ("../up.html", "http://h.example.com/a/b/../up.html"),
        ("#frag", None),
        ("sib.html#frag", "http://h.example.com/a/b/sib.html"),
    ]
    for href, want in cases:
        assert oracle_resolve(base, href) == want, href
    # relative refs against a non-http(s) base are dropped; absolute pass
    assert oracle_resolve("HTTP://H.COM/a", "x.html") is None
    assert oracle_resolve("HTTP://H.COM/a", "http://x.com/p") == "http://x.com/p"
    # ../ resolves at canonicalization time
    assert (
        canonicalize_url("http://h.example.com/a/b/../up.html")
        == "http://h.example.com/a/up.html"
    )


def test_redirect_candidates_match_oracle(spark):
    """3xx Location following: engine (status/location from the shared
    Arrow hop + JVM resolution) vs the independent regex-head oracle."""
    from warcio_spark import functions as WF

    pages = synth_pages(spark, 600, partitions=4)
    fetched = pages.select(
        F.col("url").alias("page_url"),
        "html",
        WF.parse_http_response(F.col("html"), F.col("url")).alias("__m"),
    ).select(
        "page_url", "html",
        F.col("__m.status").alias("http_status"),
        F.col("__m.location").alias("redirect_location"),
    )
    got = {
        (r.src_url, r.outlink)
        for r in redirect_candidates(fetched).select("src_url", "outlink").collect()
    }
    want = set()
    n_redirects = 0
    for p in pages.collect():
        for c in oracle_redirect_candidates({"url": p.url, "html": p.html}, 0):
            want.add((p.url, c["url"]))
            n_redirects += 1
    assert got == want
    assert n_redirects > 10  # the corpus genuinely contains redirects
    # and at least one relative Location resolved against its base
    assert any("/section" in t and s.split("/")[2] in t
               for s, t in want), "no same-host resolution exercised"


def test_sitemap_locs_match_oracle(spark):
    """Sitemap <loc> extraction (JVM regexp + entity decode) vs an
    independent xml.etree implementation, over urlset and sitemapindex
    documents with entities, whitespace, and non-http locs."""
    from warcio_spark.operators.links import oracle_sitemap_locs, sitemap_locs

    docs = [
        ("http://h0.example.com/sitemap.xml",
         '<?xml version="1.0"?>'
         '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
         "<url><loc>http://h0.example.com/a.html</loc>"
         "<lastmod>2024-01-01</lastmod></url>"
         "<url><loc> http://h0.example.com/x?a=1&amp;b=2 </loc></url>"
         "<url><loc>ftp://skip.example.com/f</loc></url>"
         "<url><LOC>https://h0.example.com/case</LOC></url>"
         "<url><loc>https://h0.example.com/last</loc></url>"
         "</urlset>"),
        ("http://h1.example.com/sitemap_index.xml",
         "<sitemapindex><sitemap>"
         "<loc>http://h1.example.com/sitemap-1.xml</loc>"
         "</sitemap><sitemap>"
         "<loc>http://h1.example.com/sitemap-2.xml</loc>"
         "</sitemap></sitemapindex>"),
        ("http://h2.example.com/empty.xml", "<urlset></urlset>"),
    ]
    df = spark.createDataFrame(docs, "url string, xml string")
    got = {}
    for r in sitemap_locs(df).select("src_url", "pos", "loc").collect():
        got.setdefault(r.src_url, []).append((r.pos, r.loc))
    for url, xml in docs:
        want = oracle_sitemap_locs(xml)
        assert [l for _, l in sorted(got.get(url, []))] == want, url
    # entity decode + trim + scheme gate + XML case-sensitivity all hit
    locs0 = [l for _, l in sorted(got[docs[0][0]])]
    assert "http://h0.example.com/x?a=1&b=2" in locs0
    assert "https://h0.example.com/case" not in locs0  # <LOC> != <loc>
    assert "https://h0.example.com/last" in locs0
    assert not any(l.startswith("ftp:") for l in locs0)


def test_resolution_engine_vs_oracle_randomized(spark):
    """Property parity: 600 seeded random (base, href) pairs drawn from a
    grammar of edge shapes — the JVM _resolved expression must agree with
    oracle_resolve on every one (including None/dropped)."""
    import random

    from warcio_spark.operators.links import _resolved

    rng = random.Random(20260817)
    hosts = ["h.example.com", "H.EX.com", "h2.example.org:8080"]
    paths = ["", "/", "/a/b.html", "/a/b/", "/with space/x", "/a/../b.html"]
    queries = ["", "?q=1", "?a=1&b=2"]
    frags = ["", "#top", "#a#b"]
    schemes = ["http", "https", "HTTP", "ftp"]

    def rand_base():
        return "{0}://{1}{2}{3}{4}".format(
            rng.choice(schemes), rng.choice(hosts), rng.choice(paths),
            rng.choice(queries), rng.choice(frags),
        )

    def rand_href():
        k = rng.randrange(10)
        tail = "p{0}.html".format(rng.randrange(100))
        if k == 0:
            return "{0}://x.org/{1}".format(rng.choice(schemes), tail)
        if k == 1:
            return "//peer.org/" + tail
        if k == 2:
            return "/" + tail + rng.choice(frags)
        if k == 3:
            return "?r=" + str(rng.randrange(9))
        if k == 4:
            return "../" + tail
        if k == 5:
            return rng.choice(["mailto:a@b", "javascript:void(0)",
                               "data:text/plain,x", "tel:+1-555"])
        if k == 6:
            return rng.choice(["#frag", "", "  "])
        if k == 7:
            return "./" + tail
        if k == 8:
            return tail + rng.choice(queries) + rng.choice(frags)
        return rng.choice(["a:b:c", "p/" + tail, tail.upper()])

    pairs = [(rand_base(), rand_href()) for _ in range(600)]
    df = spark.createDataFrame(
        [(i, b, h) for i, (b, h) in enumerate(pairs)],
        "i long, base string, href string",
    )
    from warcio_spark.operators.links import _cleaned_href

    got = {
        r.i: r.out
        for r in df.select(
            "i",
            _resolved(F.col("base"), _cleaned_href("href")).alias("out"),
        ).collect()
    }
    for i, (b, h) in enumerate(pairs):
        # the engine pipeline filters empty hrefs out BEFORE resolution —
        # those rows never reach _resolved, so skip them here too
        if not h.split("#", 1)[0].strip():
            continue
        want = oracle_resolve(b, h)
        assert got[i] == want, (b, h, got[i], want)


def test_seeds_from_sitemaps_feed_frontier(spark):
    """Sitemap-sourced seeds flow through prepare_candidates like any
    frontier input: deterministic seq, junk locs dropped, dedup works."""
    from warcio_spark.operators.links import seeds_from_sitemaps
    from warcio_spark.plans.frontier import prepare_candidates

    sm = spark.createDataFrame(
        [
            ("http://h0.example.com/sitemap.xml",
             "<urlset><url><loc>http://h0.example.com/a.html</loc></url>"
             "<url><loc>http://h0.example.com/b.html</loc></url>"
             "<url><loc>ftp://skip/f</loc></url></urlset>"),
            ("http://h1.example.com/sitemap.xml",
             "<urlset><url><loc>http://h0.example.com/a.html</loc></url>"
             "</urlset>"),  # same loc from a second sitemap -> dedup
        ],
        "url string, xml string",
    )
    seeds = seeds_from_sitemaps(sm)
    rows = {(r.url, r.seq) for r in seeds.collect()}
    assert len(rows) == 3  # two from h0's map, one dup from h1's
    assert all(r[1] >= (1 << 48) for r in rows)
    # deterministic across re-evaluation
    assert rows == {(r.url, r.seq) for r in seeds.collect()}

    prepped = prepare_candidates(seeds, None, None, CFG)
    got = {r.url_canon for r in prepped.collect()}
    assert got == {
        "http://h0.example.com/a.html",
        "http://h0.example.com/b.html",
    }


def test_crawl_with_real_outlinks_matches_oracle(spark, tmp_path):
    """Multi-round crawl parity with link discovery from the fetched html:
    the Spark loop (fetch join -> JVM href extraction -> frontier) must
    reproduce the oracle crawler's exact fetch order + seen set."""
    pages = synth_pages(spark, 500, partitions=4).cache()
    page_rows = pages.collect()
    pages_by_canon = {canonicalize_url(r.url): r for r in page_rows}

    seeds_list = [
        {"url": r.url, "priority": float((i * 13) % 100) / 2, "seq": i}
        for i, r in enumerate(page_rows)
        if i % 3 == 0
    ]

    def oracle_fn(c):
        p = pages_by_canon.get(c["url_canon"])
        if p is None:
            return []
        return oracle_page_outlinks(
            {"url": p.url, "text": p.text}, c["seq"]
        ) + oracle_redirect_candidates({"url": p.url, "html": p.html}, c["seq"])

    want_log, want_seen = oracle.crawl(seeds_list, {}, oracle_fn, rounds=3,
                                       cfg=OCFG)

    seeds = spark.createDataFrame(
        [(c["url"], c["priority"], c["seq"]) for c in seeds_list],
        "url string, priority double, seq long",
    ).repartition(5)
    state_dir = str(tmp_path / "crawl_links")
    crawlmod.crawl(spark, seeds, None, state_dir, rounds=3, cfg=CFG,
                   outlinks_fn=page_outlinks_fn(pages))

    got = [
        (r.round, r.fetch_order, r.url_canon)
        for r in crawlmod.fetch_log(spark, state_dir)
        .orderBy("round", "fetch_order")
        .collect()
    ]
    assert got == sorted(want_log, key=lambda t: (t[0], t[1]))

    state = crawlmod.RoundState(state_dir)
    got_seen = {
        r.url_canon
        for r in state.read(spark, state.last_round(), "seen").collect()
    }
    assert got_seen == want_seen
    # link discovery actually grew the crawl beyond the seed set
    assert len(want_seen) > len(seeds_list)
    pages.unpersist()


def test_self_contained_crawl_with_corpus_robots(spark, tmp_path):
    """The COMPLETE real-crawl loop with nothing injected: robots rules
    derived from fetched /robots.txt bodies in the corpus, links and
    redirect targets from fetched html — exact fetch-order/seen parity vs
    the oracle crawler fed the same derived inputs."""
    from warcio_spark import functions as WF
    from warcio_spark.kernels.robots import parse_robots_txt
    from warcio_spark.plans.frontier import robots_table_from_pages

    n_hosts = 60
    pages = synth_pages(spark, 500, n_hosts=n_hosts, partitions=4).cache()
    page_rows = pages.collect()
    pages_by_canon = {canonicalize_url(r.url): r for r in page_rows}

    # engine side: robots table from the corpus' own /robots.txt responses
    rp = synth_robots_pages(spark, n_hosts).select(
        "host", WF.extract_http_text(F.col("html"), F.col("url")).alias("body")
    )
    rules = robots_table_from_pages(rp)

    # oracle side: the same bodies through the (independently parity-
    # tested) robots parser, in path-rule dict form
    robots_dict = {}
    for h in range(n_hosts):
        r = make_robots_page(h)
        body = bytes(r["html"]).split(b"\r\n\r\n", 1)[1].decode("ascii")
        robots_dict[r["host"]] = parse_robots_txt(body)

    seeds_list = [
        {"url": r.url, "priority": float((i * 13) % 100) / 2, "seq": i}
        for i, r in enumerate(page_rows)
        if i % 3 == 0
    ]

    def oracle_fn(c):
        p = pages_by_canon.get(c["url_canon"])
        if p is None:
            return []
        return oracle_page_outlinks(
            {"url": p.url, "text": p.text}, c["seq"]
        ) + oracle_redirect_candidates({"url": p.url, "html": p.html}, c["seq"])

    want_log, want_seen = oracle.crawl(seeds_list, robots_dict, oracle_fn,
                                       rounds=3, cfg=OCFG)

    seeds = spark.createDataFrame(
        [(c["url"], c["priority"], c["seq"]) for c in seeds_list],
        "url string, priority double, seq long",
    ).repartition(4)
    state_dir = str(tmp_path / "crawl_full")
    crawlmod.crawl(spark, seeds, rules, state_dir, rounds=3, cfg=CFG,
                   outlinks_fn=page_outlinks_fn(pages))

    got = [
        (r.round, r.fetch_order, r.url_canon)
        for r in crawlmod.fetch_log(spark, state_dir)
        .orderBy("round", "fetch_order")
        .collect()
    ]
    assert got == sorted(want_log, key=lambda t: (t[0], t[1]))

    state = crawlmod.RoundState(state_dir)
    got_seen = {
        r.url_canon
        for r in state.read(spark, state.last_round(), "seen").collect()
    }
    assert got_seen == want_seen
    # robots actually denied something (full-deny hosts exist: h % 13 == 1)
    denied = [
        c for c in seeds_list
        if not_allowed(robots_dict, canonicalize_url(c["url"]))
    ]
    assert denied, "corpus robots never denied a seed — test is vacuous"
    pages.unpersist()


def not_allowed(robots_dict, canon):
    import re

    from warcio_spark.kernels.robots import robots_allowed
    from warcio_spark.kernels.urls import url_host

    rule = robots_dict.get(url_host(canon))
    if rule is None:
        return False
    m = re.match(r"^[a-z][a-z0-9+.-]*://[^/]+(/.*)$", canon)
    return not robots_allowed(m.group(1) if m else "/", rule)


def test_outlink_structs_matches_extract_outlinks(spark):
    """The array-valued WAT helper and the exploding frontier extractor
    must agree row-for-row (pos, href, resolved url) — one extraction
    contract, two consumption shapes."""
    from warcio_spark.operators.links import outlink_structs

    pages = synth_pages(spark, 300, partitions=4)
    arr = (
        pages.select(
            F.col("url").alias("src_url"),
            F.explode(
                outlink_structs(F.col("url"), F.col("text"))
            ).alias("e"),
        )
        .select("src_url", "e.pos", "e.href", F.col("e.url").alias("outlink"))
    )
    exploded = extract_outlinks(
        pages, url_col="url", html_col="html", text_col="text"
    ).select("src_url", "pos", "href", "outlink")
    a = sorted(map(tuple, arr.collect()))
    b = sorted(map(tuple, exploded.collect()))
    assert a == b and len(a) > 200


def test_host_graph_and_rank_against_python_oracle(spark):
    """plans/graph.py vs an independent single-process implementation:
    identical edges and, after 3 power iterations, ranks equal to 1e-12
    — including dropped self-edges, weighted fractions, dangling hosts
    (no out-edges), and hosts reachable only via in-links."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from warcio_spark.plans.graph import host_graph, host_rank

    rows = []
    for i in range(400):
        src = "http://H%d.ex.com%s/p/%d" % (
            i % 13, ":8080" if i % 4 == 0 else "", i)
        dst = "http://h%d.ex.com/q" % ((i * 5 + 2) % 17)
        rows.append((src, dst))
    df = spark.createDataFrame(rows, "page_url string, outlink string")
    edges = host_graph(df).collect()

    # python oracle: same aggregation
    want_edges = defaultdict(int)
    for src, dst in rows:
        want_edges[("h%d.ex.com" % (int(src.split(".ex.com")[0][8:]) % 13),
                    dst.split("//")[1].split("/")[0])] += 1
    got_edges = {(r.src_host, r.dst_host): r.n_links for r in edges}
    assert got_edges == dict(want_edges)

    # python oracle: weighted pagerank, self-edges dropped
    e = {k: v for k, v in want_edges.items() if k[0] != k[1]}
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    n = len(nodes)
    outw = defaultdict(int)
    for (s, _), w in e.items():
        outw[s] += w
    rank = {h: 1.0 / n for h in nodes}
    for _ in range(3):
        nxt = {h: (1.0 - 0.85) / n for h in nodes}
        for (s, d), w in e.items():
            nxt[d] += 0.85 * rank[s] * (w / outw[s])
        rank = nxt

    got = {r.host: r.rank for r in host_rank(
        spark.createDataFrame(
            [(s, d, w) for (s, d), w in want_edges.items()],
            "src_host string, dst_host string, n_links long",
        ), iterations=3).collect()}
    assert set(got) == set(rank)
    for h in rank:
        assert abs(got[h] - rank[h]) < 1e-12, h
    # sanity: mass actually moved (not uniform)
    assert max(got.values()) > min(got.values())


def _rank_universe_edges():
    """The test_host_graph_and_rank_against_python_oracle universe as
    (src_host, dst_host) -> n_links: 13 source hosts (port variants fold
    together) fanning into 17 destination hosts, self-edges included."""
    from collections import defaultdict

    edges = defaultdict(int)
    for i in range(400):
        src, dst = i % 13, (i * 5 + 2) % 17
        edges[("h%d.ex.com" % src, "h%d.ex.com" % dst)] += 1
    return dict(edges)


def test_trust_rank_against_python_oracle(spark):
    """plans/graph.trust_rank vs an independent single-process seeded
    power iteration on the host_rank oracle universe, equal to 1e-12:
    teleport mass lands only on the seeds, and a seed absent from the
    graph is ignored."""
    from collections import defaultdict

    from warcio_spark.plans.graph import trust_rank

    want_edges = _rank_universe_edges()
    e = {k: v for k, v in want_edges.items() if k[0] != k[1]}
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    seeds = ["h3.ex.com", "h14.ex.com", "absent.ex.com"]
    seeded = [h for h in nodes if h in seeds]
    outw = defaultdict(int)
    for (s, _), w in e.items():
        outw[s] += w
    trust = {h: (1.0 / len(seeded) if h in seeded else 0.0) for h in nodes}
    for _ in range(3):
        nxt = {h: ((1.0 - 0.85) / len(seeded) if h in seeded else 0.0)
               for h in nodes}
        for (s, d), w in e.items():
            nxt[d] += 0.85 * trust[s] * (w / outw[s])
        trust = nxt

    got = {r.host: r.trust for r in trust_rank(
        spark.createDataFrame(
            [(s, d, w) for (s, d), w in want_edges.items()],
            "src_host string, dst_host string, n_links long"),
        spark.createDataFrame([(h,) for h in seeds], "host string"),
        iterations=3).collect()}
    assert set(got) == set(trust)
    for h in trust:
        assert abs(got[h] - trust[h]) < 1e-12, h
    # sanity: the seeds hold the most trust
    assert len(seeded) == 2
    assert min(got[h] for h in seeded) > max(
        v for h, v in got.items() if h not in seeded)


def test_trust_rank_with_every_host_seeded_is_host_rank(spark):
    """host_rank is trust_rank with every host as a teleport target: the
    two share one power-iteration core, so the values are equal exactly,
    not just to a tolerance."""
    from warcio_spark.plans.graph import host_rank, trust_rank

    edges = spark.createDataFrame(
        [(s, d, w) for (s, d), w in _rank_universe_edges().items()],
        "src_host string, dst_host string, n_links long")
    hosts = {r.host for r in host_rank(edges, iterations=0).collect()}
    seeds = spark.createDataFrame([(h,) for h in sorted(hosts)],
                                  "host string")
    pr = {r.host: r.rank for r in host_rank(edges, iterations=3).collect()}
    tr = {r.host: r.trust
          for r in trust_rank(edges, seeds, iterations=3).collect()}
    assert set(pr) == hosts and pr == tr


def test_host_hits_against_python_oracle(spark):
    """plans/graph.host_hits vs an independent single-process HITS:
    3 weighted auth/hub sweeps, end-normalized to unit L2, equal to
    1e-12 — including a pure hub (no in-links, authority 0), a pure
    authority (no out-links, hub 0), and self-edge dropping."""
    import math

    from warcio_spark.plans.graph import host_hits

    e = {("hub", "x"): 3, ("hub", "y"): 1, ("b", "x"): 2,
         ("y", "x"): 1, ("x", "x"): 9}  # self-edge must be dropped
    df = spark.createDataFrame(
        [(s, d, w) for (s, d), w in e.items()],
        "src_host string, dst_host string, n_links long")

    e2 = {k: v for k, v in e.items() if k[0] != k[1]}
    nodes = sorted({s for s, _ in e2} | {d for _, d in e2})
    hub = {h: 1.0 for h in nodes}
    for _ in range(3):
        auth = {h: 0.0 for h in nodes}
        for (s, d), w in e2.items():
            auth[d] += w * hub[s]
        hub = {h: 0.0 for h in nodes}
        for (s, d), w in e2.items():
            hub[s] += w * auth[d]
    nh = math.sqrt(sum(v * v for v in hub.values())) or 1.0
    na = math.sqrt(sum(v * v for v in auth.values())) or 1.0

    got = {r.host: r for r in host_hits(df, iterations=3).collect()}
    assert set(got) == set(nodes)
    for h in nodes:
        assert abs(got[h].hub - hub[h] / nh) < 1e-12, h
        assert abs(got[h].authority - auth[h] / na) < 1e-12, h
    assert got["hub"].authority == 0.0  # nothing links to it
    assert got["x"].hub == 0.0  # its only out-edge was the self-edge


def _nf_resp(body: str, status: str = "200 OK", location: str = None) -> bytes:
    b = body.encode("utf-8")
    head = "HTTP/1.1 %s\r\nContent-Type: text/html; charset=utf-8\r\n" % status
    if location is not None:
        head += "Location: %s\r\n" % location
    head += "Content-Length: %d\r\n\r\n" % len(b)
    return head.encode("ascii") + b


def _nf_corpus(n=180):
    """Deterministic corpus exercising the directive-aware crawl mode:
    rel variants on anchors, page-level meta robots nofollow (incl. the
    'none' alias), and a 3xx slice whose BODY says nofollow — proving
    the redirect target still follows while its links do not."""
    rows = []
    for i in range(n):
        url = "http://site%d.example.com/p%d.html" % (i % 6, i)
        rel1 = ["", ' rel="nofollow"', " rel='ugc nofollow'",
                " rel=me"][i % 4]
        rel2 = " rel=NOFOLLOW" if i % 5 == 0 else ""
        head = "<head>"
        if i % 7 == 0:
            head += '<meta name="robots" content="noindex, nofollow">'
        elif i % 11 == 0:
            head += "<meta NAME=robots content=none>"
        head += "</head>"
        body = (
            head
            + '<a href="/p%d.html"%s>a</a> ' % ((i * 7 + 1) % n, rel1)
            + "<a href='http://site%d.example.com/p%d.html'%s>b</a>"
            % ((i + 1) % 6, (i * 3 + 2) % n, rel2)
        )
        if i % 13 == 0:
            target = "/p%d.html" % ((i * 5 + 3) % n)
            html = _nf_resp(body, status="302 Found", location=target)
        else:
            html = _nf_resp(body)
        rows.append((url, html))
    return rows


def test_crawl_respecting_nofollow_matches_oracle(spark, tmp_path):
    """Directive-aware crawl parity: page_outlinks_fn(respect_nofollow=
    True) must reproduce the oracle crawler's exact fetch order + seen
    set when anchors carry rel=nofollow, pages carry meta robots
    nofollow/'none', and nofollow 3xx pages still contribute their
    redirect target."""
    from datetime import datetime, timezone

    rows = _nf_corpus()
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    pages = spark.createDataFrame(
        [(u, ts, bytearray(h)) for u, h in rows],
        "url string, warc_ts timestamp, html binary",
    ).repartition(4).cache()
    pages_by_canon = {canonicalize_url(u): (u, h) for u, h in rows}

    seeds_list = [
        {"url": u, "priority": float((i * 13) % 100) / 2, "seq": i}
        for i, (u, h) in enumerate(rows)
        if i % 3 == 0
    ]

    def oracle_fn(c):
        p = pages_by_canon.get(c["url_canon"])
        if p is None:
            return []
        u, h = p
        text = h.split(b"\r\n\r\n", 1)[1].decode("utf-8")
        return oracle_page_outlinks(
            {"url": u, "text": text}, c["seq"], respect_nofollow=True
        ) + oracle_redirect_candidates({"url": u, "html": h}, c["seq"])

    want_log, want_seen = oracle.crawl(seeds_list, {}, oracle_fn, rounds=3,
                                       cfg=OCFG)

    seeds = spark.createDataFrame(
        [(c["url"], c["priority"], c["seq"]) for c in seeds_list],
        "url string, priority double, seq long",
    ).repartition(5)
    state_dir = str(tmp_path / "crawl_nofollow")
    crawlmod.crawl(spark, seeds, None, state_dir, rounds=3, cfg=CFG,
                   outlinks_fn=page_outlinks_fn(pages,
                                                respect_nofollow=True))

    got = [
        (r.round, r.fetch_order, r.url_canon)
        for r in crawlmod.fetch_log(spark, state_dir)
        .orderBy("round", "fetch_order")
        .collect()
    ]
    assert got == sorted(want_log, key=lambda t: (t[0], t[1]))

    state = crawlmod.RoundState(state_dir)
    got_seen = {
        r.url_canon
        for r in state.read(spark, state.last_round(), "seen").collect()
    }
    assert got_seen == want_seen
    assert len(want_seen) > len(seeds_list)

    # the directives actually bit: the crawl frontier DIFFERS from the
    # ignore-directives crawl on this corpus (not a subset check —
    # dropped links free per-host budget slots for other urls)
    state_dir2 = str(tmp_path / "crawl_follow_all")
    crawlmod.crawl(spark, seeds, None, state_dir2, rounds=3, cfg=CFG,
                   outlinks_fn=page_outlinks_fn(pages))
    state2 = crawlmod.RoundState(state_dir2)
    all_seen = {
        r.url_canon
        for r in state2.read(spark, state2.last_round(), "seen").collect()
    }
    assert got_seen != all_seen
    pages.unpersist()


def test_page_outlinks_fn_nofollow_unit(spark):
    """Unit shape checks for the directive-aware mode: anchor-level drop,
    page-level drop, redirect survives a nofollow page."""
    from datetime import datetime, timezone

    body_page = ('<head><meta name=robots content="nofollow"></head>'
                 '<a href="/x.html">x</a>')
    plain = '<a href="/a.html" rel=nofollow>a</a><a href="/b.html">b</a>'
    rows = [
        ("http://h0.example.com/redir.html",
         _nf_resp(body_page, status="302 Found", location="/moved.html")),
        ("http://h1.example.com/plain.html", _nf_resp(plain)),
    ]
    ts = datetime(2024, 1, 1, tzinfo=timezone.utc)
    pages = spark.createDataFrame(
        [(u, ts, bytearray(h)) for u, h in rows],
        "url string, warc_ts timestamp, html binary",
    )
    from warcio_spark.plans.frontier import with_frontier_keys

    scheduled = with_frontier_keys(spark.createDataFrame(
        [(u, 1.0, i) for i, (u, _) in enumerate(rows)],
        "url string, priority double, seq long",
    ))
    got = sorted(
        r.url for r in page_outlinks_fn(pages, respect_nofollow=True)(
            scheduled).collect()
    )
    # nofollow page: its anchor is dropped, its redirect target kept;
    # plain page: only the non-nofollow anchor survives
    assert got == ["http://h0.example.com/moved.html",
                   "http://h1.example.com/b.html"]
