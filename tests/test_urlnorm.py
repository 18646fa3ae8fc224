"""URL canonicalization kernel + the JVM fast-path invariant."""

import random
import string

from warcio_spark.kernels.urls import canonicalize_url, repair_uri, url_host


def test_canonicalize_cases():
    cases = {
        "HTTP://Example.COM:80/a/../b?q=1#frag": "http://example.com/b?q=1",
        "https://h.com:443/x": "https://h.com/x",
        "https://h.com:8443/x": "https://h.com:8443/x",
        "http://h.com": "http://h.com/",
        "http://h.com/%7euser/%41%2F": "http://h.com/~user/A%2F",
        "http://h.com/a/./b/../c": "http://h.com/a/c",
        "http://h.com/a b": "http://h.com/a%20b",
        "<http://h.com/x>": "http://h.com/x",
        "dns:example.com": "dns:example.com",  # no netloc: unchanged
        "": "",
    }
    for raw, want in cases.items():
        assert canonicalize_url(raw) == want, raw


def test_canonicalize_idempotent_random():
    rng = random.Random(11)
    alphabet = string.ascii_letters + string.digits + "/.-_~%?=& :#<>"
    for _ in range(500):
        raw = "http://h" + "".join(
            rng.choice(alphabet) for _ in range(rng.randrange(0, 40))
        )
        c1 = canonicalize_url(raw)
        assert canonicalize_url(c1) == c1, (raw, c1)


def _is_canonical(spark, urls):
    """is_canonical_expr evaluated in Spark, the gate production keying
    uses (functions.with_canonical_url), per url in order."""
    from pyspark.sql import functions as F

    from warcio_spark.functions import is_canonical_expr

    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               "i long, url string")
    rows = df.select("i", is_canonical_expr(F.col("url")).alias("c")).collect()
    return [c for _, c in sorted(rows)]


def test_fast_path_regex_means_already_canonical(spark):
    """The JVM fast path may only ever admit urls the kernel would return
    unchanged."""
    rng = random.Random(5)
    urls = []
    for i in range(3000):
        host = "host{0}.example{1}.com".format(i % 97, i % 7)
        path_alphabet = string.ascii_letters + string.digits + "_-./~"
        path = "/" + "".join(rng.choice(path_alphabet) for _ in range(rng.randrange(0, 25)))
        if i % 50 == 0:  # dot segments, mid-path, at the end, before '?'
            path += ("/./x", "/../x", "/.", "/..")[i // 50 % 4]
        q = "?q=" + str(i % 9) if i % 3 == 0 else ""
        urls.append("http://" + host + path + q)
    matched = [u for u, c in zip(urls, _is_canonical(spark, urls)) if c]
    for u in matched:
        assert canonicalize_url(u) == u, u
    assert len(matched) > 2000  # the fast path really is the common case


def test_url_host():
    assert url_host("http://User@Example.COM:8080/x") == "example.com"
    assert url_host("not a url") is None
    assert url_host(None) is None
    assert repair_uri("<http://x/ y>") == "http://x/%20y"


def test_trailing_bare_query_takes_kernel_path(spark):
    """'http://h/p?' canonicalizes to 'http://h/p' (urlunsplit strips the
    bare '?'); the JVM fast path must NOT accept it as already-canonical or
    the two spellings of one url would get different url_hash values."""
    assert canonicalize_url("http://h.com/p?") == "http://h.com/p"
    assert canonicalize_url("http://h.com/p?q=1") == "http://h.com/p?q=1"
    # non-empty queries still take the fast path
    assert _is_canonical(spark, ["http://h.com/p?", "http://h.com/p?q=1"]) \
        == [False, True]


def test_split_union_canonicalization_equals_pudf(spark):
    """with_canonical_url (JVM split-union) must yield exactly the pUDF/
    kernel result for every url — canonical, messy, adversarial, NULL —
    and must not lose rows (NULL urls take the slow branch). A url ending
    in a line terminator is not canonical: '$' would match before it in
    the Java fast-path regex, the kernel strips it."""
    from pyspark.sql import functions as F

    from warcio_spark import functions as WF

    urls = [
        "http://h.com/a/b?q=1",
        "http://h.com/p?",
        "http://h.com/a\n",
        "http://h.com/a?q=1\n",
        "http://h.com/a\r\n",
        "HTTP://Example.COM:80/a/../b?q=1#frag",
        "http://h.com/a b",
        "<http://h.com/x>",
        "http://h.com/a/./b",
        "http://h.com/x/..",
        "https://h.com/ok.path~x?a=1&b=2.c",
        "http://UPPER.com/x",
        "http://h.com",
        "dns:example.com",
        "",
        None,
    ] + ["http://host%d.example.com/doc/%d?src=s%d" % (i % 7, i, i % 3)
         for i in range(200)]
    df = spark.createDataFrame([(u, i) for i, u in enumerate(urls)],
                               "url string, i long").repartition(4)
    split = {r.i: r.url_canon
             for r in WF.with_canonical_url(df, "url").collect()}
    pudf = {r.i: r.c
            for r in df.select("i", WF.canonicalize_url("url").alias("c")).collect()}
    assert len(split) == len(urls)
    assert split == pudf
    assert split == {i: None if u is None else canonicalize_url(u)
                     for i, u in enumerate(urls)}
    assert split[2] == split[4] == "http://h.com/a"
    assert split[3] == "http://h.com/a?q=1"


def test_url_trap_signals_hand_cases(spark):
    """Crawl-trap heuristics against hand-computed expectations."""
    from warcio_spark.plans.frontier import url_trap_signals

    cases = [
        # url, depth, n_params, dup_segments, is_trap
        ("http://h.com/a/b/c.html", 3, 0, 0, False),
        ("http://h.com/", 0, 0, 0, False),
        ("http://h.com/x?a=1&b=2", 1, 2, 0, False),
        ("http://h.com/loop/loop/loop/loop/p", 5, 0, 3, True),
        ("http://h.com" + "/s" * 13 + "/p", 14, 0, 12, True),
        ("http://h.com/q?" + "&".join(f"p{i}=1" for i in range(13)),
         1, 13, 0, True),
        ("http://h.com/a/a/b", 3, 0, 1, False),
    ]
    df = spark.createDataFrame(
        [(u, i) for i, (u, *_) in enumerate(cases)], "url string, i long"
    )
    got = {r.i: r for r in url_trap_signals(df).collect()}
    for i, (u, depth, n_params, dups, trap) in enumerate(cases):
        r = got[i]
        assert (r.path_depth, r.n_params, r.dup_segments, r.is_trap) == (
            depth, n_params, dups, trap
        ), u
        assert r.url_len == len(u)


def _py_strip_tracking(url, names=None, prefixes=("utm_",)):
    """Independent replay of strip_tracking_params (pure python)."""
    from warcio_spark.functions import DEFAULT_TRACKING_PARAMS

    names = set(DEFAULT_TRACKING_PARAMS if names is None else names)
    head, sep, rest = url.partition("?")
    if not sep or "#" in head:
        return url
    query, hsep, frag = rest.partition("#")
    kept = []
    for p in query.split("&"):
        key = p.split("=", 1)[0].lower()
        if key in names or any(key.startswith(pf) for pf in prefixes):
            continue
        kept.append(p)
    q2 = "&".join(kept)
    return head + ("?" + q2 if q2 else "") + hsep + frag


def test_strip_tracking_params(spark):
    from pyspark.sql import functions as F

    from warcio_spark.functions import strip_tracking_params

    cases = [
        "http://h.example.com/p?utm_source=tw&id=3&utm_medium=email",
        "http://h.example.com/p?gclid=abc123",
        "http://h.example.com/p?id=3",
        "http://h.example.com/p",
        "http://h.example.com/p?utm_campaign=x",
        "http://h.example.com/p?a=1&&fbclid=z&b=2",
        "http://h.example.com/p?UTM_SOURCE=case&x=1",
        "http://h.example.com/p?utm_source=a#frag?utm_source=keep",
        "http://h.example.com/p#frag?utm_source=keep",
        "http://h.example.com/p?mc_eid=9&ref=ok&yclid",
        "http://h.example.com/p?x=a=b&utm_x=1",
        "http://h.example.com/p?",
    ]
    df = spark.createDataFrame([(u,) for u in cases], ["url"])
    got = {r.url: r.clean for r in df.select(
        "url", strip_tracking_params("url").alias("clean")).collect()}
    for u in cases:
        assert got[u] == _py_strip_tracking(u), u
    # spot-pin the interesting ones
    assert got[cases[0]] == "http://h.example.com/p?id=3"
    assert got[cases[1]] == "http://h.example.com/p"
    assert got[cases[5]] == "http://h.example.com/p?a=1&&b=2"
    assert got[cases[7]] == "http://h.example.com/p#frag?utm_source=keep"
    assert got[cases[8]] == cases[8]  # '?' lives in the fragment
    assert got[cases[9]] == "http://h.example.com/p?ref=ok"
    assert got[cases[10]] == "http://h.example.com/p?x=a=b"


def test_strip_tracking_params_custom_lists(spark):
    from warcio_spark.functions import strip_tracking_params

    df = spark.sql("SELECT 'http://h/p?sid=1&utm_a=2&tok_x=3&ok=4' AS url")
    got = df.select(strip_tracking_params(
        "url", params=["sid"], prefixes=["tok_"]).alias("c")).collect()[0].c
    assert got == "http://h/p?utm_a=2&ok=4"
    # empty lists strip nothing
    got = df.select(strip_tracking_params(
        "url", params=[], prefixes=[]).alias("c")).collect()[0].c
    assert got == "http://h/p?sid=1&utm_a=2&tok_x=3&ok=4"
