"""Pure-Python and pure-expression reference implementations the engine's
operators are tested against. They live here, not in ``warcio_spark``,
because no query, crawl or script runs them: each is the independent
twin of one engine operator.

- ``oracle_*``: html.parser / regex twins of ``operators/links.py``
  (outlink extraction and resolution, redirects, sitemap ``<loc>``s,
  robots nofollow), used by the crawl-parity tests;
- ``cosine_similarity_expr``: the zip_with/aggregate cosine that
  ``operators/dedup.cosine_similarity``'s Arrow fold must equal bit for bit.
"""

from pyspark.sql import Column
from pyspark.sql import functions as F

from warcio_spark.operators.links import (
    MAX_LINKS_PER_PAGE,
    MAX_METAS_PER_PAGE,
    OUTLINK_SEQ_BASE,
    REDIRECT_SEQ_BASE,
)


def oracle_sitemap_locs(xml: str) -> list:
    """Independent implementation: xml.etree over the sitemap namespace(s),
    falling back to a namespace-agnostic local-name scan."""
    import xml.etree.ElementTree as ET

    try:
        root = ET.fromstring(xml)
    except ET.ParseError:
        return []
    out = []
    for el in root.iter():
        if el.tag.rsplit("}", 1)[-1] == "loc" and el.text:
            t = el.text.strip()
            if t.startswith(("http://", "https://")):
                out.append(t)
    return out


def oracle_page_outlinks(page: dict, src_seq: int,
                         respect_nofollow: bool = False) -> list:
    """The oracle-crawler twin of ``page_outlinks_fn`` for one fetched page
    dict (url, text): extract + resolve hrefs with an INDEPENDENT
    implementation (html.parser + explicit resolution), then assign the
    same deterministic priority/seq. Used by crawl-parity tests.

    ``respect_nofollow=True`` mirrors the engine's directive-aware mode:
    pos counts ALL anchor tags, rel-nofollow anchors are dropped, and a
    page-level robots nofollow (``oracle_robots_nofollow``) yields no
    links."""
    out = []
    s = src_seq % (1 << 40)
    if respect_nofollow:
        if oracle_robots_nofollow(page["text"]):
            return []
        anchors = oracle_extract_anchors(page["text"])[:MAX_LINKS_PER_PAGE]
        entries = [
            (pos, href)
            for pos, (href, rel) in enumerate(anchors)
            if href is not None and "nofollow" not in rel.lower().split()
        ]
    else:
        entries = list(enumerate(
            oracle_extract_hrefs(page["text"])[:MAX_LINKS_PER_PAGE]
        ))
    for pos, href in entries:
        resolved = oracle_resolve(page["url"], href)
        if resolved is None:
            continue
        out.append(
            {
                "url": resolved,
                "priority": ((s * 37 + pos * 11) % 1000) / 10.0,
                "seq": OUTLINK_SEQ_BASE + s * MAX_LINKS_PER_PAGE + pos,
            }
        )
    return out


def oracle_extract_anchors(text: str) -> list:
    """Every anchor tag in document order as (href_or_None, rel_string) —
    the independent (html.parser) twin of the ``_A_BLOB_RX`` scan: one
    entry per ``<a>`` tag whether or not it carries an href."""
    from html.parser import HTMLParser

    found = []

    class _A(HTMLParser):
        def _tag(self, tag, attrs):
            if tag == "a":
                d = {}
                for name, value in attrs:
                    d.setdefault(name, value)
                found.append((d.get("href"), d.get("rel") or ""))

        handle_starttag = _tag

        def handle_startendtag(self, tag, attrs):
            self._tag(tag, attrs)

    p = _A()
    p.feed(text or "")
    return found


def oracle_robots_nofollow(text: str) -> bool:
    """Independent twin of ``robots_directives(...)['nofollow']``: the
    first MAX_METAS_PER_PAGE <meta> tags before the first </head> (whole
    document when none), name=robots (case-insensitive, trimmed),
    comma/space-separated tokens, 'none' alias."""
    from html.parser import HTMLParser

    state = {"metas": 0, "done": False, "nofollow": False}

    class _M(HTMLParser):
        def handle_starttag(self, tag, attrs):
            if state["done"] or tag != "meta":
                return
            if state["metas"] >= MAX_METAS_PER_PAGE:
                return
            state["metas"] += 1
            d = {}
            for name, value in attrs:
                d.setdefault(name, value)
            if (d.get("name") or "").strip().lower() != "robots":
                return
            import re as _re

            tokens = [t for t in
                      _re.split(r"[\s,]+", (d.get("content") or "").lower())
                      if t]
            if "nofollow" in tokens or "none" in tokens:
                state["nofollow"] = True

        handle_startendtag = handle_starttag

        def handle_endtag(self, tag):
            if tag == "head":
                state["done"] = True

    p = _M()
    p.feed(text or "")
    return state["nofollow"]


def oracle_http_meta(html) -> tuple:
    """(status, location) parsed independently of the engine kernel —
    plain regex over the raw header block."""
    import re

    head = bytes(html).split(b"\r\n\r\n", 1)[0].decode("iso-8859-1")
    m = re.match(r"^HTTP/\d\.\d (\d{3})", head)
    status = int(m.group(1)) if m else None
    loc = None
    for line in head.split("\r\n")[1:]:
        if line.lower().startswith("location:"):
            loc = line.split(":", 1)[1].strip()
            break
    return status, loc


def oracle_redirect_candidates(page: dict, src_seq: int) -> list:
    """The oracle twin of redirect_candidates for one fetched page dict
    (url, html). Mirrors the loader's case-sensitive scheme gate: pages
    fetched via a non-http(s)-lowercase url never parse http metadata."""
    if not (page["url"] or "").startswith(("http:", "https:")):
        return []
    status, loc = oracle_http_meta(page["html"])
    if status is None or not 300 <= status <= 399 or loc is None:
        return []
    import re

    resolved = oracle_resolve(page["url"], re.split("#", loc, 1)[0])
    if resolved is None:
        return []
    s = src_seq % (1 << 40)
    return [
        {
            "url": resolved,
            "priority": ((s * 41 + 7) % 1000) / 10.0,
            "seq": REDIRECT_SEQ_BASE + s,
        }
    ]


def oracle_extract_hrefs(text: str) -> list:
    """Anchor hrefs in document order via Python's html.parser — the
    independent implementation the engine's regex is validated against."""
    from html.parser import HTMLParser

    found = []

    class _A(HTMLParser):
        def handle_starttag(self, tag, attrs):
            if tag == "a":
                for name, value in attrs:
                    if name == "href" and value is not None:
                        found.append(value)
                        break

    p = _A()
    p.feed(text or "")
    return found


def oracle_resolve(base: str, href: str):
    """The resolution contract, independently implemented (no urljoin: its
    RFC-3986 merge is the SPEC both sides approximate, but the engine's
    JVM expressions define the contract — e.g. relative refs against a
    non-http(s)-lowercase base are dropped, not resolved)."""
    import re

    href = re.split("#", href, 1)[0].strip()
    if not href:
        return None
    m = re.match(r"^(https?)://([^/?#]+)(.*)$", base or "")
    if re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", href):
        return href if re.match(r"^https?://", href) else None
    if m is None:
        return None
    scheme, authority, rest = m.group(1), m.group(2), m.group(3)
    origin = "{0}://{1}".format(scheme, authority)
    path = re.sub(r"[#?].*$", "", rest)
    if href.startswith("//"):
        return scheme + ":" + href
    if href.startswith("/"):
        return origin + href
    if href.startswith("?"):
        return origin + path + href
    base_dir = "/" if path == "" else re.sub(r"[^/]*$", "", path)
    return origin + base_dir + href


def cosine_similarity_expr(a: Column, b: Column, decimals: int = 6) -> Column:
    """The pure-expression cosine (zip_with + aggregate left fold) — kept
    as the parity oracle for ``cosine_similarity`` and for callers that
    must avoid a Python worker round-trip."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))
    return F.round(dot / F.greatest(na * nb, F.lit(1e-12)), decimals)
