"""Outlink extraction: fetched html -> resolved absolute urls -> frontier
candidates. This is the real-crawl link-discovery stage the reference
ecosystem performs downstream of warcio iteration (the crawler consumes
`record.content_stream().read()` and feeds hrefs back into its queue).

Spark-first shape: ONE Arrow hop (the html->text decode that the fetch
stage already needs — shared, not repeated) and everything else pure JVM
codegen: regexp_extract_all for hrefs, posexplode, string expressions for
RFC-3986 reference resolution, with dot-segment removal delegated to the
existing canonicalization split-union (functions.with_canonical_url).
At 100 TB this runs as a map-only stage over fetched partitions — no
shuffle until the frontier's own dedup.

Resolution contract (mirrored exactly by the oracle extractor in
tests/oracles.py):
  * fragments are stripped first; an empty remainder is dropped
  * absolute http:// / https:// (lowercase scheme) pass through
  * other explicit schemes (mailto:, javascript:, HTTPS:// uppercase...)
    are dropped — non-fetchable or outside the loader's case-sensitive
    scheme gate (warcio/recordloader.py:59,183-185)
  * protocol-relative // inherits the base scheme
  * root-relative / resolves against the base origin
  * ?query resolves against the base path
  * everything else resolves against the base directory
  * relative forms require a lowercase http(s) base; pages fetched via a
    non-conforming base url (e.g. uppercase scheme) emit absolute links only

Extraction is the crawler heuristic (anchor-tag hrefs via one vectorized
regex), not an HTML5 tree parse: attribute-quoting variants are covered,
exotic markup (href split across entities, <base> tags) is not — the
pytest oracle uses Python's html.parser as an independent implementation
to pin the semantics on the synthetic corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# quoted-or-bare href value inside an anchor tag, in document order.
# Attribute-aware: the prefix alternation consumes quoted attribute VALUES
# atomically (so "href=" inside title="..." can never match) and href must
# be preceded by whitespace (so data-href= / xlink:href= never match —
# '\bhref' alone treats the hyphen/colon as a word boundary). '<' is
# EXCLUDED from the unquoted class: a scan may never cross the next
# tag-open, which keeps matching linear — with '<' allowed, poison pages
# like '<a <a <a ...' made every start position rescan the rest of the
# document (quadratic; ~5s at 27 KB, measured).
_HREF_RX = (
    "(?i)<a\\b(?:[^<>\"']|\"[^\"]*\"|'[^']*')*?"
    "\\shref\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\\s\"'>]+)"
)

# a link position cap so outlink seq assignment is collision-free:
# seq = OUTLINK_SEQ_BASE + src_seq * MAX_LINKS_PER_PAGE + pos
# with src_seq bounded to 2^40, link seqs top out below 2^47 — redirect
# seqs start AT 2^47 so the two namespaces can never collide even for
# hash-derived seeds
MAX_LINKS_PER_PAGE = 64
OUTLINK_SEQ_BASE = 20_000_000
# redirect targets get their own disjoint seq namespace (one per page)
REDIRECT_SEQ_BASE = 1 << 47


def _cleaned_href(col, strip_quotes: bool = True) -> Column:
    """The single cleanup contract for any raw link target: optional
    quote-strip (anchor hrefs only — header values are never quoted),
    then fragment-split, then whitespace trim. Mirrored by the oracles'
    .strip()/fragment handling — change here and there together."""
    h = F.col(col) if isinstance(col, str) else col
    if strip_quotes:
        h = F.regexp_replace(h, "^[\"']|[\"']$", "")
    return F.regexp_replace(
        F.split_part(h, F.lit("#"), F.lit(1)), r"^\s+|\s+$", ""
    )


def _resolved(base: Column, href: Column) -> Column:
    """RFC-3986 reference resolution as pure JVM expressions (dot-segment
    removal happens later, in canonicalization)."""
    origin = F.regexp_extract(base, r"^(https?://[^/?#]+)", 1)
    scheme = F.regexp_extract(base, r"^(https?):", 1)
    base_path_full = F.regexp_replace(
        base.substr(F.length(origin) + 1, F.lit(1 << 30)), r"[#?].*$", ""
    )
    base_dir = F.concat(
        origin,
        F.when(base_path_full == "", F.lit("/")).otherwise(
            F.regexp_replace(base_path_full, r"[^/]*$", "")
        ),
    )
    has_origin = F.length(origin) > 0
    null = F.lit(None).cast("string")
    return (
        F.when(
            href.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:"),
            F.when(href.rlike(r"^https?://"), href).otherwise(null),
        )
        .when(
            href.startswith("//"),
            F.when(has_origin, F.concat(scheme, F.lit(":"), href)).otherwise(null),
        )
        .when(
            href.startswith("/"),
            F.when(has_origin, F.concat(origin, href)).otherwise(null),
        )
        .when(
            href.startswith("?"),
            F.when(has_origin, F.concat(origin, base_path_full, href)).otherwise(null),
        )
        .otherwise(F.when(has_origin, F.concat(base_dir, href)).otherwise(null))
    )


def extract_outlinks(fetched: DataFrame, url_col: str = "page_url",
                     html_col: str = "html",
                     text_col: str | None = None) -> DataFrame:
    """(src_url, pos, href, outlink) per anchor of each fetched page.

    ``text_col``: name of an already-decoded text column to reuse (the
    fetch stage materializes one — never pay the Arrow decode twice).
    Without it, the html binary is decoded here via the same kernel.
    Rows whose href is junk (fragment-only, mailto:, unknown scheme, or
    relative against a non-http(s) base) are dropped.
    """
    if text_col is None:
        from warcio_spark import functions as WF

        fetched = fetched.withColumn(
            "__text", WF.extract_http_text(F.col(html_col), F.col(url_col))
        )
        text_col = "__text"

    hrefs = F.regexp_extract_all(F.col(text_col), F.lit(_HREF_RX), F.lit(1))
    out = (
        fetched.filter(F.col(url_col).isNotNull())
        .select(F.col(url_col).alias("src_url"), "*")
        .drop(url_col)
        .select(
            "*",
            F.posexplode(F.slice(hrefs, 1, MAX_LINKS_PER_PAGE)).alias(
                "pos", "__raw"
            ),
        )
        .withColumn("href", _cleaned_href("__raw"))
        .filter(F.length("href") > 0)
        .withColumn("outlink", _resolved(F.col("src_url"), F.col("href")))
        .filter(F.col("outlink").isNotNull())
        .drop("__raw")
    )
    if text_col == "__text":
        out = out.drop("__text")
    return out


def outlink_structs(url: Column, text: Column) -> Column:
    """Per-page outlinks as ONE array column — no explode, for consumers
    that embed links inside a per-record envelope (WAT's HTML-Metadata
    Links block) instead of fanning out frontier rows.

    Same extraction contract as ``extract_outlinks`` by construction
    (same _HREF_RX / MAX_LINKS_PER_PAGE / _cleaned_href / _resolved, same
    filter order), pinned by
    tests/test_links.py::test_outlink_structs_matches_extract_outlinks.
    Returns array<struct<pos:int, href:string, url:string>> where pos is
    the anchor's document position, href the cleaned raw target and url
    the resolved absolute link.
    """
    hrefs = F.slice(
        F.regexp_extract_all(text, F.lit(_HREF_RX), F.lit(1)),
        1, MAX_LINKS_PER_PAGE,
    )
    cleaned = F.transform(
        hrefs,
        lambda h, i: F.struct(
            i.cast("int").alias("pos"), _cleaned_href(h).alias("href")
        ),
    )
    cleaned = F.filter(cleaned, lambda e: F.length(e["href"]) > 0)
    resolved = F.transform(
        cleaned,
        lambda e: F.struct(
            e["pos"].alias("pos"),
            e["href"].alias("href"),
            _resolved(url, e["href"]).alias("url"),
        ),
    )
    return F.filter(resolved, lambda e: e["url"].isNotNull())


# head-metadata caps, the Head-block analog of MAX_LINKS_PER_PAGE
MAX_METAS_PER_PAGE = 64
MAX_TITLE_CHARS = 512

# <meta ...> attribute blob, same attribute-aware discipline as _HREF_RX:
# quoted values are consumed atomically, '<' is excluded from the unquoted
# scan so matching stays linear on poison markup
_META_TAG_RX = "(?i)<meta(\\s(?:[^<>\"']|\"[^\"]*\"|'[^']*')*)/?>"


def _attr_value(blob: Column, names: str) -> Column:
    """First value of any attribute in the ``names`` alternation inside a
    tag's attribute blob, across the three quoting forms (double, single,
    bare). Empty/absent values resolve to '' — the caller decides whether
    that drops the tag. Mirrored verbatim by the wat_head DuckDB oracle."""
    dq = F.regexp_extract(blob, "(?i)\\s(?:%s)\\s*=\\s*\"([^\"]*)\"" % names, 1)
    sq = F.regexp_extract(blob, "(?i)\\s(?:%s)\\s*=\\s*'([^']*)'" % names, 1)
    uq = F.regexp_extract(
        blob, "(?i)\\s(?:%s)\\s*=\\s*([^\\s\"'<>]+)" % names, 1
    )
    return F.coalesce(
        F.nullif(dq, F.lit("")), F.nullif(sq, F.lit("")),
        F.nullif(uq, F.lit("")), F.lit(""),
    )


def head_struct(text: Column) -> Column:
    """Per-page <head> metadata as ONE struct column — the WAT
    HTML-Metadata ``Head`` block (Common-Crawl WAT carries Title + Metas
    there; reference-ecosystem shape, built on the same record envelope
    warcio serializes — warcio/warcwriter.py's metadata records).

    Returns struct<title:string, metas:array<struct<pos:int, name:string,
    content:string>>>:

    * the scan region is everything before the first ``</head>`` when one
      exists, else the whole document (crawler heuristic, not a tree
      parse — same discipline as ``_HREF_RX``);
    * title = first ``<title>`` text up to the next tag-open, whitespace
      collapsed+trimmed, capped at MAX_TITLE_CHARS, NULL when absent or
      empty; entities are NOT decoded (neither are outlink hrefs);
    * metas = the first MAX_METAS_PER_PAGE ``<meta>`` tags that carry a
      non-empty ``name`` or ``property`` attribute (lookup precedence:
      double-quoted, then single-quoted, then bare value — earliest match
      within a form; see _attr_value), with ``content`` as written (''
      when absent);
      ``pos`` is the tag's document position among ALL meta tags in the
      region, pre-name-filter — the outlink_structs pos convention.

    Everything is whole-stage-codegen JVM expressions over the
    already-decoded text column (the shared Arrow hop); no explode, so
    derive_wat embeds it per record without fanning out rows.
    """
    head_src = _head_region(text)
    title = F.nullif(
        F.substring(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_extract(
                        head_src, "(?is)<title[^>]*>([^<]*)", 1
                    ),
                    "\\s+", " ",
                ),
                "^ | $", "",
            ),
            1, MAX_TITLE_CHARS,
        ),
        F.lit(""),
    )
    blobs = F.slice(
        F.regexp_extract_all(head_src, F.lit(_META_TAG_RX), F.lit(1)),
        1, MAX_METAS_PER_PAGE,
    )
    metas = F.transform(
        blobs,
        lambda b, i: F.struct(
            i.cast("int").alias("pos"),
            _attr_value(b, "name|property").alias("name"),
            _attr_value(b, "content").alias("content"),
        ),
    )
    metas = F.filter(metas, lambda e: F.length(e["name"]) > 0)
    return F.struct(title.alias("title"), metas.alias("metas"))


# anchor / <link> attribute blobs — the <a>/<link> analogs of
# _META_TAG_RX, same attribute-aware linear-scan discipline ('<' excluded
# from the unquoted class). The anchor blob is OPTIONAL so a bare ``<a>``
# still consumes a document position — pos assignment then matches an
# independent tag-level parser (html.parser) anchor-for-anchor, which the
# nofollow crawl-parity oracle relies on.
_A_BLOB_RX = "(?i)<a((?:\\s(?:[^<>\"']|\"[^\"]*\"|'[^']*')*)?)/?>"
_LINK_TAG_RX = "(?i)<link(\\s(?:[^<>\"']|\"[^\"]*\"|'[^']*')*)/?>"


def _has_token(col: Column, token: str, seps: str = "\\s") -> Column:
    """Case-insensitive token membership in a separated list: HTML ``rel``
    values are space-separated, robots directives comma-separated (spaces
    tolerated) — the caller picks the separator class. Mirrored verbatim
    by the DuckDB oracles."""
    return col.rlike("(?i)(^|[%s])%s([%s]|$)" % (seps, token, seps))


def link_rel_structs(url: Column, text: Column) -> Column:
    """Per-page outlinks WITH their link-level indexing directives as ONE
    array column: array<struct<pos:int, href:string, url:string,
    rel:string, nofollow:boolean, ugc:boolean, sponsored:boolean>>.

    The rel microformat is how pages annotate individual links for
    crawlers (rel="nofollow" since 2005; ugc/sponsored are Google's 2019
    refinements, treated as nofollow-equivalent hints by every major
    crawler) — a frontier that ignores them crawls comment-spam targets
    at full priority. Extraction: the anchor's whole attribute blob
    (``_A_BLOB_RX``), href and rel via the shared ``_attr_value``
    precedence, ``pos`` = document position among ALL anchor tags
    pre-href-filter (the head_struct metas convention —
    NOT extract_outlinks' post-match numbering), capped at
    MAX_LINKS_PER_PAGE pre-filter. href cleanup/resolution contract is
    ``_cleaned_href`` (attr values are already unquoted) + ``_resolved``
    — parity with extract_outlinks on single-href anchors is pinned by
    tests/test_link_directives.py. Pure codegen after the shared decode;
    no explode."""
    blobs = F.slice(
        F.regexp_extract_all(text, F.lit(_A_BLOB_RX), F.lit(1)),
        1, MAX_LINKS_PER_PAGE,
    )
    ext = F.transform(
        blobs,
        lambda b, i: F.struct(
            i.cast("int").alias("pos"),
            _cleaned_href(_attr_value(b, "href"),
                          strip_quotes=False).alias("href"),
            _attr_value(b, "rel").alias("rel"),
        ),
    )
    ext = F.filter(ext, lambda e: F.length(e["href"]) > 0)
    resolved = F.transform(
        ext,
        lambda e: F.struct(
            e["pos"].alias("pos"),
            e["href"].alias("href"),
            _resolved(url, e["href"]).alias("url"),
            e["rel"].alias("rel"),
            _has_token(e["rel"], "nofollow").alias("nofollow"),
            _has_token(e["rel"], "ugc").alias("ugc"),
            _has_token(e["rel"], "sponsored").alias("sponsored"),
        ),
    )
    return F.filter(resolved, lambda e: e["url"].isNotNull())


def extract_outlink_directives(fetched: DataFrame, url_col: str = "page_url",
                               html_col: str = "html",
                               text_col: str | None = None) -> DataFrame:
    """``extract_outlinks`` with the rel directives: one row per anchor —
    (src_url, pos, href, outlink, rel, nofollow, ugc, sponsored). Same
    decode-sharing contract (pass ``text_col`` to reuse the fetch stage's
    Arrow hop); one explode of ``link_rel_structs``, map-only at 100 TB."""
    if text_col is None:
        from warcio_spark import functions as WF

        fetched = fetched.withColumn(
            "__text", WF.extract_http_text(F.col(html_col), F.col(url_col))
        )
        text_col = "__text"
    out = (
        fetched.filter(F.col(url_col).isNotNull())
        .select(F.col(url_col).alias("src_url"), "*")
        .drop(url_col)
        .select("*", F.explode(
            link_rel_structs(F.col("src_url"), F.col(text_col))
        ).alias("__e"))
        .select(
            "*",
            F.col("__e.pos").alias("pos"),
            F.col("__e.href").alias("href"),
            F.col("__e.url").alias("outlink"),
            F.col("__e.rel").alias("rel"),
            F.col("__e.nofollow").alias("nofollow"),
            F.col("__e.ugc").alias("ugc"),
            F.col("__e.sponsored").alias("sponsored"),
        )
        .drop("__e")
    )
    if text_col == "__text":
        out = out.drop("__text")
    return out


# the FIRST <html> tag's attribute blob, same discipline as _A_BLOB_RX
_HTML_TAG_RX = "(?i)<html((?:\\s(?:[^<>\"']|\"[^\"]*\"|'[^']*')*)?)>"


def declared_lang(text: Column, headers: Column | None = None) -> Column:
    """The page's DECLARED language as a normalized BCP-47-ish tag —
    struct<html_lang:string, content_language:string, lang:string>:

    * ``html_lang``: the first ``<html>`` tag's ``lang`` attribute
      (the xml:lang variant counts too — _attr_value alternation),
    * ``content_language``: the first language tag of the
      Content-Language header value (it is a comma-list; RFC 9110 lets
      it name multiple audiences — first tag kept, documented),
    * ``lang``: html_lang else content_language — the HTML spec's own
      precedence (the in-document attribute is the more specific claim).

    Tags are trimmed, lowercased, gated to the plausible grammar
    ``[a-z]{1,8}(-[a-z0-9]{1,8})*`` (junk -> NULL). A declaration is a
    PRIOR, not a measurement — compose with ``textstats.lang_scores`` /
    ``with_script_shares`` (measured signals) the way CLD-style pipelines do.
    Pure codegen over the decoded text + headers array."""
    blob = F.regexp_extract(text, _HTML_TAG_RX, 1)
    html_lang = _norm_lang_tag(_attr_value(blob, "lang|xml:lang"))
    if headers is not None:
        from warcio_spark import functions as WF

        cl = _norm_lang_tag(F.split_part(
            F.coalesce(WF.header_get(headers, "content-language"),
                       F.lit("")),
            F.lit(","), F.lit(1)))
    else:
        cl = F.lit(None).cast("string")
    return F.struct(
        html_lang.alias("html_lang"),
        cl.alias("content_language"),
        F.coalesce(html_lang, cl).alias("lang"),
    )


def _norm_lang_tag(raw: Column) -> Column:
    """trim + lowercase + grammar gate; '' and junk -> NULL."""
    t = F.lower(F.trim(raw))
    return F.when(t.rlike("^[a-z]{1,8}(-[a-z0-9]{1,8})*$"), t)


def _head_region(text: Column) -> Column:
    """Everything before the first ``</head>`` when one exists, else the
    whole document — the head_struct scan-region heuristic, shared."""
    return F.when(
        text.rlike("(?is)</head\\s*>"),
        F.regexp_extract(text, "(?is)^(.*?)</head\\s*>", 1),
    ).otherwise(text)


def robots_directives(text: Column, headers: Column | None = None) -> Column:
    """Page-level robots directives as struct<noindex:boolean,
    nofollow:boolean, noarchive:boolean> — the ``<meta name="robots">``
    protocol (REP's page-level half, now RFC 9309's companion spec)
    plus, when the response ``headers`` array column is given, the
    ``X-Robots-Tag`` header.

    Semantics (mirrored by the DuckDB oracle + pytest):
    * every ``<meta name=robots>`` in the head region counts (name match
      case-insensitive after trim; MAX_METAS_PER_PAGE cap); their
      ``content`` values and the first X-Robots-Tag value (header_get's
      first-match contract; agent-scoped ``bot: noindex`` forms are NOT
      special-cased — documented) are combined — directives are
      additive across sources, the restrictive union, like Googlebot;
    * tokens are comma-separated, spaces tolerated, case-insensitive;
    * ``none`` = noindex + nofollow (the documented alias).

    Pure codegen over the already-decoded text column; at 100 TB this is
    three boolean columns on the fetch projection, no shuffle."""
    blobs = F.slice(
        F.regexp_extract_all(_head_region(text), F.lit(_META_TAG_RX),
                             F.lit(1)),
        1, MAX_METAS_PER_PAGE,
    )
    robots = F.filter(
        blobs,
        lambda b: F.lower(F.trim(_attr_value(b, "name"))) == "robots",
    )
    combined = F.array_join(
        F.transform(robots, lambda b: _attr_value(b, "content")), ","
    )
    if headers is not None:
        from warcio_spark import functions as WF

        combined = F.concat_ws(
            ",", combined,
            F.coalesce(WF.header_get(headers, "x-robots-tag"), F.lit("")),
        )

    def d(token: str) -> Column:
        return _has_token(combined, token, seps="\\s,")

    none = d("none")
    return F.struct(
        (d("noindex") | none).alias("noindex"),
        (d("nofollow") | none).alias("nofollow"),
        d("noarchive").alias("noarchive"),
    )


def canonical_link(url: Column, text: Column) -> Column:
    """The page's ``<link rel="canonical">`` target, resolved against the
    page url — NULL when absent. The canonical cluster key is how a
    corpus collapses utm-tracked / mirrored / paginated variants of one
    document without content hashing: group by coalesce(canonical, url).

    First ``<link>`` tag in the head region whose rel contains the
    ``canonical`` token (space-separated, case-insensitive) and whose
    href is non-empty, MAX_METAS_PER_PAGE cap, ``_cleaned_href`` +
    ``_resolved`` contract — a relative canonical resolves like any
    href. Pure codegen, no explode."""
    blobs = F.slice(
        F.regexp_extract_all(_head_region(text), F.lit(_LINK_TAG_RX),
                             F.lit(1)),
        1, MAX_METAS_PER_PAGE,
    )
    cands = F.filter(
        blobs,
        lambda b: _has_token(_attr_value(b, "rel"), "canonical")
        & (F.length(_cleaned_href(_attr_value(b, "href"),
                                  strip_quotes=False)) > 0),
    )
    # try_element_at: plain element_at throws under ANSI when no tag matched
    first = F.try_element_at(cands, F.lit(1))
    href = _cleaned_href(_attr_value(first, "href"), strip_quotes=False)
    return F.when(first.isNotNull(), _resolved(url, href))


def redirect_candidates(fetched: DataFrame, url_col: str = "page_url") -> DataFrame:
    """3xx responses -> (src_url, outlink) for the Location target,
    resolved with the same reference-resolution contract as hrefs (real
    servers send relative Locations despite RFC 2616's absolute-URI rule;
    RFC 7231 legalized them). Requires fetch_from_pages' http_status /
    redirect_location columns (one shared Arrow hop, no extra decode)."""
    return (
        fetched.filter(
            F.col("http_status").between(300, 399)
            & (
                F.length(
                    _cleaned_href("redirect_location", strip_quotes=False)
                )
                > 0
            )
        )
        .select(F.col(url_col).alias("src_url"), "*")
        .drop(url_col)
        .withColumn(
            "outlink",
            _resolved(
                F.col("src_url"),
                _cleaned_href("redirect_location", strip_quotes=False),
            ),
        )
        .filter(F.col("outlink").isNotNull())
    )


# XML is case-sensitive: <loc> only, per the sitemaps.org schema
_LOC_RX = "<loc>\\s*([^<]*?)\\s*</loc>"


def _xml_unescape(col: Column) -> Column:
    """The five NAMED XML escapes — the only escaping sitemaps.org
    requires. &amp; last so double-escapes stay single-decoded."""
    out = col
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
                    ("&apos;", "'"), ("&amp;", "&")):
        out = F.regexp_replace(out, ent, ch)
    return out


def sitemap_locs(sitemaps: DataFrame, url_col: str = "url",
                 xml_col: str = "xml") -> DataFrame:
    """Sitemap ingestion (the crawler's third discovery channel beside
    anchors and redirects): ``<loc>`` entries of a sitemap.xml / sitemap
    index, in document order — (src_url, pos, loc). Pure JVM regexp +
    explode; per the sitemaps.org protocol locs are absolute URLs, so the
    only post-processing is the http(s) scheme gate (a <loc> pointing at
    a child sitemap is a valid row — the caller decides whether to
    recurse on .xml targets or enqueue). Entity-decodes the five NAMED
    XML escapes — the only escaping sitemaps.org requires. Numeric
    character references (&#38; / &#x26;), legal XML but not required by
    the protocol, pass through VERBATIM — a documented divergence from a
    full XML parser (pinned by
    tests/test_links.py::test_sitemap_numeric_refs_documented_gap)."""
    locs = F.regexp_extract_all(F.col(xml_col), F.lit(_LOC_RX), F.lit(1))
    out = (
        sitemaps.select(F.col(url_col).alias("src_url"), "*")
        .drop(url_col)
        .select("*", F.posexplode(locs).alias("pos", "raw"))
        .drop(xml_col)
        .withColumn("loc", _xml_unescape(F.col("raw")))
        .filter(F.col("loc").rlike("^https?://"))
        .drop("raw")
    )
    return out


SITEMAP_SEQ_BASE = 1 << 48


def seeds_from_sitemaps(sitemaps: DataFrame, url_col: str = "url",
                        xml_col: str = "xml",
                        priority: float = 90.0) -> DataFrame:
    """Sitemap <loc> entries as frontier seed candidates (url, priority,
    seq): the sitemap discovery channel feeding crawl(). Deterministic
    seq from (source url hash, document position) in a namespace disjoint
    from link (< 2^47) and redirect (2^47..2^48) candidates; high default
    priority — sitemaps are the site's own curation. The sitemaps.org
    protocol caps a file at 50,000 urls; a malformed sitemap exceeding
    the 65,536-position bucket is TRUNCATED there (mirroring
    extract_outlinks' MAX_LINKS_PER_PAGE slice) so one bad file can
    never bleed seqs into another source's bucket."""
    locs = sitemap_locs(sitemaps, url_col=url_col, xml_col=xml_col).filter(
        F.col("pos") < MAX_LINKS_PER_PAGE * 1024
    )
    # 30-bit source bucket x 64Ki positions stays strictly inside
    # [2^48, 2^48 + 2^46): below RECRAWL_SEQ_BASE (2^50) so the documented
    # namespace layering (links < redirects < sitemaps < recrawl) holds
    s = F.pmod(F.xxhash64("src_url"), F.lit(1 << 30))
    return locs.select(
        F.col("loc").alias("url"),
        F.lit(float(priority)).alias("priority"),
        (
            F.lit(SITEMAP_SEQ_BASE)
            + s * (MAX_LINKS_PER_PAGE * 1024)
            + F.col("pos")
        ).alias("seq"),
    )


# W3C datetime (the sitemaps.org <lastmod> format): date-only or full
# datetime with mandatory hh:mm, optional :ss(.frac), optional Z/±hh:mm.
_W3C_DT_RX = ("^(\\d{4})-(\\d{2})-(\\d{2})"
              "(?:[Tt](\\d{2}):(\\d{2})(?::(\\d{2})(?:\\.\\d+)?)?"
              "([Zz]|[+-]\\d{2}:\\d{2})?)?$")

CHANGEFREQS = ("always", "hourly", "daily", "weekly", "monthly",
               "yearly", "never")


def w3c_datetime_epoch(col: Column) -> Column:
    """W3C datetime string -> UTC epoch SECONDS, NULL on no-parse.

    Deliberately timezone-free integer arithmetic (days-since-epoch via
    the date type, time-of-day and offset as plain seconds) so the value
    is identical under any Spark session timezone and byte-for-byte
    reproducible by the DuckDB oracle — ``to_timestamp``/``unix_timestamp``
    would silently re-interpret wall times in the session zone. Invalid
    calendar dates (2024-02-31) null out via try_to_date; a datetime with
    no designator is treated as UTC (lenient — W3C requires the
    designator; real sitemaps omit it)."""
    t = F.trim(col)

    def g(i: int) -> Column:
        return F.nullif(F.regexp_extract(t, _W3C_DT_RX, i), F.lit(""))

    days = F.datediff(
        F.try_to_date(F.concat_ws("-", g(1), g(2), g(3))),
        F.lit("1970-01-01"))
    sec = (F.coalesce(g(4).cast("int"), F.lit(0)) * 3600
           + F.coalesce(g(5).cast("int"), F.lit(0)) * 60
           + F.coalesce(g(6).cast("int"), F.lit(0)))
    tz = F.coalesce(g(7), F.lit("Z"))
    off = F.when(
        tz.rlike("^[+-]"),
        F.when(tz.startswith("-"), -1).otherwise(1)
        * (F.substring(tz, 2, 2).cast("int") * 3600
           + F.substring(tz, 5, 2).cast("int") * 60),
    ).otherwise(F.lit(0))
    return (days.cast("long") * 86400 + sec - off).alias("lastmod_ts")


def sitemap_entries(sitemaps: DataFrame, url_col: str = "url",
                    xml_col: str = "xml",
                    block_tag: str = "url") -> DataFrame:
    """Full sitemaps.org ``<url>`` entry parsing — the metadata
    ``sitemap_locs`` drops: (src_url, pos, loc, lastmod, lastmod_ts,
    changefreq, priority) per entry block, in document order.

    * ``loc``: trimmed + XML-entity-decoded, http(s)-gated (blocks
      without a usable loc are dropped AFTER pos assignment, so pos
      stays the document position among all blocks);
    * ``lastmod``: the raw trimmed string plus ``lastmod_ts`` =
      ``w3c_datetime_epoch`` (NULL when absent/unparseable);
    * ``changefreq``: lowercased, gated to the protocol's enumeration,
      else NULL;
    * ``priority``: try-cast double — the protocol's 0.0–1.0 range is
      NOT clamped (out-of-range values pass through for the caller to
      judge), garbage becomes NULL. Absent stays NULL; the protocol
      default 0.5 is the CONSUMER's business (seeds_from_sitemaps keeps
      its own priority scale).

    ``block_tag="sitemap"`` parses a sitemapindex the same way (its
    blocks carry loc + lastmod only). Pure JVM regexp + one posexplode —
    a map-only stage at 100 TB, same discipline as ``sitemap_locs``.
    """
    rx = "(?s)<%s>(.*?)</%s>" % (block_tag, block_tag)
    blocks = F.regexp_extract_all(F.col(xml_col), F.lit(rx), F.lit(1))

    def child(tag: str) -> Column:
        return F.nullif(
            F.trim(F.regexp_extract(
                "_blk", "(?s)<%s>([^<]*)</%s>" % (tag, tag), 1)),
            F.lit(""))

    loc = _xml_unescape(child("loc"))
    cf = F.lower(child("changefreq"))
    return (
        sitemaps.select(F.col(url_col).alias("src_url"), "*")
        .drop(url_col)
        .select("*", F.posexplode(blocks).alias("pos", "_blk"))
        .drop(xml_col)
        .select(
            "*",
            loc.alias("loc"),
            child("lastmod").alias("lastmod"),
            w3c_datetime_epoch(child("lastmod")).alias("lastmod_ts"),
            F.when(cf.isin(*CHANGEFREQS), cf).alias("changefreq"),
            child("priority").try_cast("double").alias("priority"),
        )
        .drop("_blk")
        .filter(F.col("loc").rlike("^https?://"))
    )


def _ts14_epoch_s(ts14: Column) -> Column:
    """CDX 14-digit timestamp -> UTC epoch seconds, same TZ-free
    arithmetic contract as w3c_datetime_epoch (see there)."""
    days = F.datediff(
        F.try_to_date(F.substring(ts14, 1, 8), "yyyyMMdd"),
        F.lit("1970-01-01"))
    return (days.cast("long") * 86400
            + F.substring(ts14, 9, 2).cast("int") * 3600
            + F.substring(ts14, 11, 2).cast("int") * 60
            + F.substring(ts14, 13, 2).cast("int"))


def modified_since_capture(entries: DataFrame,
                           index: DataFrame) -> DataFrame:
    """lastmod-aware recrawl hints: sitemap entries joined against the
    LATEST capture per url in a CDX index (read_cdxj/read_cdx11 shape:
    ``url`` + 14-digit ``timestamp``), flagging what the site claims
    changed since we last archived it — the signal Googlebot-class
    crawlers use to skip unchanged refetches, complementing the
    TTL-driven ``plans.crawl.recrawl_due``.

    Adds ``last_capture_ts`` (epoch seconds, NULL when never captured)
    and ``due``: never captured -> true; captured and lastmod strictly
    newer -> true; captured and lastmod absent/unparseable or older ->
    false (the unknown-lastmod case is the TTL path's business, not a
    forced refetch).

    Plan shape: the index aggregates to one max-timestamp row per url
    BEFORE the join, so entry fanout never multiplies captures and the
    join side is the (much smaller) distinct-url table — broadcastable
    when the sitemap universe is per-host."""
    last = index.groupBy(F.col("url").alias("_cap_url")).agg(
        F.max("timestamp").alias("_last_ts14"))
    cap_epoch = _ts14_epoch_s(F.col("_last_ts14"))
    return (
        entries.join(last, entries["loc"] == last["_cap_url"], "left")
        .select(
            entries["*"],
            cap_epoch.alias("last_capture_ts"),
            F.when(F.col("_last_ts14").isNull(), F.lit(True))
            .otherwise(
                F.coalesce(F.col("lastmod_ts") > cap_epoch, F.lit(False))
            ).alias("due"),
        )
    )


def page_outlinks_fn(pages: DataFrame, respect_nofollow: bool = False):
    """outlinks_fn for plans.crawl.crawl(): fetch each scheduled url from
    the pages corpus and feed its REAL extracted links back to the
    frontier (replaces the synthetic default_outlinks expansion).

    ``respect_nofollow=True`` switches the link branch to the directive-
    aware extraction: anchors are scanned as whole attribute blobs
    (``_A_BLOB_RX``), a link whose rel carries the ``nofollow`` token is
    dropped, and a page whose robots directives
    (``robots_directives`` — <meta name=robots>, 'none' alias) say
    nofollow contributes NO links at all (redirect targets still follow —
    a 3xx is a protocol move, not an endorsement). In this mode ``pos``
    is the anchor's document position among ALL anchor tags (the
    link_rel_structs convention), which keeps seq/priority deterministic
    and independent of how many anchors were dropped; the single-process
    twin is ``oracle_page_outlinks(..., respect_nofollow=True)``. Same
    fused one-explode plan either way.
    3xx responses contribute their resolved Location target as one more
    candidate (redirect following):
      seq      = REDIRECT_SEQ_BASE + (src_seq mod 2^40)
      priority = (((src_seq mod 2^40) * 41 + 7) % 1000) / 10.0

    priority/seq are deterministic arithmetic of (src seq, link position)
    so the single-process oracle crawler can reproduce them exactly; the
    source seq is bounded to 40 bits first so the arithmetic can never
    overflow int64 under ANSI mode even for full-range hash-derived seqs:
      s        = src_seq mod 2^40   (non-negative, both sides)
      seq      = OUTLINK_SEQ_BASE + s * MAX_LINKS_PER_PAGE + pos
      priority = ((s * 37 + pos * 11) % 1000) / 10.0

    Fused single-pass plan: a union of the link and redirect branches
    would evaluate the fetch join (and its Arrow decode) TWICE — instead
    the hrefs are wrapped into (pos, raw) structs by a trivial transform
    HOF, the redirect Location is appended as a pos = -1 entry, and ONE
    explode feeds a codegen Project that does all cleanup + resolution.
    """
    from warcio_spark.plans.crawl import fetch_from_pages

    def fn(scheduled: DataFrame) -> DataFrame:
        fetched = fetch_from_pages(scheduled, pages).filter(
            F.col("page_url").isNotNull()
        )
        if respect_nofollow:
            blobs = F.slice(
                F.regexp_extract_all(F.col("text"), F.lit(_A_BLOB_RX),
                                     F.lit(1)),
                1, MAX_LINKS_PER_PAGE,
            )
            kept = F.filter(
                F.transform(
                    blobs,
                    lambda b, i: F.struct(
                        i.alias("pos"),
                        _attr_value(b, "href").alias("raw"),
                        _has_token(_attr_value(b, "rel"),
                                   "nofollow").alias("nf"),
                    ),
                ),
                lambda e: ~e["nf"],
            )
            link_entries = F.when(
                robots_directives(F.col("text"))["nofollow"],
                F.array().cast("array<struct<pos:int,raw:string>>"),
            ).otherwise(
                F.transform(
                    kept,
                    lambda e: F.struct(e["pos"].alias("pos"),
                                       e["raw"].alias("raw")),
                )
            )
        else:
            hrefs = F.slice(
                F.regexp_extract_all(F.col("text"), F.lit(_HREF_RX),
                                     F.lit(1)),
                1, MAX_LINKS_PER_PAGE,
            )
            link_entries = F.transform(
                hrefs,
                lambda h, i: F.struct(i.alias("pos"), h.alias("raw")),
            )
        entries = F.concat(
            link_entries,
            F.when(
                F.col("http_status").between(300, 399)
                & F.col("redirect_location").isNotNull(),
                F.array(
                    F.struct(
                        F.lit(-1).alias("pos"),
                        F.col("redirect_location").alias("raw"),
                    )
                ),
            ).otherwise(
                F.array().cast("array<struct<pos:int,raw:string>>")
            ),
        )
        s = F.pmod(F.col("seq"), F.lit(1 << 40))
        exploded = fetched.select(
            F.col("page_url").alias("src_url"), "seq",
            F.explode(entries).alias("e"),
        ).select(
            "src_url", "seq", F.col("e.pos").alias("pos"),
            F.col("e.raw").alias("raw"),
        )
        is_link = F.col("pos") >= 0
        # _attr_value output (respect_nofollow) is already unquoted — a
        # quote-strip there would eat a legitimate trailing quote char
        cleaned = F.when(
            is_link, _cleaned_href("raw", strip_quotes=not respect_nofollow)
        ).otherwise(_cleaned_href("raw", strip_quotes=False))
        out = (
            exploded.withColumn("href", cleaned)
            .filter(F.length("href") > 0)
            .withColumn("outlink", _resolved(F.col("src_url"), F.col("href")))
            .filter(F.col("outlink").isNotNull())
        )
        return out.select(
            F.col("outlink").alias("url"),
            F.when(
                is_link,
                F.pmod(s * 37 + F.col("pos") * 11, F.lit(1000)) / 10.0,
            ).otherwise(F.pmod(s * 41 + 7, F.lit(1000)) / 10.0).alias(
                "priority"
            ),
            F.when(
                is_link,
                F.lit(OUTLINK_SEQ_BASE) + s * MAX_LINKS_PER_PAGE + F.col("pos"),
            ).otherwise(F.lit(REDIRECT_SEQ_BASE) + s).alias("seq"),
        )

    return fn


# anchor regex = _HREF_RX + "consume the rest of the opening tag, then
# capture the FIRST TEXT RUN of the element" ([^<]*: up to the next tag
# open). First-run capture keeps the scan linear on poison markup and —
# unlike a scan-to-</a> with lookahead — runs identically under Java
# regex (Spark) and RE2 (the DuckDB oracle), which has no lookaround.
# Anchors whose text starts with markup (<a href=x><b>bold</b></a>)
# yield an empty capture and are dropped by the text filter.
_ANCHOR_RX = _HREF_RX + "(?:[^<>\"']|\"[^\"]*\"|'[^']*')*>\\s*([^<]*)"


def extract_anchor_texts(fetched: DataFrame, url_col: str = "page_url",
                         text_col: str = "text") -> DataFrame:
    """Per-link rows (src_url, pos, anchor, outlink): every anchor whose
    element carries a non-empty first text run, with the href resolved
    by the same contract as ``extract_outlinks`` (same cleaning, same
    RFC resolution, same MAX_LINKS_PER_PAGE cap). Anchor text is
    whitespace-normalized.

    Scale shape: two linear regex passes over the page (href group and
    text group of ONE pattern, so the arrays zip positionally), then
    pure array expressions — map-only, no shuffle here."""
    hrefs = F.regexp_extract_all(
        F.col(text_col), F.lit(_ANCHOR_RX), F.lit(1)
    )
    texts = F.regexp_extract_all(
        F.col(text_col), F.lit(_ANCHOR_RX), F.lit(2)
    )
    zipped = F.slice(
        F.arrays_zip(hrefs.alias("h"), texts.alias("t")),
        1, MAX_LINKS_PER_PAGE,
    )
    return (
        fetched.filter(F.col(url_col).isNotNull())
        .select(
            F.col(url_col).alias("src_url"),
            F.posexplode(zipped).alias("pos", "__z"),
        )
        .select(
            "src_url",
            "pos",
            _cleaned_href(F.col("__z.h")).alias("href"),
            F.trim(
                F.regexp_replace(F.col("__z.t"), r"\s+", " ")
            ).alias("anchor"),
        )
        .filter((F.length("href") > 0) & (F.length("anchor") > 0))
        .select(
            "src_url", "pos", "href", "anchor",
            _resolved(F.col("src_url"), F.col("href")).alias("outlink"),
        )
        .filter(F.col("outlink").isNotNull())
    )


def anchor_text_table(fetched: DataFrame, url_col: str = "page_url",
                      text_col: str = "text") -> DataFrame:
    """(outlink, anchor, n_refs): the corpus-wide anchor-text signal
    table — what the web says a URL is about — used for search snippets,
    crawl prioritization, and weak supervision. One groupBy shuffle on
    (outlink, anchor) after the map-only extraction."""
    return (
        extract_anchor_texts(fetched, url_col, text_col)
        .groupBy("outlink", "anchor")
        .agg(F.count(F.lit(1)).alias("n_refs"))
    )


def hreflang_alternates(fetched: DataFrame, url_col: str = "page_url",
                        text_col: str = "text") -> DataFrame:
    """(src_url, pos, hreflang, alternate) per head-region
    ``<link rel="alternate" hreflang=...>`` — the language-variant twin
    set (RFC 8288 alternate + the search-engine hreflang convention) a
    multilingual crawl walks to seed every language edition of a page,
    and a parallel-text pipeline joins on to pair translations.

    Same machinery as ``canonical_link``: link tags from the head
    region (``_LINK_TAG_RX``, MAX_METAS_PER_PAGE cap), attributes via
    ``_attr_value`` precedence, href through the shared
    ``_cleaned_href`` + ``_resolved`` contract (a relative alternate
    resolves like any href). ``pos`` is the tag's document position
    among ALL head link tags, pre-filter (head_struct convention);
    ``hreflang`` is trimmed + lowercased (``x-default`` kept as-is);
    tags missing rel=alternate, hreflang, or a resolvable href drop.

    Map-only: one regex pass + one explode over a <=64-element array,
    no shuffle."""
    blobs = F.slice(
        F.regexp_extract_all(_head_region(F.col(text_col)),
                             F.lit(_LINK_TAG_RX), F.lit(1)),
        1, MAX_METAS_PER_PAGE,
    )
    rows = (
        fetched.filter(F.col(url_col).isNotNull())
        .select(
            F.col(url_col).alias("src_url"),
            F.posexplode(blobs).alias("pos", "_b"),
        )
    )
    b = F.col("_b")
    lang = F.trim(_attr_value(b, "hreflang"))
    href = _cleaned_href(_attr_value(b, "href"), strip_quotes=False)
    return (
        rows.filter(
            _has_token(_attr_value(b, "rel"), "alternate")
            & (F.length(lang) > 0)
            & (F.length(href) > 0)
        )
        .select(
            "src_url", "pos",
            F.lower(lang).alias("hreflang"),
            _resolved(F.col("src_url"), href).alias("alternate"),
        )
        .filter(F.col("alternate").isNotNull())
    )


# structured-data caps, the JSON-LD analog of MAX_LINKS_PER_PAGE
MAX_JSONLD_PER_PAGE = 16
MAX_JSONLD_CHARS = 65536

# a <script> whose type attribute (anywhere in the tag) is
# application/ld+json, body captured lazily to the closing tag. Kept in
# the Java-regex/RE2 common subset ((?is) + lazy quantifiers) like every
# extraction pattern here, so the DuckDB oracle runs it verbatim.
_JSONLD_RX = (r"(?is)<script[^>]*type\s*=\s*[\"']?application/ld\+json"
              r"[\"']?[^>]*>(.*?)</script")


def jsonld_blocks(fetched: DataFrame, url_col: str = "page_url",
                  text_col: str = "text") -> DataFrame:
    """(src_url, pos, raw, jsonld_type) per JSON-LD structured-data
    block — the schema.org layer (Article/Product/FAQ/Breadcrumb
    markup) a training pipeline mines for supervision and a search
    pipeline for rich results. Extraction is the crawler heuristic
    (regex over the decoded text, same discipline as ``_HREF_RX`` /
    ``head_struct``), not a tree parse:

    * blocks = the first MAX_JSONLD_PER_PAGE ``<script>`` bodies whose
      tag carries ``type=application/ld+json`` (quoted or bare, any
      attribute position), trimmed, capped at MAX_JSONLD_CHARS, empty
      bodies dropped; ``pos`` is the block's document position;
    * ``raw`` is the body AS WRITTEN (callers parse with the schema
      they expect — JSON-LD is open-world);
    * ``jsonld_type`` = the top-level ``@type`` when the block is a
      JSON object with a scalar @type (the overwhelmingly common case);
      NULL for invalid JSON, missing @type, or non-scalar forms —
      malformed markup classifies, never errors.

    Scale shape: one regex pass + posexplode + one get_json_object per
    block — map-only, no shuffle; group by ``jsonld_type`` downstream
    for the corpus census."""
    blocks = F.slice(
        F.regexp_extract_all(F.col(text_col), F.lit(_JSONLD_RX), F.lit(1)),
        1, MAX_JSONLD_PER_PAGE,
    )
    return (
        fetched.filter(F.col(url_col).isNotNull())
        .select(
            F.col(url_col).alias("src_url"),
            F.posexplode(blocks).alias("pos", "_raw"),
        )
        .select(
            "src_url", "pos",
            F.substring(F.trim(F.col("_raw")), 1,
                        MAX_JSONLD_CHARS).alias("raw"),
        )
        .filter(F.length("raw") > 0)
        .withColumn(
            "jsonld_type",
            # scalar @type only: get_json_object returns the raw JSON
            # text for arrays/objects — gate those to NULL per contract
            F.nullif(
                F.when(
                    ~F.get_json_object("raw", "$['@type']")
                    .rlike(r"^[\[{]"),
                    F.get_json_object("raw", "$['@type']"),
                ),
                F.lit(""),
            ),
        )
    )


def link_rot(links: DataFrame, fetched: DataFrame,
             link_col: str = "outlink", src_col: str = "src_url",
             url_col: str = "url",
             status_col: str = "status") -> DataFrame:
    """Link-rot report: every distinct link TARGET classified against
    the fetch log — ``ok`` (2xx/3xx), ``broken`` (4xx/5xx or a
    status-less fetch failure row), ``uncrawled`` (never fetched) —
    with its referrer count. The crawl-hygiene twin of
    ``capture_diff``: diff says what changed between crawls, this says
    which edges of the link graph dangle.

    ``links``: (src_col, link_col) rows — ``extract_outlinks`` output
    or any edge table; targets are compared as given (canonicalize both
    sides first for protocol/case-insensitive matching).
    ``fetched``: (url_col, status_col) fetch log; NULL status on a
    present row means the fetch itself failed (counted ``broken``).

    Output: (url, status_class, status, n_refs, n_referrers) — n_refs
    counts link occurrences, n_referrers distinct source pages.

    Scale shape: targets aggregate FIRST (one shuffle on the link
    target — distinct-referrer count rides the same exchange), then one
    left sort-merge/shuffled-hash join against the fetch log on url;
    both sides are corpus-sized so no broadcast, but the join carries
    one row per DISTINCT target, not per link."""
    targets = (
        links.groupBy(F.col(link_col).alias("url"))
        .agg(F.count(F.lit(1)).alias("n_refs"),
             F.countDistinct(F.col(src_col)).alias("n_referrers"))
    )
    # multiple fetch rows per url collapse to MAX status — deterministic
    # (and pessimistic: an error outranks a success); max ignores NULLs
    # so a lone failed-fetch row still classifies broken via _fetched
    log = (
        fetched.groupBy(F.col(url_col).alias("url"))
        .agg(F.max(F.col(status_col).cast("int")).alias("status"))
        .withColumn("_fetched", F.lit(True))
    )
    status_class = (
        F.when(F.col("_fetched").isNull(), F.lit("uncrawled"))
        .when(F.col("status").between(200, 399), F.lit("ok"))
        .otherwise(F.lit("broken"))
    )
    return (
        targets.join(log, "url", "left")
        .select("url", status_class.alias("status_class"),
                "status", "n_refs", "n_referrers")
    )


# ---------------------------------------------------------------------------
# Feed autodiscovery + entry extraction — the fourth discovery channel
# (anchors, redirects, sitemaps, feeds). The reference ecosystem archives
# feed responses as ordinary WARC response records (warcio/warcwriter.py
# doesn't care about payload type); a crawler that wants fresh content
# fast walks feeds instead of waiting for recrawl_ttl.
# ---------------------------------------------------------------------------

# feed MIME types → kind labels: the RSS-autodiscovery convention plus
# RFC 4287 (Atom) and JSON Feed 1.1. Matching is on the full lowercased
# type attribute — a type with parameters (";charset=") is not a
# discovery link per the convention and drops.
FEED_MIME_KINDS = (
    ("application/rss+xml", "rss"),
    ("application/atom+xml", "atom"),
    ("application/feed+json", "json"),
)


def feed_links(fetched: DataFrame, url_col: str = "page_url",
               text_col: str = "text") -> DataFrame:
    """(src_url, pos, feed_kind, feed_title, feed_url) per head-region
    ``<link rel="alternate" type="application/rss+xml|atom+xml|feed+json">``
    — RSS/Atom/JSON-Feed autodiscovery, the mechanism aggregators and
    freshness-hungry crawlers use to find a site's update stream.

    Same kernel as ``hreflang_alternates``: link tags from the head
    region (``_LINK_TAG_RX``, MAX_METAS_PER_PAGE cap), attributes via
    the ``_attr_value`` precedence, href through ``_cleaned_href`` +
    ``_resolved``. ``pos`` is the tag's document position among ALL
    head link tags, pre-filter; ``feed_kind`` maps the MIME type to
    rss/atom/json; ``feed_title`` is the link tag's title attribute
    trimmed, NULL when absent (RFC 8288 title hint). Tags missing
    rel=alternate, a recognized feed type, or a resolvable href drop.

    Map-only: one regex pass + one explode over a <=64-element array,
    no shuffle."""
    blobs = F.slice(
        F.regexp_extract_all(_head_region(F.col(text_col)),
                             F.lit(_LINK_TAG_RX), F.lit(1)),
        1, MAX_METAS_PER_PAGE,
    )
    rows = (
        fetched.filter(F.col(url_col).isNotNull())
        .select(
            F.col(url_col).alias("src_url"),
            F.posexplode(blobs).alias("pos", "_b"),
        )
    )
    b = F.col("_b")
    mime = F.lower(F.trim(_attr_value(b, "type")))
    kind = F.lit(None).cast("string")
    for m, k in reversed(FEED_MIME_KINDS):
        kind = F.when(mime == m, F.lit(k)).otherwise(kind)
    href = _cleaned_href(_attr_value(b, "href"), strip_quotes=False)
    return (
        rows.filter(
            _has_token(_attr_value(b, "rel"), "alternate")
            & mime.isin([m for m, _ in FEED_MIME_KINDS])
            & (F.length(href) > 0)
        )
        .select(
            "src_url", "pos", kind.alias("feed_kind"),
            F.nullif(F.trim(_attr_value(b, "title")),
                     F.lit("")).alias("feed_title"),
            _resolved(F.col("src_url"), href).alias("feed_url"),
        )
        .filter(F.col("feed_url").isNotNull())
    )


MAX_ENTRIES_PER_FEED = 1024

# one RSS <item> or Atom <entry> element body. Lazy across the body,
# (?is) — the Java-regex/RE2 common subset like every pattern here, so
# the DuckDB oracle runs it verbatim.
_FEED_ENTRY_RX = r"(?is)<(?:item|entry)[\s>](.*?)</(?:item|entry)\s*>"
# RSS text-content <link>url</link>; stops at the next tag-open
_FEED_LINK_TEXT_RX = r"(?is)<link[^>]*>\s*([^<]+?)\s*</link"
# Atom attribute-form <link href=...>: the tag's attribute blob, then
# _attr_value for href. First <link> tag per entry — Atom entries
# conventionally list the alternate first (documented heuristic, not a
# conforming rel-precedence parser).
_FEED_LINK_TAG_RX = "(?is)<link((?:\\s(?:[^<>\"']|\"[^\"]*\"|'[^']*')*)?)/?>"
_FEED_TITLE_RX = r"(?is)<title[^>]*>\s*([^<]*?)\s*</title"


def feed_entries(feeds: DataFrame, url_col: str = "url",
                 xml_col: str = "xml") -> DataFrame:
    """Entry links of fetched RSS/Atom feed documents, in document order
    — (src_url, pos, entry_url, entry_title). The feed twin of
    ``sitemap_locs``: same crawler-heuristic discipline (regex over the
    payload text, not a conforming XML parse), same five-named-entity
    unescape, same absolute-http(s) gate.

    Per entry block (first MAX_ENTRIES_PER_FEED ``<item>``/``<entry>``
    elements): the entry url is the RSS text-content ``<link>url</link>``
    when present, else the first Atom ``<link href=...>`` attribute
    (``_attr_value`` precedence); the title is the entry's first
    ``<title>`` text, whitespace-collapsed, NULL when absent. Entries
    with no resolvable absolute url drop — feeds carry absolute urls per
    both specs, so there is no base-relative resolution here.

    A lazy ``.*?`` entry scan means an item MISSING its closing tag
    absorbs through the next entry (malformed-feed behavior, pinned in
    tests); well-formed feeds partition cleanly. Map-only: one regex
    pass + one bounded explode, no shuffle."""
    entries = F.slice(
        F.regexp_extract_all(F.col(xml_col), F.lit(_FEED_ENTRY_RX),
                             F.lit(1)),
        1, MAX_ENTRIES_PER_FEED,
    )
    rows = (
        feeds.filter(F.col(url_col).isNotNull())
        .select(
            F.col(url_col).alias("src_url"),
            F.posexplode(entries).alias("pos", "_e"),
        )
    )
    e = F.col("_e")
    link_text = F.regexp_extract(e, _FEED_LINK_TEXT_RX, 1)
    tag_blob = F.regexp_extract(e, _FEED_LINK_TAG_RX, 1)
    link_href = _attr_value(tag_blob, "href")
    url = _xml_unescape(
        F.coalesce(F.nullif(link_text, F.lit("")),
                   F.nullif(link_href, F.lit("")), F.lit(""))
    )
    title = F.nullif(
        F.regexp_replace(F.regexp_extract(e, _FEED_TITLE_RX, 1),
                         r"\s+", " "),
        F.lit(""),
    )
    return (
        rows.select(
            "src_url", "pos", url.alias("entry_url"),
            title.alias("entry_title"),
        )
        .filter(F.col("entry_url").rlike("^https?://"))
    )


def sitemap_coverage(
    fetched: DataFrame,
    listed: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Per-host sitemap coverage gap: what the crawl fetched vs what the
    site's sitemaps advertise.

    The two sets disagree in both directions and each direction is a
    different ops signal: urls LISTED but never fetched are crawl-budget
    gaps (or scope exclusions worth knowing about); urls FETCHED but not
    listed are discovery the sitemap missed (or crawl drift into
    low-value space).  Per host:

    - ``n_fetched``, ``n_listed`` — distinct urls on each side;
    - ``n_both`` — the overlap;
    - ``fetched_unlisted``, ``listed_unfetched`` — the two gaps;
    - ``coverage`` — n_both / n_listed (NULL when the host lists
      nothing: no sitemap, no coverage claim).

    Hosts appearing on either side get a row.  Scale shape: both sides
    reduce to distinct urls first (map-combinable partial distinct
    before ONE url-keyed shuffle each), the full-outer join runs on the
    distinct url key, and the host rollup is one map-combinable
    aggregation — nothing page-cardinality shuffles twice, no
    count_distinct expand (flags aggregate as sums)."""
    from warcio_spark.plans.graph import url_host

    f = (
        fetched.select(F.col(url_col).alias("url")).distinct()
        .withColumn("_f", F.lit(1))
    )
    ls = (
        listed.select(F.col(url_col).alias("url")).distinct()
        .withColumn("_l", F.lit(1))
    )
    j = f.join(ls, "url", "full_outer").select(
        url_host(F.col("url")).alias("host"),
        F.coalesce("_f", F.lit(0)).alias("_f"),
        F.coalesce("_l", F.lit(0)).alias("_l"),
    )
    agg = j.groupBy("host").agg(
        F.sum("_f").cast("long").alias("n_fetched"),
        F.sum("_l").cast("long").alias("n_listed"),
        F.sum(F.col("_f") * F.col("_l")).cast("long").alias("n_both"),
    )
    return agg.select(
        "host",
        "n_fetched",
        "n_listed",
        "n_both",
        (F.col("n_fetched") - F.col("n_both")).alias("fetched_unlisted"),
        (F.col("n_listed") - F.col("n_both")).alias("listed_unfetched"),
        F.when(
            F.col("n_listed") > 0,
            F.round(F.col("n_both").cast("double") / F.col("n_listed"), 6),
        ).alias("coverage"),
    )


# the whole <img> attribute blob, tolerant of self-closing tags — the
# image twin of _LINK_TAG_RX (same attribute-aware alternation so quoted
# values can never hide a tag close).
_IMG_TAG_RX = "(?i)<img(\\s(?:[^<>\"']|\"[^\"]*\"|'[^']*')*)/?>"

MAX_IMGS_PER_PAGE = MAX_LINKS_PER_PAGE


def extract_image_alts(fetched: DataFrame, url_col: str = "page_url",
                       text_col: str = "text") -> DataFrame:
    """Per-image rows (src_url, pos, src, alt, image_url): every ``<img>``
    tag carrying BOTH a src and a non-empty alt text — the LAION-style
    image-caption candidate miner (Schuhmann et al. 2021 built LAION-400M
    exactly this way: Common-Crawl WARC/WAT img tags, alt text as the
    caption, pairs deduped downstream). The reference ecosystem consumes
    the same decoded payload via ``record.content_stream().read()``
    (warcio/recordloader.py:138); pairing it with images is the
    multimodal-corpus stage built on top.

    Contract (mirrored verbatim by the ``img_alt_pairs`` DuckDB oracle and
    the html.parser oracle in tests/test_image_alts.py):

    * ``pos`` = document position among ALL img tags, pre-filter (the
      head_struct metas convention), capped at MAX_IMGS_PER_PAGE;
    * src and alt via the shared ``_attr_value`` quoting precedence;
      src is then fragment-stripped + trimmed (``_cleaned_href``, attr
      values arrive unquoted);
    * rows with an empty src OR empty whitespace-normalized alt drop —
      uncaptioned/decorative images are exactly what the caption miner
      must not emit;
    * ``image_url`` resolves by the same RFC-3986 contract as hrefs
      (``_resolved``): data:/javascript:/blob: and other non-http(s)
      explicit schemes drop, relative forms resolve against the page.

    Scale shape: one linear regex pass per page (the tag-blob extract),
    array transforms, one posexplode — map-only after the shared decode,
    no shuffle. At 100 TB this is a projection over fetched partitions;
    the pair dedup (``image_caption_table``) owns the single shuffle."""
    blobs = F.slice(
        F.regexp_extract_all(F.col(text_col), F.lit(_IMG_TAG_RX), F.lit(1)),
        1, MAX_IMGS_PER_PAGE,
    )
    ext = F.transform(
        blobs,
        lambda b, i: F.struct(
            i.cast("int").alias("pos"),
            _cleaned_href(_attr_value(b, "src"),
                          strip_quotes=False).alias("src"),
            F.trim(
                F.regexp_replace(_attr_value(b, "alt"), r"\s+", " ")
            ).alias("alt"),
        ),
    )
    ext = F.filter(
        ext, lambda e: (F.length(e["src"]) > 0) & (F.length(e["alt"]) > 0)
    )
    return (
        fetched.filter(F.col(url_col).isNotNull())
        .select(F.col(url_col).alias("src_url"), "*")
        .drop(url_col)
        .select("*", F.explode(ext).alias("__e"))
        .select(
            "*",
            F.col("__e.pos").alias("pos"),
            F.col("__e.src").alias("src"),
            F.col("__e.alt").alias("alt"),
        )
        .drop("__e")
        .withColumn("image_url", _resolved(F.col("src_url"), F.col("src")))
        .filter(F.col("image_url").isNotNull())
    )


def image_caption_table(fetched: DataFrame, url_col: str = "page_url",
                        text_col: str = "text") -> DataFrame:
    """(image_url, alt, n_pages, n_refs): the corpus-wide image-caption
    candidate table — distinct (image, caption) pairs with their support,
    the unit a multimodal training pipeline fetches/filters downstream
    (LAION dedupes on exactly this pair before CLIP-scoring). Two-stage
    rollup — (pair, page) partial counts, then the pair fold — so the
    distinct-page count never plans a count_distinct Expand (the mixed
    distinct/plain aggregate doubles every input row otherwise); both
    stages hash-partition on a prefix of the same key, and the second
    groups pair×page cardinality rows only."""
    per_page = (
        extract_image_alts(fetched, url_col, text_col)
        .groupBy("image_url", "alt", "src_url")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return per_page.groupBy("image_url", "alt").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum("_n").cast("long").alias("n_refs"),
    )


# <time ...> attribute blob — same attribute-aware discipline as
# _META_TAG_RX (quoted values atomic, '<' excluded from the unquoted scan)
_TIME_TAG_RX = "(?i)<time(\\s(?:[^<>\"']|\"[^\"]*\"|'[^']*')*)/?>"

# the meta names/properties/itemprops news+blog publishers actually use
# for the publication stamp (Open Graph article:, schema.org
# datePublished, Dublin Core, plus the common plain 'date'), anchored
# case-insensitively as a whole value
_PUB_META_RX = ("^(article:published_time|datepublished|publishdate|"
                "publish[-_]date|date|dc\\.date(\\.issued)?|"
                "dcterms\\.(date|issued))$")


def _iso_date(val: Column) -> Column:
    """Leading 'YYYY-MM-DD' of an ISO-8601-ish value, validated
    (year 19xx/20xx, month 01-12, day 01-31), NULL otherwise — the
    shared normalizer for meta/time values. Time-of-day/zone suffixes
    are ignored: day resolution is what corpus date filters key on."""
    y = F.regexp_extract(val, r"^\s*((?:19|20)\d{2})-(\d{2})-(\d{2})", 1)
    m = F.regexp_extract(val, r"^\s*((?:19|20)\d{2})-(\d{2})-(\d{2})", 2)
    d = F.regexp_extract(val, r"^\s*((?:19|20)\d{2})-(\d{2})-(\d{2})", 3)
    ok = (
        (F.length(y) > 0)
        & m.rlike("^(0[1-9]|1[0-2])$")
        & d.rlike("^(0[1-9]|[12][0-9]|3[01])$")
    )
    return F.when(ok, F.concat_ws("-", y, m, d))


def publish_dates(fetched: DataFrame, url_col: str = "page_url",
                  text_col: str = "text") -> DataFrame:
    """(src_url, published, date_source): the publication-date ladder a
    crawl-curation pipeline runs before temporal filtering/weighting
    (recency mixing, dated holdouts, news corpora). Precedence, first
    hit wins, each stage validated through :func:`_iso_date`:

    1. ``meta`` — FIRST document-order ``<meta>`` whose
       name/property/itemprop matches ``_PUB_META_RX`` (case-insensitive
       whole value) with a non-empty content that normalizes to a valid
       date; metas capped at MAX_METAS_PER_PAGE like head_struct.
    2. ``time`` — the first ``<time datetime=...>`` value.
    3. ``url`` — a /YYYY/MM/ or /YYYY/MM/DD/ path segment in the page
       URL itself (month-only hits date the 1st), year 19xx/20xx and
       real month/day ranges enforced by the pattern.

    ``published`` is 'YYYY-MM-DD' or NULL (undatable page — emitted, so
    the output doubles as a coverage census); ``date_source`` names the
    winning stage. Everything is JVM codegen — regex ladders + array
    HOFs, no UDF, no explode, no shuffle: at 100 TB this is a map-only
    projection over fetched partitions. Mirrored verbatim by the
    ``publish_dates`` DuckDB oracle and the re-based python oracle in
    tests/test_publish_dates.py."""
    text = F.col(text_col)
    blobs = F.slice(
        F.regexp_extract_all(text, F.lit(_META_TAG_RX), F.lit(1)),
        1, MAX_METAS_PER_PAGE,
    )
    pub_metas = F.filter(
        F.transform(
            blobs,
            lambda b: F.struct(
                F.lower(
                    _attr_value(b, "name|property|itemprop")
                ).alias("name"),
                _iso_date(_attr_value(b, "content")).alias("day"),
            ),
        ),
        lambda e: e["name"].rlike(_PUB_META_RX) & e["day"].isNotNull(),
    )
    meta_day = F.get(pub_metas, 0)["day"]
    time_day = _iso_date(
        _attr_value(F.regexp_extract(text, _TIME_TAG_RX, 1), "datetime")
    )
    url_rx = r"/((?:19|20)\d{2})/(0[1-9]|1[0-2])(?:/(0[1-9]|[12]\d|3[01]))?(?:/|$)"
    u = F.col(url_col)
    url_y = F.regexp_extract(u, url_rx, 1)
    url_m = F.regexp_extract(u, url_rx, 2)
    url_d = F.regexp_extract(u, url_rx, 3)
    url_day = F.when(
        F.length(url_y) > 0,
        F.concat_ws(
            "-", url_y, url_m,
            F.when(F.length(url_d) > 0, url_d).otherwise(F.lit("01")),
        ),
    )
    return fetched.select(
        u.alias("src_url"),
        F.coalesce(meta_day, time_day, url_day).alias("published"),
        F.when(meta_day.isNotNull(), F.lit("meta"))
        .when(time_day.isNotNull(), F.lit("time"))
        .when(url_day.isNotNull(), F.lit("url"))
        .alias("date_source"),
    )


def image_fetch_frontier(captions: DataFrame,
                         fetched_media: DataFrame | None = None,
                         max_per_host: int = 64, buckets: int = 32,
                         url_col: str = "url") -> DataFrame:
    """The image-side fetch frontier (LAION stage 3: after (image,
    caption) candidate mining, go fetch the image bytes): distinct
    wanted image urls with their demand, minus what the media store
    already holds, capped per image host for politeness — the
    multimodal twin of the URL frontier's per-host budget.

    ``captions``: output shape of :func:`image_caption_table`
    (image_url, alt, n_pages, n_refs). ``fetched_media``: any table
    whose ``url_col`` lists already-fetched image urls (None = fetch
    everything). Output, one row per url to fetch:

    - ``demand`` — sum of n_pages over the image's caption variants
      (how many page-references want this image); ``n_caps`` — number
      of distinct captions it was seen with;
    - ``host`` — lowercased authority (plans/graph.url_host, mirrored by
      the DuckDB oracle); rows with no parseable host drop;
    - ``fetch_rank`` — 1-based demand-first position within the host
      (ties broken by url), capped at ``max_per_host``.

    Scale shape (100 TB): one (image_url) rollup shuffle; the
    anti-join keys on url — the fetched side can be the huge one,
    and Catalyst plans it as a sort-merge join (its runtime bloom
    filter never applies to an anti-join). The per-host cap is
    ``plans.prefix.group_top_k`` over url-hash buckets in the total
    order (demand desc, image_url) — a CDN mega-host never serializes
    through one task."""
    from warcio_spark.plans.graph import url_host
    from warcio_spark.plans.prefix import group_top_k

    wanted = captions.groupBy("image_url").agg(
        F.sum("n_pages").cast("long").alias("demand"),
        F.count(F.lit(1)).alias("n_caps"),
    )
    if fetched_media is not None:
        have = fetched_media.select(F.col(url_col).alias("image_url"))
        wanted = wanted.join(have, "image_url", "left_anti")
    hosted = wanted.withColumn("host", url_host("image_url")).filter(
        F.col("host").isNotNull())
    return group_top_k(
        hosted, ["host"], [F.desc("demand"), F.asc("image_url")],
        max_per_host, F.pmod(F.xxhash64("image_url"), F.lit(buckets)),
        "fetch_rank",
    ).select("image_url", "host", "n_caps", "demand", "fetch_rank")
