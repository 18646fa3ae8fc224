"""Column-level functions: JVM-side expressions where possible, Arrow-batched
pandas UDFs for warcio-exact byte semantics.

Everything here is a drop-in for ``pyspark.sql.functions`` style usage:

    from warcio_spark import functions as WF
    df.select(WF.header_get("http_headers", "content-type"))

JVM expressions (whole-stage codegen, no Python):
    header_get, statuscode, fix_target_uri, surt_key, strip_tracking_params...
pandas UDFs (Arrow batch transfer, per-cell kernels):
    sha1_b32, extract_content, decode_text, canonicalize_url...
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from warcio_spark.kernels import digests as _digests
from warcio_spark.kernels import payload as _payload
from warcio_spark.kernels import textcodec as _textcodec
from warcio_spark.kernels import urls as _urls

# ---------------------------------------------------------------------------
# JVM-side expressions (stay inside whole-stage codegen)
# ---------------------------------------------------------------------------


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def header_get(headers, name: str) -> Column:
    """First header value with case-insensitive name — the reference's
    get_header (warcio/statusandheaders.py:34-44) as a higher-order filter
    over the ordered headers array; order-preserving, duplicate-safe."""
    low = name.lower()
    matches = F.filter(_c(headers), lambda h: F.lower(h["name"]) == F.lit(low))
    # try_element_at: absent header -> NULL (plain element_at raises under
    # ANSI mode, the Spark 4 default)
    return F.try_element_at(matches, F.lit(1))["value"]


def statuscode(statusline) -> Column:
    """Status code off the http statusline (warcio/statusandheaders.py:77-83)."""
    return F.split_part(_c(statusline), F.lit(" "), F.lit(1))


def fix_target_uri(url) -> Column:
    """wget '<uri>' unwrap + space->%20 (warcio/recordloader.py:245-268) as
    pure Catalyst expressions (stays in whole-stage codegen)."""
    u = F.regexp_replace(_c(url), r"^<(.*)>$", r"$1")
    return F.replace(u, F.lit(" "), F.lit("%20"))


def header_filter_out(headers, *names) -> Column:
    """Drop headers by name, case-insensitive (the writer's header_filter
    hook, warcio/recordbuilder.py:33-36)."""
    lows = [n.lower() for n in names]
    return F.filter(
        _c(headers),
        lambda h: ~F.lower(h["name"]).isin(lows),
    )


def iso_warc_date(ts, use_micros: bool = False) -> Column:
    """timestamp -> WARC-Date string (warcio/timeutils.py:105-127)."""
    fmt = "yyyy-MM-dd'T'HH:mm:ss" + (".SSSSSS" if use_micros else "") + "'Z'"
    return F.date_format(_c(ts), fmt)


# ---------------------------------------------------------------------------
# Arrow-batched pandas UDFs (warcio-exact byte semantics)
# ---------------------------------------------------------------------------


def _map_series(s: pd.Series, fn):
    return s.map(lambda v: fn(v) if v is not None else None)


@F.pandas_udf(T.StringType())
def sha1_b32(data: pd.Series) -> pd.Series:
    """'sha1:BASE32' WARC digest (warcio/utils.py:97-106)."""
    return _map_series(data, lambda b: _digests.digest_b32(bytes(b)))


@F.pandas_udf(T.BinaryType())
def extract_content(payload: pd.Series, content_encoding: pd.Series,
                    transfer_encoding: pd.Series) -> pd.Series:
    """content_stream() composition: de-chunk if chunked, then decompress
    supported encodings (warcio/recordloader.py:27-44) — the byte-identical
    text extraction path."""

    def run(row):
        p, ce, te = row
        if p is None:
            return None
        return _payload.extract_content(bytes(p), ce, te)

    return pd.Series(
        map(run, zip(payload, content_encoding, transfer_encoding)), dtype="object"
    )


def _http_response_row(html, url):
    """(status, location, text) of one raw HTTP response: parse the
    status+headers block out of the payload (loader gating semantics: only
    http:/https: urls, case-sensitive, warcio/recordloader.py:59,183-185),
    de-chunk/decode the body per Transfer-/Content-Encoding and decode it
    with the utf-8/iso-8859-1 fallback. A non-http(s) url or a missing
    header block gives NULL status/location and the raw-block text."""
    from warcio_spark.kernels.parse import _Cursor, _parse_status_headers, header_get

    if html is None:
        return (None, None, None)
    body = bytes(html)
    if not (url or "").startswith(("http:", "https:")):
        return (None, None, _textcodec.decode_fallback(body))
    cur = _Cursor(body)
    try:
        block = _parse_status_headers(cur, None, (), False)
    except EOFError:
        return (None, None, _textcodec.decode_fallback(body))
    if not block["statusline"] and not block["headers"]:
        return (None, None, _textcodec.decode_fallback(body[cur.pos:]))
    first = block["statusline"].split(" ", 1)[0]
    status = int(first) if first.isdigit() else None
    content = _payload.extract_content(
        body[cur.pos:],
        header_get(block["headers"], "content-encoding"),
        header_get(block["headers"], "transfer-encoding"),
    )
    return (status, header_get(block["headers"], "location"),
            _textcodec.decode_fallback(content))


@F.pandas_udf(T.StringType())
def extract_http_text(html: pd.Series, url: pd.Series) -> pd.Series:
    """Full response-payload text path (``_http_response_row``) — the
    byte-identical `html -> text` derivation of the pages table
    (BASELINE input_hint)."""
    return pd.Series([_http_response_row(b, u)[2] for b, u in zip(html, url)],
                     dtype="object")


_HTTP_META_TYPE = T.StructType(
    [
        T.StructField("status", T.IntegerType()),
        T.StructField("location", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


@F.pandas_udf(_HTTP_META_TYPE)
def parse_http_response(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    """extract_http_text plus the response metadata a crawler acts on —
    status code and Location header — in the SAME single Arrow hop (never
    decode the payload twice to learn its status)."""
    out = [_http_response_row(b, u) for b, u in zip(html, url)]
    return pd.DataFrame(out, columns=["status", "location", "text"])


@F.pandas_udf(T.StringType())
def decode_text(data: pd.Series) -> pd.Series:
    """bytes -> str with the utf-8 / iso-8859-1 fallback
    (warcio/statusandheaders.py:329-336)."""
    return _map_series(data, lambda b: _textcodec.decode_fallback(bytes(b)))


# urls matching this (and free of dot-segments) are ALREADY canonical:
# lowercase scheme+host, no port/userinfo/percent/space/fragment, explicit
# path — the hot-path majority of a well-formed frontier never crosses into
# Python at all (see with_canonical_url)
_CANON_FAST_RX_JAVA = (
    r"^https?://[a-z0-9\-]+(\.[a-z0-9\-]+)*/[A-Za-z0-9_\-./~]*"
    r"(\?[A-Za-z0-9_\-=&.]+)?\z"  # >=1 query char: the kernel strips a
    # bare trailing '?' (urlunsplit), so 'http://h/p?' must take the kernel
    # path or the two spellings of one url would get different url_hash
    # values; \z is Java's true end of input (its \Z and $ allow a final
    # line terminator, which the kernel strips)
)


def is_canonical_expr(url) -> Column:
    """JVM-side (codegen) test: True => canonicalize_url(url) == url.
    Exactness is pinned by
    tests/test_urlnorm.py::test_fast_path_regex_means_already_canonical and
    the split-union equivalence test."""
    u = _c(url)
    # a '.' or '..' path segment ends at '/', '?' or the end of the url
    # (the query has no '/'); the kernel removes it: 'http://h/p/..?q=1'
    # is 'http://h/?q=1'
    return u.rlike(_CANON_FAST_RX_JAVA) & ~u.rlike(r"/\.\.?(/|\?|\z)")


def with_canonical_url(df, url_col: str = "url",
                       out_col: str = "url_canon"):
    """Add the canonical-url column with a JVM-side split-union: the
    already-canonical majority (a Zipf-clean frontier is typically >80%)
    takes a pure-codegen passthrough and NEVER crosses the Arrow boundary;
    only the slow minority runs the Python kernel. This is the scaling
    lever for the keys stage: in local mode every python worker competes
    with a JVM task thread for the same core, and on a cluster the Arrow
    hop is the dominant per-row cost."""
    # coalesce: a NULL url must fall into the slow branch (NULL rlike NULL
    # would drop the row from BOTH filters), where the kernel yields NULL
    cond = F.coalesce(is_canonical_expr(F.col(url_col)), F.lit(False))
    fast = df.filter(cond).withColumn(out_col, F.col(url_col))
    slow = df.filter(~cond).withColumn(out_col, canonicalize_url(F.col(url_col)))
    return fast.unionByName(slow)


@F.pandas_udf(T.StringType())
def canonicalize_url(url: pd.Series) -> pd.Series:
    """RFC-3986 canonical form (north rule F12), the full kernel per url —
    with_canonical_url sends it only the urls is_canonical_expr rejects."""
    return _map_series(url, _urls.canonicalize_url)


# charset label inside a meta tag's attribute soup (covers both
# <meta charset=X> and <meta http-equiv=content-type content="...charset=X">
# — the label is what matters, not which attribute carried it) and inside a
# Content-Type header value. HTML5 prescan discipline: first 1024 bytes.
_META_CHARSET_RX = \
    "(?i)<meta\\s[^>]{0,255}?charset\\s*=\\s*[\"']?\\s*([a-zA-Z0-9._:-]+)"
_CT_CHARSET_RX = "(?i)charset\\s*=\\s*\"?([^\";\\s]+)"
SNIFF_PRESCAN_BYTES = 1024


def sniff_charset_expr(prefix, content_type=None) -> Column:
    """Declared character encoding from an (already byte-transparent)
    document prefix string + optional Content-Type header value — the
    HTML5 encoding-sniffing precedence as pure codegen:

    1. BOM (utf-8 / utf-16le / utf-16be) — authoritative;
    2. ``charset=`` parameter of the Content-Type value;
    3. ``<meta charset=..>`` / ``<meta http-equiv .. charset=..>`` within
       the prefix (callers pass the first SNIFF_PRESCAN_BYTES);
    4. NULL — caller falls back to the utf-8/latin-1 ladder
       (``kernels.textcodec.decode_fallback``).

    The label is lowercased but NOT validated — ``decode_with_charset``
    treats unknown labels as undeclared. ``prefix`` must be a
    byte-transparent string (each byte one codepoint, e.g. the
    ISO-8859-1 decode ``sniff_charset`` performs); BOM bytes then test
    as plain startswith."""
    p = _c(prefix)
    bom = (
        F.when(p.startswith("\ufeff"), F.lit("utf-8"))  # already-decoded BOM
        .when(p.startswith("\xef\xbb\xbf"), F.lit("utf-8"))
        .when(p.startswith("\xff\xfe"), F.lit("utf-16le"))
        .when(p.startswith("\xfe\xff"), F.lit("utf-16be"))
    )
    meta = F.nullif(F.regexp_extract(p, _META_CHARSET_RX, 1), F.lit(""))
    out = bom
    if content_type is not None:
        hdr = F.nullif(
            F.regexp_extract(F.coalesce(_c(content_type), F.lit("")),
                             _CT_CHARSET_RX, 1),
            F.lit(""))
        out = F.coalesce(out, hdr)
    return F.lower(F.coalesce(out, meta))


def sniff_charset(payload, headers=None) -> Column:
    """``sniff_charset_expr`` over a BINARY payload column: the first
    SNIFF_PRESCAN_BYTES are made byte-transparent with an ISO-8859-1
    decode (1 byte = 1 codepoint, lossless for pattern matching) and the
    Content-Type value comes from the ordered ``headers`` array when
    given. Pure codegen — the sniff itself never crosses the Arrow
    boundary; only the actual non-fallback decode does
    (``decode_with_charset``)."""
    prefix = F.decode(F.substring(_c(payload), 1, SNIFF_PRESCAN_BYTES),
                      "ISO-8859-1")
    ct = header_get(headers, "content-type") if headers is not None else None
    return sniff_charset_expr(prefix, ct)


@F.pandas_udf(T.StringType())
def decode_with_charset(payload: pd.Series, charset: pd.Series) -> pd.Series:
    """bytes -> str honoring a sniffed charset label, vectorized:
    a known label decodes with errors='replace' (a declared encoding is
    authoritative even over mangled bytes — the browser rule); an
    unknown/NULL label falls back to the warcio utf-8/latin-1 ladder
    (``decode_fallback``), so undeclared content behaves exactly like
    the reference text path. BOM bytes of a matching declared encoding
    are stripped (the decoded text starts at the content)."""
    import codecs

    from warcio_spark.kernels.textcodec import decode_fallback

    def one(raw, label):
        if raw is None:
            return None
        raw = bytes(raw)
        if label is None:
            return decode_fallback(raw)
        try:
            info = codecs.lookup(label)
        except LookupError:
            return decode_fallback(raw)
        if info.name == "utf-8" and raw[:3] == b"\xef\xbb\xbf":
            raw = raw[3:]
        elif info.name == "utf-16-le" and raw[:2] == b"\xff\xfe":
            raw = raw[2:]
        elif info.name == "utf-16-be" and raw[:2] == b"\xfe\xff":
            raw = raw[2:]
        return raw.decode(info.name, errors="replace")

    return pd.Series(
        [one(r, c) for r, c in zip(payload, charset)], dtype="object")


# click/campaign identifiers every major analytics stack appends to urls —
# the classic source of spurious url-level duplicates in a crawl (the same
# document under utm_source=twitter / =rss / =newsletter). Exact names only;
# the utm_ FAMILY is matched by prefix (see strip_tracking_params).
DEFAULT_TRACKING_PARAMS = (
    "gclid", "gbraid", "wbraid", "dclid", "fbclid", "msclkid", "twclid",
    "igshid", "yclid", "mc_cid", "mc_eid", "_hsenc", "_hsmi", "mkt_tok",
    "oly_anon_id", "oly_enc_id", "vero_id", "wickedid", "s_cid",
)
DEFAULT_TRACKING_PREFIXES = ("utm_",)


def strip_tracking_params(url, params=None, prefixes=None) -> Column:
    """Remove tracking query parameters from a url — pure codegen
    (regexp split of the query segment, HOF filter on the key, rejoin).

    Semantics (mirrored by the DuckDB oracle + pytest):
    * the query segment is everything between the FIRST ``?`` and the
      first ``#`` (or end); the fragment and any later ``?`` inside it
      pass through untouched;
    * a parameter is dropped when its key (text before the first ``=``,
      lowercased) equals one of ``params`` or starts with one of
      ``prefixes`` — values and bare keys both count;
    * surviving parameters keep their order and exact bytes (no
      re-encoding, empty ``&&`` segments survive verbatim);
    * when nothing survives the ``?`` is dropped too.

    Compose BEFORE canonicalization / frontier keys: dedup then treats
    ``...?utm_source=a`` and ``...?utm_source=b`` as one url. This is a
    deliberately separate opt-in step — the canonical kernel itself stays
    byte-parity-locked to the reference crawl ordering, which does NOT
    strip params."""
    u = _c(url)
    names = [p.lower() for p in
             (DEFAULT_TRACKING_PARAMS if params is None else params)]
    prefs = [p.lower() for p in
             (DEFAULT_TRACKING_PREFIXES if prefixes is None else prefixes)]
    pre = F.regexp_extract(u, r"^([^?#]*)", 1)
    query = F.regexp_extract(u, r"^[^?#]*\?([^#]*)", 1)
    frag = F.regexp_extract(u, r"(#.*)$", 1)

    def keep(p: Column) -> Column:
        key = F.lower(F.split_part(p, F.lit("="), F.lit(1)))
        dropped = F.lit(False)
        if names:
            dropped = key.isin(*names)
        for pf in prefs:
            dropped = dropped | key.startswith(pf)
        return ~dropped

    kept = F.array_join(F.filter(F.split(query, "&", -1), keep), "&")
    has_query = u.rlike(r"^[^#]*\?")
    return F.when(~has_query, u).otherwise(
        F.concat(
            pre,
            F.when(kept == "", F.lit("")).otherwise(
                F.concat(F.lit("?"), kept)),
            frag,
        )
    )


def url_host_expr(url) -> Column:
    """JVM-side host extraction for canonicalized urls: lower(try_parse_url)
    with IPv6 brackets stripped — codegen, no Python hop. Only safe AFTER
    canonicalization (try_parse_url returns NULL for space-containing urls,
    which canonicalization has already %-encoded). Raw outlinks go to
    ``plans.graph.url_host`` instead, whose regex needs no encoded url."""
    host = F.lower(F.try_parse_url(_c(url), F.lit("HOST")))
    return F.regexp_replace(host, r"^\[(.*)\]$", r"$1")


def surt_key(url) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) url key — the
    pywb/OpenWayback CDX index key — as pure Catalyst expressions (stays
    in whole-stage codegen, no python): lowercase; scheme, userinfo and
    port dropped; leading ``www.`` dropped (pywb's default canon); host
    components reversed and comma-joined; ``)`` + path; query args sorted
    (binary order) behind ``?``; fragment dropped. Expects an absolute
    http(s) URL — compose after ``with_canonical_url`` for messy input.

    ``http://www.Host.com:80/A/b?b=2&a=1#f`` -> ``com,host)/a/b?a=1&b=2``
    """
    u = F.lower(_c(url))
    host = F.regexp_replace(
        F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1),
        r"^www\.", "",
    )
    pathq = F.regexp_replace(  # path+query, fragment stripped
        F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://[^/?#]*([/?#].*)?$", 1),
        r"#.*$", "",
    )
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    qs = F.regexp_extract(pathq, r"\?(.*)$", 1)
    rev_host = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    return F.concat(
        rev_host,
        F.lit(")"),
        F.when(path == "", F.lit("/")).otherwise(path),
        F.when(
            qs == "", F.lit("")
        ).otherwise(F.concat(F.lit("?"), F.array_join(F.array_sort(F.split(qs, "&")), "&"))),
    )
