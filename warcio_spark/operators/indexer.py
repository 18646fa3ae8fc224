"""Indexing job: the reference CLI's ``warcio index -f fields`` as a
DataFrame projection (warcio/indexer.py:15-87, warcio/cli.py:30-34).

Field mini-DSL -> Column expressions; ``http:``-prefixed fields resolve
against the http headers array, everything else against the WARC headers;
``offset``/``length``/``filename`` come from the member columns. Because the
fields become plain ``select`` expressions, Catalyst column pruning IS the
reference's lazy-parse optimization (no_record_parse, warcio/indexer.py:19):
an index that never touches http fields never materializes them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from warcio_spark import functions as WF

DEFAULT_FIELDS = ["offset", "warc-type", "warc-target-uri"]


def field_expr(name: str) -> Column:
    """One index field -> Column (warcio/indexer.py:64-81)."""
    if name == "offset":
        return F.col("offset").cast("string")
    if name == "length":
        return F.col("rec_length").cast("string")
    if name == "filename":
        return F.col("filename")
    if name == "http:status":
        return F.when(
            F.col("rec_type").isin("response", "revisit")
            & F.col("http_statusline").isNotNull(),
            WF.statuscode("http_statusline"),
        )
    if name.startswith("http:"):
        return WF.header_get("http_headers", name[5:])
    return WF.header_get("rec_headers", name)


def index_fields(records: DataFrame, fields=None) -> DataFrame:
    """Projection of index fields, one column per field (null = absent)."""
    fields = fields or DEFAULT_FIELDS
    if isinstance(fields, str):
        fields = fields.split(",")
    return records.select(*[field_expr(f).alias(f) for f in fields])


def index_ndjson(records: DataFrame, fields=None) -> DataFrame:
    """NDJSON index lines with null fields dropped, preserving field order
    (warcio/indexer.py:43-53,86-87)."""
    fields = fields or DEFAULT_FIELDS
    if isinstance(fields, str):
        fields = fields.split(",")
    proj = index_fields(records, fields)
    line = F.to_json(
        F.struct(*[F.col(f) for f in fields])
    )  # to_json drops nulls by default (ignoreNullFields)
    return proj.select(line.alias("line"))


#: the capture fields both CDX renderings carry, in CDXJ json-block order
_CAPTURE_FIELDS = ("url", "mime", "status", "digest", "length", "offset",
                   "filename")


def _captures(records: DataFrame) -> DataFrame:
    """(urlkey, timestamp, *_CAPTURE_FIELDS) for the capture records — the
    one record filter and field projection index_cdxj and index_cdx11
    render. Records with no url OR no parseable WARC-Date are excluded: a
    CDX line is keyed on both. Only capture-bearing record types
    (response/revisit/resource/metadata) are indexed — pywb's cdx-indexer
    excludes request records by default, and a CDX stream merged with
    pywb output must agree on which records exist. ts14 renders via the
    session time zone — run with spark.sql.session.timeZone=UTC (all of
    this repo's session builders do) for spec-correct timestamps."""
    # mime: pywb emits the literal 'warc/revisit' for revisit records;
    # responses carry the PAYLOAD type — http Content-Type with parameters
    # trimmed; everything else the WARC Content-Type
    http_ct = WF.header_get("http_headers", "Content-Type")
    mime = F.when(F.col("rec_type") == "revisit", F.lit("warc/revisit")).when(
        (F.col("rec_type") == "response") & http_ct.isNotNull(),
        F.trim(F.split_part(http_ct, F.lit(";"), F.lit(1))),
    ).otherwise(F.col("content_type"))
    return records.filter(
        F.col("url").isNotNull()
        & F.col("warc_ts").isNotNull()
        & F.col("rec_type").isin("response", "revisit", "resource", "metadata")
    ).select(
        WF.surt_key("url").alias("urlkey"),
        F.date_format(F.col("warc_ts"), "yyyyMMddHHmmss").alias("timestamp"),
        F.col("url"),
        mime.alias("mime"),
        field_expr("http:status").alias("status"),
        WF.header_get("rec_headers", "WARC-Payload-Digest").alias("digest"),
        F.col("rec_length").cast("string").alias("length"),
        F.col("offset").cast("string").alias("offset"),
        F.col("filename"),
    )


def index_cdxj(records: DataFrame) -> DataFrame:
    """CDXJ index lines — ``urlkey timestamp {json}`` — the
    pywb/OpenWayback capture-index format the reference's ecosystem
    indexers emit on top of warcio iteration. One projection per capture
    record (``_captures``): the SURT urlkey and ts14 timestamp are JVM
    expressions, the json block carries url/mime/status/digest/length/
    offset/filename (nulls dropped by to_json). Sorting the output by line
    IS the CDX merge order (urlkey, timestamp) — a plain orderBy at
    whatever scope needs it."""
    block = F.to_json(F.struct(*_CAPTURE_FIELDS))
    return _captures(records).select(
        "urlkey",
        "timestamp",
        block.alias("block"),
        F.concat_ws(" ", "urlkey", "timestamp", block).alias("line"),
    )


#: header line of the classic Internet-Archive/Wayback capture index
#: (11-field variant; one letter per column, same order as cdx11_line)
CDX11_HEADER = " CDX N b a m s k r M S V g"


def cdx11_line(urlkey, ts14, url, mime, status, digest, length, offset,
               filename) -> Column:
    """One classic 11-field CDX line from scalar Columns.

    Field order is the Wayback ``CDX N b a m s k r M S V g`` spec:
    urlkey, timestamp, original url, mime, status, payload digest
    (bare base32, no ``sha1:`` prefix — IA CDX convention), redirect,
    robot meta flags, compressed length, offset, filename. NULL fields
    render as ``-`` (the spec's absent marker). The redirect (r) and
    robotflags (M) columns are emitted as ``-`` unconditionally,
    matching pywb's cdx-indexer, whose modern output never populates
    them; consumers that want redirect targets read the records
    (functions.header_get('http_headers', 'Location')).

    Space is the column separator, so space-bearing values would shift
    every later column: mime is stripped of spaces (a header like
    ``text/html ; charset=..`` trims to its parameter-free token
    upstream anyway) and urls arrive percent-encoded from
    canonicalization. Exposed as a Column factory (not just the
    records-level wrapper below) so the driver's DuckDB-oracled query
    can exercise the exact null/format semantics on a synthetic frame.
    """
    dash = lambda c: F.coalesce(c.cast("string"), F.lit("-"))  # noqa: E731
    bare_digest = F.split_part(digest, F.lit(":"), F.lit(-1))
    return F.concat_ws(
        " ",
        dash(urlkey),
        dash(ts14),
        dash(url),
        dash(F.regexp_replace(mime, " ", "")),
        dash(status),
        dash(bare_digest),
        F.lit("-"),   # r: redirect
        F.lit("-"),   # M: robot meta flags
        dash(length),
        dash(offset),
        dash(filename),
    )


def index_cdx11(records: DataFrame) -> DataFrame:
    """Classic 11-field CDX capture index over a parsed records table —
    the pre-CDXJ format Wayback and Common Crawl's cdx/ listings use.
    The same capture records and fields as index_cdxj (``_captures``);
    only the rendering differs: fixed 11 space-separated columns with
    ``-`` for absent values instead of a json block. Sort by line for
    (urlkey, timestamp) merge order; prepend CDX11_HEADER when writing a
    standalone file."""
    return _captures(records).select(
        "urlkey",
        "timestamp",
        cdx11_line(*[F.col(c) for c in ("urlkey", "timestamp")
                     + _CAPTURE_FIELDS]).alias("line"),
    )


def timemap_links(index: DataFrame,
                  replay_prefix: str = "/web/") -> DataFrame:
    """RFC 7089 TimeMap (application/link-format) lines from a typed
    capture index (read_cdxj/read_cdx11 output) — the Memento API
    surface pywb/OpenWayback serve from the same CDX data. One output
    row per link-format line, keyed (urlkey, pos) so a serving layer
    range-reads one urlkey's lines in order:

      pos 0: <original-url>; rel="original",
      pos i: <{replay_prefix}{ts14}/{url}>; rel="[first ][last ]memento";
             datetime="{http-date}",   (comma absent on the final line)

    Mementos order by (timestamp, url); a single capture is
    ``first last memento`` (RFC 7089 §2.2.2). The original url is the
    earliest capture's raw url (captures of one urlkey can differ in
    scheme). Plan: one window over urlkey — row_number + count ride the
    same sort, the original line is a conditional second projection of
    the rn=1 row (no groupBy, no join, no second shuffle).
    """
    caps = index.filter(
        F.col("urlkey").isNotNull() & F.col("url").isNotNull()
        & F.try_to_timestamp(
            F.col("timestamp"), F.lit("yyyyMMddHHmmss")).isNotNull()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("urlkey").orderBy("timestamp", "url")
    ranked = caps.select(
        "urlkey", "timestamp", "url",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("urlkey")).alias("_cnt"),
    )
    http_date = F.concat(
        F.date_format(
            F.try_to_timestamp(F.col("timestamp"),
                               F.lit("yyyyMMddHHmmss")),
            "EEE, dd MMM yyyy HH:mm:ss"),
        F.lit(" GMT"),
    )
    rel = F.concat(
        F.when(F.col("_rn") == 1, F.lit("first ")).otherwise(F.lit("")),
        F.when(F.col("_rn") == F.col("_cnt"), F.lit("last "))
        .otherwise(F.lit("")),
        F.lit("memento"),
    )
    memento = ranked.select(
        "urlkey",
        F.col("_rn").alias("pos"),
        F.concat(
            F.lit("<"), F.lit(replay_prefix), F.col("timestamp"),
            F.lit("/"), F.col("url"),
            F.lit('>; rel="'), rel, F.lit('"; datetime="'), http_date,
            F.lit('"'),
            F.when(F.col("_rn") == F.col("_cnt"), F.lit(""))
            .otherwise(F.lit(",")),
        ).alias("line"),
    )
    original = ranked.filter(F.col("_rn") == 1).select(
        "urlkey",
        F.lit(0).alias("pos"),
        F.concat(F.lit("<"), F.col("url"),
                 F.lit('>; rel="original",')).alias("line"),
    )
    return original.unionByName(memento)


def collapse_captures(index: DataFrame, *, field: str = "timestamp",
                      prefix: int = 0, urlkey_col: str = "urlkey",
                      ts_col: str = "timestamp",
                      tiebreak_col: str | None = "url") -> DataFrame:
    """Wayback/pywb CDX ``collapse=`` over a typed capture index: keep
    a capture only when its collapse key differs from the PREVIOUS
    capture of the same urlkey in (timestamp, url) order — the
    adjacency semantics of the cdx-server filter (``collapse=
    timestamp:6`` = at most one capture per urlkey per month run;
    ``collapse=digest`` = squash consecutive identical-payload
    captures but KEEP a change-back, which a plain group-by cannot
    express: A B A collapses to A B A, not A B). The standard
    index-thinning step before replay UIs and change-tracking diffs.

    ``field`` names the column carrying the collapse key; ``prefix``
    > 0 compares only its first ``prefix`` characters (the
    ``timestamp:N`` form). A NULL key never matches anything, so NULL
    rows always survive. Schema passes through unchanged.
    ``tiebreak_col`` breaks equal-timestamp ordering deterministically;
    it is skipped when absent from the frame (or passed as None), so
    narrow (urlkey, timestamp, key) projections work as-is — exact
    same-second captures then order arbitrarily, which only matters
    when they also differ in the collapse key.

    Scale shape: ONE window (lag) partitioned by urlkey ordered by
    (timestamp, url) — a single shuffle on urlkey, the same
    partitioning the columnar CDX table already carries (a bucketed /
    urlkey-sorted source makes it shuffle-free), then a codegen
    filter. Nothing aggregates; a urlkey with millions of captures
    sorts within its partition only."""
    from pyspark.sql import Window

    key = F.col(field).cast("string")
    if int(prefix) > 0:
        key = F.substring(key, 1, int(prefix))
    order = [ts_col]
    if tiebreak_col and tiebreak_col in index.columns:
        order.append(tiebreak_col)
    w = Window.partitionBy(urlkey_col).orderBy(*order)
    out = index.withColumn("_ck", key).withColumn(
        "_prev", F.lag("_ck").over(w))
    keep = (F.col("_ck").isNull() | F.col("_prev").isNull()
            | (F.col("_ck") != F.col("_prev")))
    return out.filter(keep).drop("_ck", "_prev")
