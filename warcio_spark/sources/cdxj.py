"""CDXJ capture-index reader — the query side of operators/indexer.py's
``index_cdxj`` writer.

A CDXJ line is ``urlkey timestamp {json}`` (pywb/OpenWayback capture
index; reference-ecosystem indexers emit it on top of warcio iteration).
Reading it back is what makes the index useful at scale: filter the
index (a small table) by urlkey/prefix/time, then fetch ONLY the
matching record byte-ranges from the archive
(sources.warc.read_warc_entries) instead of re-scanning 100 TB of WARC.

Everything here is pure Catalyst expressions (split + from_json) — no
python in the scan path, so urlkey/time predicates push into the text
scan and the whole parse stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# the JSON block fields index_cdxj writes (operators/indexer._CAPTURE_FIELDS);
# pywb stores numerics as strings — parse as strings, cast after
_BLOCK_SCHEMA = (
    "url string, mime string, status string, digest string, "
    "length string, offset string, filename string"
)


def parse_cdxj_lines(lines: DataFrame, line_col: str = "line",
                     keep: tuple = ()) -> DataFrame:
    """Typed columns from a DataFrame of CDXJ lines: urlkey, ts14
    timestamp, and the JSON block fields (status int, length/offset
    long), plus any ``keep`` passthrough columns. Malformed lines (fewer
    than three fields / bad JSON) yield NULL fields, never errors — an
    index merged from many writers can carry junk lines.

    Plan shape: the urlkey/timestamp splits are CSE'd by Catalyst, and
    the JSON block goes through ``inline(array(from_json(...)))`` — a
    Generate barrier — so the block is PARSED ONCE per row; naively
    projecting seven ``j[field]`` expressions re-inlines the full
    from_json into each output column (same Catalyst re-inlining trap
    as the canonicalization middle tier, BENCH/BASELINE.md r4 §4)."""
    line = F.ltrim(F.col(line_col))
    urlkey = F.split_part(line, F.lit(" "), F.lit(1))
    ts = F.split_part(line, F.lit(" "), F.lit(2))
    # everything after the second space; substring is 1-based
    block = F.substring(
        line, F.length(urlkey) + F.length(ts) + F.lit(3), F.length(line)
    )
    j = F.from_json(block, _BLOCK_SCHEMA)
    keep_cols = [F.col(c) for c in keep]
    parsed = lines.select(
        *keep_cols,
        F.nullif(urlkey, F.lit("")).alias("urlkey"),
        F.nullif(ts, F.lit("")).alias("timestamp"),
        F.inline(F.array(j)),
    )
    return parsed.select(
        *keep, "urlkey", "timestamp", "url", "mime",
        F.col("status").cast("int").alias("status"),
        "digest",
        F.col("length").cast("long").alias("length"),
        F.col("offset").cast("long").alias("offset"),
        "filename",
    )


def parse_cdx11_lines(lines: DataFrame, line_col: str = "line",
                      keep: tuple = ()) -> DataFrame:
    """Typed columns from classic 11-field CDX lines (the Wayback
    `` CDX N b a m s k r M S V g`` format operators/indexer.index_cdx11
    writes) — SAME output schema as parse_cdxj_lines, so the fetch path
    downstream is format-agnostic. ``-`` renders back to NULL; the
    header line (first token ``CDX``) and lines without exactly 11
    tokens yield NULL fields, never errors. The redirect/robotflags
    columns (always ``-`` in modern indexes) are not surfaced. The
    digest column is the bare base32 the classic format stores (no
    ``sha1:`` prefix, unlike the CDXJ block).

    Pure Catalyst: one split, then F.get accessors (NULL-safe on short
    arrays — element_at would raise under ANSI mode)."""
    toks = F.split(F.ltrim(F.col(line_col)), " ")
    ok = (F.size(toks) == 11) & (F.get(toks, 0) != "CDX")

    def fld(i: int) -> Column:
        v = F.get(toks, i)
        return F.when(ok & (v != "-"), v)

    keep_cols = [F.col(c) for c in keep]
    return lines.select(
        *keep_cols,
        fld(0).alias("urlkey"),
        fld(1).alias("timestamp"),
        fld(2).alias("url"),
        fld(3).alias("mime"),
        fld(4).cast("int").alias("status"),
        fld(5).alias("digest"),
        fld(8).cast("long").alias("length"),
        fld(9).cast("long").alias("offset"),
        fld(10).alias("filename"),
    )


def read_cdxj(spark: SparkSession, source) -> DataFrame:
    """Read CDXJ index lines into a typed DataFrame.

    ``source`` is a path/glob (read as text — one line per capture, the
    on-disk format `index_cdxj` + CLI ``cdxj`` write) or an existing
    DataFrame with a string ``line`` column (for index tables already in
    Spark). Returns (urlkey, timestamp, url, mime, status, digest,
    length, offset, filename) — length/offset are the compressed member
    extent in the source WARC, exactly what ``read_warc_entries`` needs.
    """
    if isinstance(source, DataFrame):
        lines = source.select(F.col("line"))
    else:
        lines = spark.read.text(source).withColumnRenamed("value", "line")
    return parse_cdxj_lines(lines)


def read_cdx11(spark: SparkSession, source) -> DataFrame:
    """Read a classic 11-field CDX index (path/glob or DataFrame with a
    ``line`` column) into the same typed schema as read_cdxj — the
    header line parses to an all-NULL row; filter on
    ``urlkey IS NOT NULL`` (the fetch verb does)."""
    if isinstance(source, DataFrame):
        lines = source.select(F.col("line"))
    else:
        lines = spark.read.text(source).withColumnRenamed("value", "line")
    return parse_cdx11_lines(lines)


# pywb timeutils PAD_14_DOWN: a short timestamp extends with the epoch
# template, so '2024' means 2024-01-01 00:00:00 and '202406' June 1st.
_PAD_14_DOWN = "19700101000000"


def pad_ts14(ts) -> Column:
    """Pad a 1-14 digit timestamp prefix down to a full ts14 the way
    pywb's replay lookup does (template-fill, not zero-fill, so the
    result is always a valid calendar date)."""
    ts = F.col(ts) if isinstance(ts, str) else ts
    return F.concat(
        ts, F.substring(F.lit(_PAD_14_DOWN), F.length(ts) + 1, 14))


def _ts14_epoch(col: Column) -> Column:
    # try_to_timestamp: malformed/short-padded-to-invalid stamps become
    # NULL rather than ANSI errors (an index merged from many writers
    # can carry junk lines)
    return F.unix_timestamp(
        F.try_to_timestamp(col, F.lit("yyyyMMddHHmmss")))


# pywb timeutils PAD_*_UP analog: a short `to=` prefix extends to the END
# of its period (to=2024 means through 20241231235959). Comparison is
# lexicographic on the ts14 string, exactly like the CDX server's.
_PAD_14_UP = "99991231235959"


def pad_ts14_up(ts) -> Column:
    """Pad a 1-14 digit timestamp prefix UP (end of period) the way the
    CDX server's ``to=`` bound does (template-fill with 1231235959)."""
    ts = F.col(ts) if isinstance(ts, str) else ts
    return F.concat(
        ts, F.substring(F.lit(_PAD_14_UP), F.length(ts) + 1, 14))


def _host_part(key: Column) -> Column:
    return F.split_part(key, F.lit(")"), F.lit(1))


def cdx_query(index: DataFrame, url: str | None = None,
              match_type: str = "exact", from_ts: str | None = None,
              to_ts: str | None = None, filters=(),
              collapse: str | None = None, limit: int | None = None,
              reverse: bool = False, fields=None) -> DataFrame:
    """CDX-server query over a typed capture index (read_cdxj/read_cdx11
    output) — the pywb / IA Wayback CDX Server API re-expressed as one
    declarative plan (reference ecosystem: pywb cdxserver queries run on
    indexes built by warcio iteration):

    - ``url`` + ``match_type``: ``exact`` (urlkey equality), ``prefix``
      (urlkey startswith), ``host`` (same SURT host), ``domain`` (host
      plus all subdomains). The url is SURT-keyed with the same
      ``functions.surt_key`` expressions the index writer used, over a
      literal — Catalyst constant-folds it to a plain string comparison
      that pushes into the index scan.
    - ``from_ts``/``to_ts``: 1-14 digit prefixes; ``from`` pads down to
      the start of its period, ``to`` pads UP (to=2024 means through
      20241231235959), compared lexicographically like the CDX server.
    - ``filters``: ``[!]field:regex`` strings (IA spec). The regex must
      FULLY match the field (anchored); ``!`` negates. Rows whose field
      is NULL never match, negated or not (SQL three-valued logic).
      Keep patterns in the Java∩RE2 common subset for oracle parity.
    - ``collapse``: ``field`` or ``field:N`` (compare only the first N
      chars). ADJACENT rows with equal collapse values — in (timestamp,
      url) order within a urlkey, direction following ``reverse`` —
      keep only the first, the IA adjacency semantics (a value
      recurring NON-adjacently is kept again). Unlike the flat-file
      server, adjacency is evaluated per urlkey partition, so a run of
      equal values spanning two urlkeys keeps both heads (identical
      result for ``timestamp:N``/``digest`` collapses, where runs
      cannot span keys in practice).
    - ``limit`` + ``reverse``: global (urlkey asc, timestamp, url)
      ordering — reversed WITHIN urlkey when ``reverse`` (the server's
      newest-first mode) — compiled to TakeOrderedAndProject.
    - ``fields``: output projection (CDX ``fl=``).

    Plan shape: match/time/filter predicates are constant comparisons
    (pushdown-eligible); ``collapse`` costs ONE hash shuffle on urlkey
    (lag window); without collapse/limit the query is shuffle-free.
    Compose with ``sources.warc.read_warc_entries`` to fetch only the
    matching byte ranges out of a 100 TB archive.
    """
    from pyspark.sql import Window

    from warcio_spark.functions import surt_key

    out = index
    if url is not None:
        key = surt_key(F.lit(url))
        if match_type == "exact":
            out = out.filter(F.col("urlkey") == key)
        elif match_type == "prefix":
            out = out.filter(F.col("urlkey").startswith(key))
        elif match_type == "host":
            out = out.filter(_host_part(F.col("urlkey")) == _host_part(key))
        elif match_type == "domain":
            hp = _host_part(F.col("urlkey"))
            dom = _host_part(key)
            out = out.filter(
                (hp == dom) | hp.startswith(F.concat(dom, F.lit(","))))
        else:
            raise ValueError(
                "match_type must be exact|prefix|host|domain, got %r"
                % (match_type,))
    if from_ts is not None:
        out = out.filter(F.col("timestamp") >= pad_ts14(F.lit(from_ts)))
    if to_ts is not None:
        out = out.filter(F.col("timestamp") <= pad_ts14_up(F.lit(to_ts)))
    for spec in filters:
        neg = spec.startswith("!")
        field, sep, pat = spec.lstrip("!").partition(":")
        if not sep:
            raise ValueError("filter needs field:regex, got %r" % (spec,))
        matched = F.col(field).cast("string").rlike("^(?:%s)$" % pat)
        out = out.filter(~matched if neg else matched)

    direction = (lambda c: c.desc()) if reverse else (lambda c: c.asc())
    if collapse is not None:
        cfield, _, n = collapse.partition(":")
        val = F.col(cfield).cast("string")
        if n:
            val = F.substring(val, 1, int(n))
        w = Window.partitionBy("urlkey").orderBy(
            direction(F.col("timestamp")), direction(F.col("url")))
        out = (out.withColumn("_cv", val)
               .withColumn("_keep",
                           ~F.col("_cv").eqNullSafe(
                               F.lag("_cv").over(w)))
               .filter(F.col("_keep"))
               .drop("_cv", "_keep"))
    if limit is not None:
        out = out.orderBy(
            F.col("urlkey").asc(), direction(F.col("timestamp")),
            direction(F.col("url"))).limit(int(limit))
    if fields is not None:
        out = out.select(*fields)
    return out


def closest_captures(index: DataFrame, requests: DataFrame,
                     k: int = 1, req_ts_col: str = "req_ts") -> DataFrame:
    """Replay lookup: for each request (urlkey + requested timestamp)
    return the ``k`` captures closest in time — the pywb CDX-server
    ``sort=closest`` semantics (closest first; exact-distance ties go to
    the EARLIER capture), distributed over an index of any size.

    ``requests`` must be distinct rows with at least (urlkey,
    ``req_ts_col``); every requests column is carried through. Short
    timestamps on either side pad down pywb-style (`pad_ts14`); captures
    whose timestamp does not parse are never chosen. Output adds the
    capture columns plus ``ts_diff_s`` and ``closest_rank`` (1 = best).

    Plan shape: the requests side broadcasts, so the 100 TB index never
    shuffles for the join; the rank filter compiles to WindowGroupLimit,
    so each map task forwards at most k rows per request into the one
    exchange on the request key — the shuffle carries O(requests × k ×
    tasks), independent of index size.
    """
    from pyspark.sql import Window

    req_cols = requests.columns
    if "urlkey" not in req_cols:
        raise ValueError("requests needs a urlkey column")
    cap_epoch = _ts14_epoch(pad_ts14(F.col("timestamp")))
    req_epoch = _ts14_epoch(pad_ts14(F.col(req_ts_col)))
    joined = (
        index.join(F.broadcast(requests), "urlkey")
        .withColumn("ts_diff_s", F.abs(cap_epoch - req_epoch))
        .filter(F.col("ts_diff_s").isNotNull())
    )
    w = (Window.partitionBy(*req_cols)
         .orderBy(F.col("ts_diff_s").asc(), F.col("timestamp").asc()))
    return (joined
            .withColumn("closest_rank", F.row_number().over(w))
            .filter(F.col("closest_rank") <= k))


def capture_diff(index: DataFrame, window_a, window_b) -> DataFrame:
    """Crawl-over-crawl diff: classify every urlkey captured in either
    of two timestamp windows as ``added`` / ``gone`` / ``changed`` /
    ``unchanged`` — the snapshot-comparison analysis run between
    Common-Crawl-style monthly crawls (reference ecosystem: the same
    question the IA CDX server answers one url at a time via
    ``collapse=digest``; here it is corpus-wide in one pass).

    ``window_a`` / ``window_b``: ``(from_ts, to_ts)`` pairs of 1-14
    digit prefixes with the CDX-server padding semantics (``from`` pads
    down to the start of its period, ``to`` pads UP — ``"2024"`` means
    through 20241231235959), exactly like ``cdx_query``.

    Per urlkey the comparison is between the LATEST capture of each
    window (ties on timestamp broken by (url, digest) so the pick is
    deterministic):

    - ``added``:     captured in B, not in A;
    - ``gone``:      captured in A, not in B (a crawl-scope statement,
                     not a 404 — status-aware liveness is ``link_rot``);
    - ``changed``:   captured in both, latest digests differ;
    - ``unchanged``: captured in both, same digest (NULL == NULL).

    Output: (urlkey, url, change, digest_a, digest_b, ts_a, ts_b,
    n_captures_a, n_captures_b); ``url``/``ts_*`` come from the latest
    capture (B preferred for ``url``).

    Scale shape — the whole point vs the naive two-snapshots full-outer
    join: ONE scan filtered to the two windows (pushdown-eligible
    constant range predicates; on a ``cdx_table`` layout the row-group
    stats prune everything outside them) feeding ONE hash aggregation
    on urlkey with FILTER'd conditional aggregates — a single shuffle,
    partial map-side aggregation, no join at 10^10 captures.
    """
    lo_a, hi_a = (pad_ts14(F.lit(window_a[0])),
                  pad_ts14_up(F.lit(window_a[1])))
    lo_b, hi_b = (pad_ts14(F.lit(window_b[0])),
                  pad_ts14_up(F.lit(window_b[1])))
    ts = F.col("timestamp")
    in_a, in_b = ts.between(lo_a, hi_a), ts.between(lo_b, hi_b)
    # lexicographic latest-pick key: timestamp is fixed-width ts14, so
    # concat order == (timestamp, url, digest) order; concat_ws skips a
    # NULL digest instead of nulling the whole key
    pick = F.concat_ws("", ts, F.col("url"), F.col("digest"))

    def latest(col: str, cond) -> Column:
        return F.max_by(F.col(col), F.when(cond, pick))

    agg = (
        index.filter(in_a | in_b)
        .groupBy("urlkey")
        .agg(
            F.count(F.when(in_a, 1)).alias("n_captures_a"),
            F.count(F.when(in_b, 1)).alias("n_captures_b"),
            latest("digest", in_a).alias("digest_a"),
            latest("digest", in_b).alias("digest_b"),
            latest("timestamp", in_a).alias("ts_a"),
            latest("timestamp", in_b).alias("ts_b"),
            latest("url", in_a).alias("_url_a"),
            latest("url", in_b).alias("_url_b"),
        )
    )
    change = (
        F.when(F.col("n_captures_a") == 0, F.lit("added"))
        .when(F.col("n_captures_b") == 0, F.lit("gone"))
        .when(F.col("digest_a").eqNullSafe(F.col("digest_b")),
              F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return agg.select(
        "urlkey",
        F.coalesce("_url_b", "_url_a").alias("url"),
        change.alias("change"),
        "digest_a", "digest_b", "ts_a", "ts_b",
        "n_captures_a", "n_captures_b",
    )


def capture_diff_summary(diff: DataFrame) -> DataFrame:
    """The datasheet row: per change class, url count and total capture
    volume in each window. One further aggregation over capture_diff
    (4 output rows — the second shuffle carries nothing)."""
    return (diff.groupBy("change")
            .agg(F.count("*").alias("n_urls"),
                 F.sum("n_captures_a").alias("captures_a"),
                 F.sum("n_captures_b").alias("captures_b")))
