"""Digest checking + archive validation jobs: the reference's ``warcio
check`` CLI (warcio/checker.py:19-71) as DataFrame aggregations."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def digest_report(records: DataFrame) -> DataFrame:
    """Per-file digest outcome counts (records must be read with
    check_digests=True): pass/fail/unchecked + the exit-style failed flag
    (A2/A3, warcio/checker.py:29-30,50)."""
    return records.groupBy("filename").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum(F.when(F.col("digest_ok") == True, 1).otherwise(0)).alias("n_pass"),  # noqa: E712
        F.sum(F.when(F.col("digest_ok") == False, 1).otherwise(0)).alias("n_fail"),  # noqa: E712
        F.sum(F.when(F.col("digest_ok").isNull(), 1).otherwise(0)).alias("n_unchecked"),
        F.max(F.col("file_err_count")).alias("err_count"),
        F.max(F.col("file_error")).alias("file_error"),
        F.max((F.col("digest_ok") == False).cast("int")).alias("failed"),  # noqa: E712
    )


def exit_value(records: DataFrame) -> int:
    """The CLI exit fold: 1 if any record failed or any file errored."""
    row = records.agg(
        F.max(
            F.when(
                (F.col("digest_ok") == False) | F.col("file_error").isNotNull(), 1  # noqa: E712
            ).otherwise(0)
        ).alias("exit")
    ).first()
    return int(row.exit or 0)


def rec_type_census(records: DataFrame) -> DataFrame:
    """Per-file record-type counts (A1, test/test_archiveiterator.py:26-30)."""
    return records.groupBy("filename", "rec_type").agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# MIME sniffing: magic-byte content-type detection vs the declared header.
#
# A crawl-hygiene audit in the spirit of the reference's content-type
# handling (warcio/recordloader.py:223-235 trusts the declared
# Content-Type; pywb and browsers re-sniff).  Rules follow the WHATWG MIME
# Sniffing Standard's pattern-matching core: exact magic prefixes first,
# then whitespace-skipped case-insensitive markup tags, then a binary/text
# split on whether the sniff window contains a NUL byte.
#
# Everything operates on HEX(first 64 bytes) so the identical rule table
# compiles to both a Spark Column (pure JVM regexp/CASE codegen — no UDF,
# no shuffle; at 100 TB this is a scan+project that pipelines into
# whatever runs next) and ANSI SQL text for an independent oracle.
# ---------------------------------------------------------------------------

SNIFF_WINDOW = 64

# (uppercase-hex prefixes, sniffed mime) — first match wins.  Plain
# prefix compares, not regexes: each compiles to a startswith/LIKE, so
# the whole ladder stays inside one small whole-stage-codegen method (a
# 19-regex CASE blew janino's 64KB method limit and forced the stage
# into interpreted mode).
MAGIC_RULES: list[tuple[list[str], str]] = [
    (["89504E470D0A1A0A"], "image/png"),
    (["FFD8FF"], "image/jpeg"),
    (["474946383761", "474946383961"], "image/gif"),
    (["25504446"], "application/pdf"),
    (["1F8B"], "application/gzip"),
    (["504B0304", "504B0506"], "application/zip"),
]

# RIFF containers: 'RIFF' + 4-byte chunk size + form type at bytes 9-12
# (hex chars 17-24).
RIFF_RULES: list[tuple[str, str]] = [
    ("57454250", "image/webp"),
    ("57415645", "audio/wav"),
]

# Markup tags matched case-insensitively after optional leading HTML
# whitespace (tab/LF/CR/space), per the WHATWG table.
TAG_RULES: list[tuple[str, str]] = [
    ("<!doctype html", "text/html"),
    ("<html", "text/html"),
    ("<head", "text/html"),
    ("<script", "text/html"),
    ("<?xml", "text/xml"),
    ("<svg", "image/svg+xml"),
    ("{", "application/json"),
    ("[", "application/json"),
]

_WS_HEX = "(09|0A|0D|20)*"


def _ci_hex(s: str) -> str:
    """Case-insensitive uppercase-hex regex fragment for an ASCII string."""
    parts = []
    for ch in s:
        lo, up = ch.lower(), ch.upper()
        if lo != up:
            parts.append("(%02X|%02X)" % (ord(up), ord(lo)))
        else:
            parts.append("%02X" % ord(ch))
    return "".join(parts)


def tag_rules_hex() -> list[tuple[str, str]]:
    """The markup-tag rules as (anchored ci hex regex, mime) pairs over
    the whitespace-stripped window — the single source both the Spark
    expression and the SQL oracle text compile from."""
    return [("^" + _ci_hex(tag), mime) for tag, mime in TAG_RULES]


# hex pairs always start at even offsets, so `^(..)*00` == "window
# contains a 0x00 byte" (the WHATWG binary-data check).
NUL_RULE_HEX = "^(..)*00"

# Family aliases applied to BOTH the sniffed and the declared type before
# comparing, so e.g. application/xhtml+xml vs a sniffed text/html is not
# flagged.
MIME_ALIASES: list[tuple[str, str]] = [
    ("application/xhtml+xml", "text/html"),
    ("application/xml", "text/xml"),
    ("image/jpg", "image/jpeg"),
    ("text/json", "application/json"),
    ("application/x-gzip", "application/gzip"),
    ("audio/x-wav", "audio/wav"),
]


def _normalize_mime(col):
    """lowercase, parameters stripped, aliases folded to their family.

    Map lookup, not an iterated when-chain: chaining
    ``when(base == src).otherwise(base)`` embeds the base expression
    twice per alias (2^n growth) and overflows janino."""
    base = F.lower(F.trim(F.split_part(col, F.lit(";"), F.lit(1))))
    alias_map = F.create_map(
        *[F.lit(x) for pair in MIME_ALIASES for x in pair]
    )
    return F.coalesce(F.element_at(alias_map, base), base)


def sniff_mime(
    df: DataFrame,
    payload_col: str = "payload",
    declared_col: str = "content_type",
) -> DataFrame:
    """Append ``sniffed_mime``, ``declared_norm`` and ``mismatch`` columns.

    ``sniffed_mime`` comes from the magic/tag/NUL rule ladder over the
    first SNIFF_WINDOW bytes of ``payload_col``; ``declared_norm`` is the
    parameter-stripped, alias-folded declared type; ``mismatch`` flags
    rows whose bytes contradict their header.  Pure Catalyst expressions
    end-to-end — prefix compares on a hex window computed once (codegen
    subexpression elimination) plus 6 short anchored regexes on the
    whitespace-stripped window: no Python hop, no shuffle."""
    h = F.hex(F.col(payload_col).substr(1, SNIFF_WINDOW))
    # leading-whitespace strip happens once; `^(09|0A|0D|20)*` consumes
    # whole hex pairs so byte alignment is preserved
    h2 = F.regexp_replace(h, "^" + _WS_HEX, "")
    sniffed = None

    def _add(cond, mime):
        nonlocal sniffed
        sniffed = (
            F.when(cond, F.lit(mime)) if sniffed is None
            else sniffed.when(cond, F.lit(mime))
        )

    for prefixes, mime in MAGIC_RULES:
        cond = h.startswith(prefixes[0])
        for p in prefixes[1:]:
            cond = cond | h.startswith(p)
        _add(cond, mime)
    for form, mime in RIFF_RULES:
        _add(h.startswith("52494646") & (h.substr(17, 8) == form), mime)
    for pat, mime in tag_rules_hex():
        _add(h2.rlike(pat), mime)
    sniffed = sniffed.when(h.rlike(NUL_RULE_HEX), F.lit("application/octet-stream"))
    sniffed = sniffed.otherwise(F.lit("text/plain"))
    declared_norm = _normalize_mime(F.col(declared_col))
    return df.withColumn("sniffed_mime", sniffed).withColumn(
        "declared_norm", declared_norm
    ).withColumn("mismatch", F.col("sniffed_mime") != F.col("declared_norm"))


def sniff_mime_sql(payload_expr: str, declared_expr: str) -> tuple[str, str, str]:
    """Render the identical sniff ladder as ANSI SQL text (DuckDB oracle).

    Returns (sniffed_sql, declared_norm_sql, mismatch_sql) fragments over
    the given payload/declared SQL expressions."""
    # DuckDB has no substring-on-BLOB; left() on the hex string is the
    # same 64-byte window (2 hex chars per byte).  `h`/`h2` are expected
    # to be SELECTed once in a surrounding CTE by the caller — pass the
    # column names in; this keeps the oracle text mirroring the Spark
    # plan's compute-once window.
    h = f"left(hex({payload_expr}), {2 * SNIFF_WINDOW})"
    h2 = f"regexp_replace({h}, '^{_WS_HEX}', '')"
    whens = ""
    for prefixes, mime in MAGIC_RULES:
        cond = " OR ".join(f"starts_with({h}, '{p}')" for p in prefixes)
        whens += f" WHEN {cond} THEN '{mime}'"
    for form, mime in RIFF_RULES:
        whens += (
            f" WHEN starts_with({h}, '52494646')"
            f" AND substring({h}, 17, 8) = '{form}' THEN '{mime}'"
        )
    for pat, mime in tag_rules_hex():
        whens += f" WHEN regexp_matches({h2}, '{pat}') THEN '{mime}'"
    whens += (
        f" WHEN regexp_matches({h}, '{NUL_RULE_HEX}')"
        " THEN 'application/octet-stream'"
    )
    sniffed = f"(CASE{whens} ELSE 'text/plain' END)"
    # Alias sources and targets are disjoint, so the iterative Spark
    # when-chain is equivalent to one flat simple CASE.
    b = f"lower(trim(split_part({declared_expr}, ';', 1)))"
    alias_whens = "".join(
        f" WHEN '{src}' THEN '{dst}'" for src, dst in MIME_ALIASES
    )
    base = f"(CASE {b}{alias_whens} ELSE {b} END)"
    mismatch = f"({sniffed} <> {base})"
    return sniffed, base, mismatch


# ---------------------------------------------------------------------------
# Truncation audit: WARC-Truncated (WARC 1.1 §5.13) + declared-vs-actual
# payload length.
#
# The spec lets a writer store a cut-short capture and say so: a
# WARC-Truncated header with reason-token length / time / disconnect /
# unspecified.  The reference carries the header through like any other
# (statusandheaders.py get_header) but never audits it, and a record cut
# short WITHOUT the header (the crawler died, the pipe broke mid-write) is
# invisible until a consumer trips over the missing bytes.  This is the
# corpus-hygiene sweep: classify every record's body against its own
# declared HTTP Content-Length.
#
# Pure JVM expressions over the parsed-records table (header_get is a
# higher-order filter) — no UDF, no shuffle; at 100 TB it pipelines into
# the ingest scan.  `truncation_census` adds the one groupBy a report
# needs.
# ---------------------------------------------------------------------------


def truncation_audit(records: DataFrame) -> DataFrame:
    """Per-record truncation verdict.

    Expects the parsed-records shape (``rec_headers``, ``http_headers``,
    ``payload_length`` — sources/warc.read_warc output).  Appends:

    - ``truncated_reason`` — the WARC-Truncated value, trimmed and
      lowercased; a PRESENT-but-empty header reads ``unspecified`` (the
      spec's own default); NULL when the header is absent;
    - ``declared_cl`` — the HTTP Content-Length the server declared
      (NULL when absent or non-numeric: chunked bodies carry none);
    - ``body_length`` — the actual stored body byte count
      (``payload_length``; NULL when the record has no http payload);
    - ``deficit`` — ``declared_cl - body_length`` when positive;
    - ``trunc_status`` — ``declared`` (header present, honest writer),
      ``silent`` (no header, body shorter than declared — the bad case),
      ``overlong`` (body longer than declared), ``clean`` otherwise.
    """
    from warcio_spark import functions as WF

    reason_raw = WF.header_get(F.col("rec_headers"), "WARC-Truncated")
    reason = F.when(
        reason_raw.isNotNull(),
        F.when(F.trim(reason_raw) == "", "unspecified").otherwise(
            F.lower(F.trim(reason_raw))
        ),
    )
    cl_raw = F.trim(WF.header_get(F.col("http_headers"), "Content-Length"))
    # digits-only guard, then cast: a malformed CL (empty, 'abc', '1,2')
    # reads NULL — the same "untrustworthy header" treatment the parse
    # kernel gives it, and trivially mirrored in the SQL oracle
    declared_cl = F.when(cl_raw.rlike("^[0-9]+$"), cl_raw.cast("long"))
    body = F.when(F.col("payload_length") >= 0, F.col("payload_length"))
    deficit = F.when(declared_cl - body > 0, declared_cl - body)
    status = (
        F.when(reason.isNotNull(), "declared")
        .when(deficit.isNotNull(), "silent")
        .when(body > declared_cl, "overlong")
        .otherwise("clean")
    )
    return records.withColumns(
        {
            "truncated_reason": reason,
            "declared_cl": declared_cl,
            "body_length": body,
            "deficit": deficit,
            "trunc_status": status,
        }
    )


def truncation_census(records: DataFrame) -> DataFrame:
    """(filename, trunc_status, truncated_reason, n, bytes_missing) —
    the per-file rollup of ``truncation_audit``: one map-combinable
    groupBy."""
    return (
        truncation_audit(records)
        .groupBy("filename", "trunc_status", "truncated_reason")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("deficit").alias("bytes_missing"),
        )
    )
