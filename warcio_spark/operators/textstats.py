"""Text-analysis operators for training-data pipelines over a documents-like
table: token counting, quality scoring, language id, fingerprinting.

All hot-path math is JVM-side (split/length/regexp expressions inside
whole-stage codegen); only the rolling-hash fingerprint needs a pandas UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from warcio_spark.plans.graph import persist_into

# small multilingual stopword marker sets for the n-gram language heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "que", "los"],
}

_WORD_SPLIT = r"\s+"


def tokens(text) -> Column:
    """Whitespace tokenization, empty-safe."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(col, _WORD_SPLIT), lambda t: t != F.lit(""))


def token_count(text) -> Column:
    return F.size(tokens(text))


def punct_ratio(text) -> Column:
    """fraction of characters that are not alnum/space (4 decimals)."""
    col = F.col(text) if isinstance(text, str) else text
    non_alnum = F.length(F.regexp_replace(col, r"[A-Za-z0-9\s]", ""))
    return F.round(non_alnum / F.greatest(F.length(col), F.lit(1)), 4)


def stopword_ratio(text, stopwords=("the", "a", "and", "of", "to", "in")) -> Column:
    toks = tokens(text)
    stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(list(stopwords))))
    return F.round(stop / F.greatest(F.size(toks), F.lit(1)), 4)


def lang_scores(text) -> Column:
    """Marker-token hit counts per language as a struct column."""
    toks = tokens(text)

    def marker_count(markers):
        # closure factory, NOT a default-arg lambda: pyspark counts lambda
        # parameters, and a default arg turns a 1-arg HOF lambda into the
        # (element, index) form — the index silently lands in the default
        return F.size(F.filter(toks, lambda t: F.lower(t).isin(markers)))

    fields = [
        marker_count(markers).alias("score_" + lang)
        for lang, markers in LANG_MARKERS.items()
    ]
    return F.struct(*fields)


def bigrams(text) -> Column:
    """Adjacent word 2-grams ("a b") from whitespace tokens, empty-safe
    (0- and 1-token docs yield an empty array, never a negative slice)."""
    toks = tokens(text)
    n = F.size(toks)
    span = F.greatest(n - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, F.lit(1), span),
        F.slice(toks, F.lit(2), span),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    persist_tracker: list | None = None
) -> DataFrame:
    """Gopher-style repetition signals per document: token count,
    distinct-token ratio (type/token), duplicate-2-gram fraction, and the
    most frequent token with its frequency share (ties broken by the
    lexicographically smallest token, so the output is deterministic).

    Scale shape: the array stats are pure codegen expressions staged ONCE
    (no repeated zip_with subtrees); the per-doc mode runs as explode →
    (doc,token) partial-count → per-doc row_number — two key-partitioned
    shuffles that stay O(doc length), never a per-doc quadratic array scan.
    Empty docs survive via the left join (top_token NULL, share 0)."""
    from pyspark.sql import Window

    staged = df.select(
        F.col(id_col),
        tokens(text_col).alias("_toks"),
        bigrams(text_col).alias("_big"),
    ).select(
        id_col,
        "_toks",
        F.size("_toks").alias("n_tokens"),
        F.size(F.array_distinct("_toks")).alias("_n_uniq"),
        F.size("_big").alias("_n_big"),
        F.size(F.array_distinct("_big")).alias("_n_big_uniq"),
    )
    arr_stats = staged.select(
        id_col,
        "_toks",
        "n_tokens",
        F.round(
            F.col("_n_uniq") / F.greatest(F.col("n_tokens"), F.lit(1)), 4
        ).alias("distinct_ratio"),
        F.when(F.col("_n_big") == 0, F.lit(0.0))
        .otherwise(
            F.round(F.lit(1.0) - F.col("_n_big_uniq") / F.col("_n_big"), 4)
        )
        .alias("dup_2gram_frac"),
    )
    # the mode branch (explode) and the final stats join both consume
    # arr_stats — persisted, the tokenize/distinct battery runs once
    arr_stats = persist_into(arr_stats, persist_tracker)
    tf = (
        arr_stats.select(id_col, F.explode("_toks").alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("_c").desc(), F.col("tok"))
    top = (
        tf.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(id_col, F.col("tok").alias("top_token"), "_c")
    )
    return arr_stats.drop("_toks").join(top, id_col, "left").select(
        id_col,
        "n_tokens",
        "distinct_ratio",
        "dup_2gram_frac",
        "top_token",
        F.round(
            F.coalesce(F.col("_c"), F.lit(0))
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            4,
        ).alias("top_token_frac"),
    )


def term_doc_freq(
    df: DataFrame, text_col: str = "text", k: int = 20
) -> DataFrame:
    """Corpus vocabulary head: top-k tokens by DOCUMENT frequency
    (each doc votes once per distinct token), deterministic tie-break on
    the token. Explode + one partial-agg shuffle + TakeOrderedAndProject —
    no global sort materialization, scales with corpus size."""
    ex = df.select(
        F.explode(F.array_distinct(tokens(text_col))).alias("token")
    )
    return (
        ex.groupBy("token")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "token")
        .limit(k)
    )


@F.pandas_udf(T.LongType())
def rolling_fingerprint(text: pd.Series) -> pd.Series:
    """Polynomial rolling-hash document fingerprint (Rabin-Karp style,
    base 1000003 mod 2^61-1) — stable across partitions/runs."""
    MOD = (1 << 61) - 1
    BASE = 1000003

    def fp(s):
        if s is None:
            return None
        h = 0
        for ch in s.encode("utf-8"):
            h = (h * BASE + ch) % MOD
        return h

    return text.map(fp)


# PII scrubbing: the regexes stay in the Java-regex / RE2 common subset
# (no backrefs, no lookaround) so the DuckDB oracle can run them verbatim.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}[-. ][0-9]{3,4}",
    "ipv4": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
}


def redact_pii(text, patterns: dict = None, token: str = "<PII:{kind}>") -> Column:
    """Replace PII matches with typed placeholder tokens — pure
    regexp_replace chain, whole-stage codegen, no Python. Patterns apply
    in sorted-key order so the output is deterministic regardless of
    dict construction order."""
    col = F.col(text) if isinstance(text, str) else text
    pats = PII_PATTERNS if patterns is None else patterns
    for kind in sorted(pats):
        col = F.regexp_replace(col, pats[kind], token.format(kind=kind))
    return col


def pii_counts(text, patterns: dict = None) -> Column:
    """Struct of per-kind PII match counts (regexp_count, JVM-side)."""
    src = F.col(text) if isinstance(text, str) else text
    pats = PII_PATTERNS if patterns is None else patterns
    return F.struct(
        *[
            F.regexp_count(src, F.lit(pats[k])).alias("n_" + k)
            for k in sorted(pats)
        ]
    )


# ---------------------------------------------------------------------------
# Bigram language-model perplexity (CCNet-style quality filtering)
# ---------------------------------------------------------------------------


def word_bigrams(text) -> Column:
    """Array of (w1, w2) structs for consecutive token pairs — pure
    slice+zip expressions, no explode at this level."""
    t = tokens(text)
    return F.when(
        F.size(t) >= 2,
        F.arrays_zip(
            F.slice(t, 1, F.size(t) - 1).alias("w1"),
            F.slice(t, 2, F.size(t) - 1).alias("w2"),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))


def bigram_lm(docs: DataFrame, text_col: str = "text",
              alpha: float = 0.4,
              persist_tracker: list | None = None) -> DataFrame:
    """Train an add-alpha-smoothed word-bigram LM: (w1, w2, logp) with
    logp = log2((c(w1,w2) + alpha) / (c(w1,*) + alpha * V)), V = unigram
    vocabulary size.

    This is the shape of CCNet's KenLM quality gate re-expressed as pure
    aggregation: the model IS a DataFrame. Scale: one explode + one
    map-side-combinable groupBy on (w1, w2); the prefix totals and V are
    aggregations OF the bigram table (already vocabulary-bounded, orders
    of magnitude smaller than the corpus), never a second corpus scan.

    ``persist_tracker`` (the ``minhash_dedup`` caller-owned contract):
    the vocabulary-sized (w1, w2, c2) count table is persisted so the V
    count action, the prefix totals, and the returned model all read ONE
    corpus bigram pass — without it the corpus is exploded + aggregated
    once per consumer (the count action here plus every downstream use).
    The caller unpersists after materializing its result."""
    bg = docs.select(
        F.explode(word_bigrams(text_col)).alias("bg")
    ).select("bg.w1", "bg.w2")
    counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    counts = persist_into(counts, persist_tracker)
    prefix = counts.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = counts.select(F.col("w1").alias("w")).union(
        counts.select("w2")
    ).distinct().count()
    return (
        counts.join(prefix, "w1")
        .select(
            "w1", "w2",
            F.log2(
                (F.col("c2") + F.lit(alpha))
                / (F.col("c1") + F.lit(alpha * vocab))
            ).alias("logp"),
        )
    )


def lm_perplexity(docs: DataFrame, lm: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", decimals: int = 4,
                  broadcast_lm: bool = False,
                  persist_tracker: list | None = None) -> DataFrame:
    """(id_col, n_bigrams, ppl): per-document perplexity under a
    ``bigram_lm`` table — 2^(mean over the doc's bigrams of -logp).
    Bigrams absent from the LM contribute the model's worst (minimum)
    logp as the unseen-mass floor — computed from the lm table by one
    tiny aggregate job and embedded as a literal (a model-level scalar,
    not a plan node: a constant-key attach would compile to a 1-row
    nested-loop join) — so scoring a held-out corpus is well-defined.
    Docs with <2 tokens score NULL (n_bigrams = 0). An empty model
    floors at logp 0 (every doc scores ppl 1.0).

    Scale: one explode, one join keyed (w1, w2) (``broadcast_lm=True``
    when the model fits in executor memory — a pruned web LM usually
    does), one groupBy on the doc id. High-frequency bigrams skew the
    join key only on the LM side, which is the small side.

    ``persist_tracker``: the vocabulary-sized LM table is persisted so
    the floor aggregate action and the scoring join share one
    computation of the model's lineage (for a ``bigram_lm`` model that
    lineage is a full corpus explode+aggregate per consumer otherwise);
    the caller unpersists after materializing the result."""
    lm = persist_into(lm, persist_tracker)
    floor = lm.agg(F.min("logp")).first()[0]
    floor = 0.0 if floor is None else float(floor)
    lm_j = F.broadcast(lm) if broadcast_lm else lm
    per_doc = docs.select(
        F.col(id_col), F.explode(word_bigrams(text_col)).alias("bg")
    ).select(id_col, "bg.w1", "bg.w2")
    scored = (
        per_doc.join(lm_j, ["w1", "w2"], "left")
        .select(
            id_col, F.coalesce("logp", F.lit(floor)).alias("_lp")
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.pow(F.lit(2.0), -F.avg("_lp")), decimals).alias(
                "ppl"
            ),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            "ppl",
        )
    )


# ---------------------------------------------------------------------------
# Unicode normalization (NFC) + text cleanup
# ---------------------------------------------------------------------------

#: pure-ASCII strings are NFC-invariant — the JVM-testable fast path
_ASCII_RX = "^[\\x00-\\x7F]*$"


@F.pandas_udf(T.StringType())
def nfc_normalize(text: pd.Series) -> pd.Series:
    """Unicode NFC normalization (compose combining sequences), the
    canonical form training corpora are stored in. Arrow-vectorized via
    pandas' ICU-free str.normalize; NULL passes through."""
    return text.str.normalize("NFC")


def cleanup_expr(text) -> Column:
    """Control-char strip (C0 minus tab/LF/CR, plus DEL) + whitespace-run
    collapse + trim — pure codegen, no Python. The \\s class is ASCII in
    both Spark (Java regex) and the DuckDB oracle (RE2), so the two
    engines agree character-for-character."""
    col = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(
        col, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    return F.trim(F.regexp_replace(stripped, "\\s+", " "))


def with_normalized_text(df: DataFrame, text_col: str = "text",
                         out_col: str = "text_norm") -> DataFrame:
    """Add NFC-normalized, control-stripped, whitespace-collapsed text
    with a JVM-side split-union: the pure-ASCII majority (NFC-invariant
    by definition) never crosses the Arrow boundary — only the unicode
    minority runs the pandas kernel. Same scaling shape as
    functions.with_canonical_url: the Arrow hop is the per-row cost
    that matters, so it is spent only where the data needs it."""
    # coalesce: NULL text must fall into the slow branch (NULL rlike
    # would drop the row from BOTH filters), where NFC yields NULL
    cond = F.coalesce(F.col(text_col).rlike(_ASCII_RX), F.lit(False))
    fast = df.filter(cond).withColumn(out_col, cleanup_expr(text_col))
    slow = df.filter(~cond).withColumn(
        out_col, cleanup_expr(nfc_normalize(F.col(text_col))))
    return fast.unionByName(slow)


# the scripts worth separating in a web corpus: broad coverage with one
# regexp_count each, all single-pass codegen. Java spells the script
# property \p{IsXxx}; the DuckDB (RE2) oracle spells it \p{Xxx}.
SCRIPTS = ("Latin", "Cyrillic", "Han", "Arabic", "Greek", "Hebrew",
           "Hangul", "Hiragana", "Katakana", "Devanagari", "Thai")


def script_shares(text) -> Column:
    """Unicode-script composition of a document as ONE struct column:
    ``n_letters`` (all \\p{L}, informational) plus a 0..1 share per
    script in ``SCRIPTS`` and ``main_script`` — the highest-count script
    with first-listed tie-break. Shares are over SCRIPT-MARKED
    characters (the sum of the per-script counts): script properties
    also match combining marks that are not \\p{L} (Devanagari matras,
    Thai vowel signs), so a letters denominator would overflow 1 — and
    the marked-char denominator is expressible identically in Java
    regex and RE2, which class intersection is not. NULL shares/main
    when no character carries one of these scripts.

    This is the orthographic signal the marker-based ``lang_scores``
    cannot give: marker words only exist for languages you enumerated,
    while script shares classify ANY text into its writing system(s) —
    the first split a multilingual 100 TB corpus makes (Latin-script
    langid models never see CJK, and mixed-script docs are their own
    cleaning class). Pure codegen: one regexp_count per script over the
    text column, no explode, no shuffle, no Python."""
    t = F.col(text) if isinstance(text, str) else text
    n = F.regexp_count(t, F.lit(r"\p{L}"))
    counts = {s: F.regexp_count(t, F.lit(r"\p{Is%s}" % s)) for s in SCRIPTS}
    total = None
    for s in SCRIPTS:
        total = counts[s] if total is None else total + counts[s]
    share = {s: F.when(total > 0, counts[s] / total) for s in SCRIPTS}
    # first script reaching the max == first-listed tie-break. A running
    # when/otherwise fold is equivalent but nests each branch twice per
    # step — 2^|SCRIPTS| expression copies blew whole-stage codegen's
    # 64 KB method limit; greatest() + a first-match chain stays linear.
    m = F.greatest(*[counts[s] for s in SCRIPTS])
    best = F.lit(None).cast("string")
    for s in reversed(SCRIPTS):
        best = F.when(counts[s] == m, F.lit(s)).otherwise(best)
    fields = [n.alias("n_letters")]
    fields += [share[s].alias("share_" + s.lower()) for s in SCRIPTS]
    fields.append(F.when(total > 0, best).alias("main_script"))
    return F.struct(*fields)


def with_script_shares(df: DataFrame, text_col: str = "text",
                       out_col: str = "s") -> DataFrame:
    """``script_shares`` with the counts STAGED as real projection
    columns first: the single-expression struct re-inlines every
    regexp_count into each share / the total / the argmax (CollapseProject
    keeps non-cheap expressions staged, the quality_scores discipline),
    so this form stays inside whole-stage codegen where the inline struct
    falls back to interpreted eval past the 64 KB method limit. Same
    output struct, pinned equal to the column form in tests."""
    t = F.col(text_col)
    tmp = {s: "__sc_" + s.lower() for s in SCRIPTS}
    staged = df.select(
        "*",
        F.regexp_count(t, F.lit(r"\p{L}")).alias("__sc_nl"),
        *[F.regexp_count(t, F.lit(r"\p{Is%s}" % s)).alias(tmp[s])
          for s in SCRIPTS],
    )
    cnt = {s: F.col(tmp[s]) for s in SCRIPTS}
    total = None
    for s in SCRIPTS:
        total = cnt[s] if total is None else total + cnt[s]
    staged = staged.select(
        "*", total.alias("__sc_total"),
        F.greatest(*[cnt[s] for s in SCRIPTS]).alias("__sc_m"),
    )
    tot, m = F.col("__sc_total"), F.col("__sc_m")
    best = F.lit(None).cast("string")
    for s in reversed(SCRIPTS):
        best = F.when(cnt[s] == m, F.lit(s)).otherwise(best)
    struct = F.struct(
        F.col("__sc_nl").alias("n_letters"),
        *[F.when(tot > 0, cnt[s] / tot).alias("share_" + s.lower())
          for s in SCRIPTS],
        F.when(tot > 0, best).alias("main_script"),
    )
    return staged.withColumn(out_col, struct).drop(
        "__sc_nl", "__sc_total", "__sc_m", *tmp.values())


# ---------------------------------------------------------------------------
# Per-page main-content extraction (jusText/Arc90-style block density)
# ---------------------------------------------------------------------------
# The per-PAGE complement to dedup.boilerplate_strip (which drops lines
# repeated ACROSS documents): chrome is recognized from one page alone by
# the two signals readability heuristics agree on — short text runs and
# high link density. Everything below is pure codegen (split + HOFs over
# the block array), so the DuckDB oracle can replay it expression for
# expression; no backreferences, inline (?is) flags only, ASCII \s —
# the Java-regex/RE2 parity rules this module already pins.

_MC_BLOCK_TAGS = ("p|div|section|article|main|aside|header|footer|nav|"
                  "h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|"
                  "blockquote|pre|figure|figcaption|form|fieldset|hr|br")
_MC_SPLIT_RX = r"(?i)</?(?:%s)\b[^>]*>" % _MC_BLOCK_TAGS
_MC_SCRIPT_RX = r"(?is)<script\b[^>]*>.*?</script\s*>"
_MC_STYLE_RX = r"(?is)<style\b[^>]*>.*?</style\s*>"
_MC_COMMENT_RX = r"(?s)<!--.*?-->"
_MC_TAG_RX = r"(?s)<[^>]*>"
_MC_ANCHOR_RX = r"(?is)<a\b[^>]*>(.*?)</a\s*>"


def _mc_plain(col: Column) -> Column:
    """Markup fragment -> visible text: strip tags, decode the five
    named entities (&amp; last), collapse whitespace runs, trim."""
    t = F.regexp_replace(col, _MC_TAG_RX, " ")
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
                    ("&apos;", "'"), ("&amp;", "&")):
        t = F.regexp_replace(t, ent, ch)
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def _mc_block_stats(markup) -> Column:
    """array<struct<txt,tlen,lc>> of the page's non-empty text blocks.

    Blocks are the segments between block-LEVEL tag boundaries (open or
    close; inline markup like <a>/<b>/<span> stays inside its block) of
    the page with <script>/<style> bodies and comments scrubbed first.
    Per block: ``txt`` = visible text (_mc_plain), ``tlen`` its length,
    ``lc`` the visible-text length inside the block's <a> elements —
    the numerator of jusText's link density. Unclosed script/style
    degrades to tag-stripped text (never an error)."""
    col = F.col(markup) if isinstance(markup, str) else markup
    scrubbed = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(col, _MC_SCRIPT_RX, " "),
                         _MC_STYLE_RX, " "),
        _MC_COMMENT_RX, " ")
    blocks = F.split(scrubbed, _MC_SPLIT_RX, -1)
    stats = F.transform(blocks, lambda b: F.struct(
        _mc_plain(b).alias("txt"),
        F.length(_mc_plain(b)).alias("tlen"),
        F.aggregate(
            F.regexp_extract_all(b, F.lit(_MC_ANCHOR_RX), 1),
            F.lit(0),
            lambda acc, a: acc + F.length(_mc_plain(a)),
        ).alias("lc"),
    ))
    return F.filter(stats, lambda s: s["tlen"] > 0)


def extract_main_content(df: DataFrame, markup_col: str = "text",
                         min_chars: int = 25,
                         max_link_pct: int = 30) -> DataFrame:
    """Add per-page main-content columns: ``main_text`` (newline-joined
    text of the kept blocks, in document order), ``n_blocks``/``n_kept``
    (non-empty text blocks before/after the gates), ``total_chars``/
    ``kept_chars``. A block is KEPT iff its visible text is at least
    ``min_chars`` long AND its link density is at most ``max_link_pct``
    percent (integer cross-multiplication ``lc*100 <= pct*tlen`` — no
    float round-trip between engines). NULL markup yields NULL stats.

    Map-only: one split + HOF pass per row, no shuffle, no Python — the
    block array is STAGED as a projection column so Catalyst cannot
    re-inline the split+transform into every downstream consumer (the
    re-inlining hazard BENCH/BASELINE.md documents for this engine).
    Pages with zero kept blocks report main_text='' (a filterable
    signal: chrome-only page). Reference analog: none — warcio stops at
    content_stream() bytes; this is the training-pipeline layer above
    it (jusText / Arc90 readability heuristic, public algorithms)."""
    staged = df.withColumn("__mc_stats", _mc_block_stats(markup_col))
    stats = F.col("__mc_stats")
    kept = F.filter(stats, lambda s: (s["tlen"] >= F.lit(min_chars)) & (
        s["lc"] * 100 <= F.lit(max_link_pct) * s["tlen"]))
    staged = staged.withColumn("__mc_kept", kept)
    kcol = F.col("__mc_kept")
    tsum = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0), lambda acc, s: acc + s["tlen"])
    return staged.select(
        "*",
        F.array_join(F.transform(kcol, lambda s: s["txt"]), "\n")
         .alias("main_text"),
        F.size(stats).alias("n_blocks"),
        F.size(kcol).alias("n_kept"),
        tsum(stats).alias("total_chars"),
        tsum(kcol).alias("kept_chars"),
    ).drop("__mc_stats", "__mc_kept")


# ---------------------------------------------------------------------------
# Compression-ratio quality signal
# ---------------------------------------------------------------------------


@F.pandas_udf(T.LongType())
def zlib_compressed_len(text: pd.Series) -> pd.Series:
    """zlib-compressed byte length of the UTF-8 text (level 6) — the raw
    ingredient of the compression-ratio quality heuristic.  Deterministic
    for a fixed zlib level, so the derived query pins as a golden.  One
    Arrow hop returning a long; everything else stays JVM-side."""
    import zlib

    def clen(s):
        if s is None:
            return None
        return len(zlib.compress(s.encode("utf-8"), 6))

    return text.map(clen)


def compression_stats(
    docs: DataFrame,
    text_col: str = "text",
    repetitive_below: float = 0.35,
) -> DataFrame:
    """(doc_id, raw_len, zlib_len, compress_ratio, repetitive) — the
    compressibility quality gate web-text pipelines use alongside the
    Gopher repetition signals: machine-generated or template-spun pages
    compress far better than natural prose, so a LOW compressed/raw
    ratio flags boilerplate and keyword-stuffed spam that per-line
    duplicate counts miss (the signals are complementary: repetition_
    stats sees exact recurrence, the ratio sees ANY regularity zlib's
    LZ77 window catches).

    ``compress_ratio`` is zlib_len / raw_len (UTF-8 byte counts, 6
    decimals; NULL for empty/NULL text — an empty page has no
    compressibility evidence either way), ``repetitive`` flags ratios
    under ``repetitive_below``.  Natural English prose lands around
    0.4-0.6; pathological repetition goes under 0.1.

    Map-only: raw_len is a JVM octet_length, the single Arrow hop
    carries only the compressed length back, the division and the flag
    are codegen.  At 100 TB the cost is the zlib pass itself —
    embarrassingly parallel, no shuffle anywhere."""
    raw_len = F.octet_length(F.col(text_col)).cast("long")
    zl = zlib_compressed_len(F.col(text_col))
    ratio = F.when(
        raw_len > 0, F.round(zl.cast("double") / raw_len, 6)
    )
    return docs.select(
        "doc_id",
        raw_len.alias("raw_len"),
        zl.alias("zlib_len"),
        ratio.alias("compress_ratio"),
        (ratio < repetitive_below).alias("repetitive"),
    )


# ---------------------------------------------------------------------------
# mojibake (UTF-8-read-as-cp1252 artifacts) — detect + repair
# ---------------------------------------------------------------------------

# Common double-encoding artifact digraphs: the cp1252 rendering of the
# UTF-8 bytes of frequent Latin-1 letters and Win-1252 punctuation. A
# curated literal list (not a byte-class regex) so detection is identical
# in any leftmost-first regex engine (Java AND RE2 replay it verbatim).
MOJIBAKE_ARTIFACTS = [
    "Ã©",  # Ã©  -> é
    "Ã¨",  # Ã¨  -> è
    "Ã¼",  # Ã¼  -> ü
    "Ã¶",  # Ã¶  -> ö
    "Ã±",  # Ã±  -> ñ
    "Ã§",  # Ã§  -> ç
    "Ã¡",  # Ã¡  -> á
    "Ã³",  # Ã³  -> ó
    "â€™",  # â€™ -> ’
    "â€œ",  # â€œ -> “
    "â€“",  # â€“ -> –
    "â€¦",  # â€¦ -> …
]
_MOJIBAKE_RE = "|".join(MOJIBAKE_ARTIFACTS)


def mojibake_hits(text) -> Column:
    """Count of common double-encoding artifact digraphs (pure codegen
    regexp_count; the pattern is a literal alternation so DuckDB's RE2
    counts identically)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(col, F.lit(_MOJIBAKE_RE))


@F.pandas_udf(T.StringType())
def _fix_mojibake(texts: pd.Series) -> pd.Series:
    """ftfy-style repair: re-encode the WHOLE string as cp1252 and decode
    as UTF-8, repeated to a fixpoint (max 3 rounds, so doubly-encoded text
    heals too). Strict codecs both ways — any legitimate non-cp1252 char
    or any byte run that isn't valid UTF-8 aborts the round, so clean
    Latin-1 text ("café") and real Unicode are returned untouched. One
    Arrow batch hop; ASCII rows fall through in two cheap codec calls."""

    def fix(s):
        if s is None:
            return None
        cur = s
        for _ in range(3):
            try:
                t = cur.encode("cp1252").decode("utf-8")
            except (UnicodeEncodeError, UnicodeDecodeError):
                break
            if t == cur:
                break
            cur = t
        return cur

    return texts.map(fix)


def repair_mojibake(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds mojibake_hits (artifact digraph count, codegen), text_fixed
    (cp1252→UTF-8 roundtrip fixpoint), was_fixed. The repair is the real
    decode — the artifact list only scores; unlisted artifacts still heal
    because the roundtrip works on bytes, not the list."""
    col = F.col(text_col)
    return (
        docs.withColumn("mojibake_hits", mojibake_hits(col))
        .withColumn("text_fixed", _fix_mojibake(col))
        .withColumn("was_fixed", F.col("text_fixed") != col)
    )


# ---------------------------------------------------------------------------
# BPE-ish regex token counting (GPT-2-style pre-tokenizer, lookahead-free)
# ---------------------------------------------------------------------------

# GPT-2's pre-tokenizer splits on " ?letters | ?digits | ?punct-run |
# whitespace-run"; we drop the \p{L}/contraction/lookahead pieces so the
# SAME pattern is leftmost-first identical in Java regex and RE2 (DuckDB).
BPE_TOKEN_RE = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"


def bpe_token_count(text) -> Column:
    """Count of BPE-ish pre-tokens (pure codegen regexp_count). With the
    whitespace-token count this gives fertility (chars per subword-ish
    token) — the cheap screen for tokenizer-hostile text (code, tables,
    digit runs) before a real BPE pass."""
    col = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(col, F.lit(BPE_TOKEN_RE))


# ---------------------------------------------------------------------------
# hashed n-gram linear scorer (fasttext-style model inference at scale)
# ---------------------------------------------------------------------------


def hashed_features(text, n_buckets_hex: int = 2, bigrams: bool = True) -> Column:
    """array<string> of hashed feature buckets for a text column:
    unigrams + (optionally) word bigrams, each hashed to the first
    ``n_buckets_hex`` hex chars of its md5 — the hashing-trick feature
    map of a fasttext-style linear classifier, engine-portable (md5 is
    identical in Spark and DuckDB) and pure codegen (transform/zip_with,
    no explode until the caller wants one)."""
    toks = tokens(text)
    uni = F.transform(toks, lambda t: F.substring(F.md5(t), 1, n_buckets_hex))
    if not bigrams:
        return uni
    n = F.size(toks)
    bi = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1), F.slice(toks, 2, n - 1),
            lambda a, b: F.substring(F.md5(F.concat(a, F.lit(" "), b)),
                                     1, n_buckets_hex),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(uni, bi)


def hashed_linear_score(docs: DataFrame, weights: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        bucket_col: str = "bucket", weight_col: str = "w",
                        n_buckets_hex: int = 2,
                        bigrams: bool = True) -> DataFrame:
    """Linear-model inference over hashed n-gram features (the fasttext /
    CCNet quality-classifier serving pattern): explode the hashed feature
    array, broadcast-join the caller's (bucket, integer-weight) table,
    one per-doc aggregate. Integer weights make the sum order-independent
    (bit-exact across partitionings and engines); the single division to
    the mean happens once per doc. Returns (id, n_feats, score_sum,
    score = round(sum / n_feats / 127, 4)).

    Scale shape: the weight table is 16^n_buckets_hex rows — broadcast;
    features never shuffle (the only exchange is the final doc-id
    aggregate, map-side combined). Missing buckets score 0 via the left
    join, so a partial weights table is a sparse model."""
    feats = docs.select(
        F.col(id_col),
        F.explode(hashed_features(text_col, n_buckets_hex, bigrams))
        .alias(bucket_col),
    )
    w = F.broadcast(weights.select(bucket_col, weight_col))
    return (
        feats.join(w, bucket_col, "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum(F.coalesce(F.col(weight_col), F.lit(0)).cast("long"))
            .alias("score_sum"),
        )
        .withColumn(
            "score",
            F.round(F.col("score_sum")
                    / F.greatest("n_feats", F.lit(1)) / 127.0, 4),
        )
    )


# ---------------------------------------------------------------------------
# DSIR-style hashed n-gram importance weights (domain-targeted selection)
# ---------------------------------------------------------------------------


def dsir_weights(docs: DataFrame, is_target: Column,
                 id_col: str = "doc_id", text_col: str = "text",
                 n_buckets_hex: int = 2, lam: float = 0.5,
                 decimals: int = 4,
                 persist_tracker: list | None = None) -> DataFrame:
    """Data Selection via Importance Resampling weights (the hashed
    n-gram formulation of Xie et al. 2023): score every document by how
    much more likely its hashed-ngram bag is under the TARGET feature
    distribution than under the RAW corpus distribution,

        w(doc) = sum_f [ log p_target(f) - log p_raw(f) ]

    with add-``lam`` smoothing over the ``B = 16**n_buckets_hex`` bucket
    space. ``is_target`` is a boolean Column over ``docs`` marking the
    in-domain exemplars (a wiki/books-like subset); the raw distribution
    is the whole corpus. Rank by ``dsir_w`` and keep the top slice to
    tilt a 100 TB crawl toward the target domain without a classifier.

    Returns ``(id_col, n_feats, dsir_w)`` — one row per document,
    ``n_feats = 0`` / NULL weight for token-less docs (the
    ``lm_perplexity`` contract).

    Scale shape: features are the pure-codegen ``hashed_features``
    array (md5-bucket hashing trick — engine-portable, no Python); the
    bucket distributions are ONE map-side-combinable groupBy over the
    fixed 256-key space; the totals ride a window over that 256-row
    aggregate (a SinglePartition exchange carrying aggregate rows only,
    never corpus data — the ``frontier_round`` counts discipline); the
    per-bucket log-ratio table broadcasts back onto the feature stream
    for ONE per-doc aggregation. The feature Generate feeds both the
    distribution agg and the scoring agg — ``persist_tracker`` persists
    ``feats`` so the md5 feature hashing runs ONCE for both consumers
    (the caller unpersists after materializing; without a tracker the
    Generate is evaluated twice). Every float is a log of
    integer-derived counts, summed once per doc and rounded to
    ``decimals``."""
    from pyspark.sql.window import Window

    n_buckets = 16 ** n_buckets_hex
    feats = docs.select(
        F.col(id_col),
        is_target.alias("_is_t"),
        F.explode(hashed_features(text_col, n_buckets_hex)).alias("bucket"),
    )
    feats = persist_into(feats, persist_tracker)
    dist = feats.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_c"),
        F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("tgt_c"),
    )
    everything = Window.partitionBy()
    ratio = dist.select(
        "bucket",
        (
            F.log(F.col("tgt_c") + F.lit(lam))
            - F.log(F.sum("tgt_c").over(everything) + F.lit(lam * n_buckets))
            - F.log(F.col("raw_c") + F.lit(lam))
            + F.log(F.sum("raw_c").over(everything) + F.lit(lam * n_buckets))
        ).alias("_lw"),
    )
    scored = (
        feats.join(F.broadcast(ratio), "bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum("_lw"), decimals).alias("dsir_w"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            "dsir_w",
        )
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity buckets (head / middle / tail)
# ---------------------------------------------------------------------------


def perplexity_buckets(docs: DataFrame, lm: DataFrame,
                       id_col: str = "doc_id", text_col: str = "text",
                       lang_col: str = "lang",
                       z_cut: float = 0.4307,
                       persist_tracker: list | None = None) -> DataFrame:
    """CCNet's per-language head/middle/tail quality split over
    ``lm_perplexity`` scores, in the rank-free z-score formulation:
    within each language, a document is ``head`` when its perplexity
    sits ``z_cut`` population standard deviations below the language
    mean, ``tail`` when above, ``middle`` between (+-0.4307 sigma cuts
    a normal into thirds — the tercile intent without the per-language
    total ORDER the literal ntile needs). Docs the LM cannot score
    (<2 tokens) come back ``unscored``.

    Returns ``(id_col, lang, ppl, z, bucket)`` with ``z`` rounded to 4.

    Scale shape: exact terciles per language would be one window
    partitioned by language — the dominant language lands in ONE task
    (the classic skew trap). The z formulation replaces the sort with
    one map-side-combinable (avg, stddev_pop) aggregate per language,
    broadcast back onto the scored corpus: skew-immune, two shuffles
    total (the doc-id agg inside ``lm_perplexity`` + the tiny language
    agg), and deterministic across engines because the stats are
    aggregates of already-rounded ppl values.

    ``persist_tracker``: the one-row-per-doc scored table is persisted so
    the per-language stats aggregate and the final bucket projection share
    one perplexity computation (otherwise the whole ``lm_perplexity``
    lineage — corpus explode + LM join — runs once per consumer); the
    caller unpersists after materializing the result."""
    ppl = lm_perplexity(docs, lm, id_col=id_col, text_col=text_col,
                        persist_tracker=persist_tracker)
    scored = ppl.join(docs.select(id_col, lang_col), id_col)
    scored = persist_into(scored, persist_tracker)
    stats = scored.filter(F.col("ppl").isNotNull()).groupBy(lang_col).agg(
        F.avg("ppl").alias("_mu"),
        F.stddev_pop("ppl").alias("_sd"),
    )
    z = F.when(
        F.col("_sd") > 0, (F.col("ppl") - F.col("_mu")) / F.col("_sd")
    ).otherwise(F.lit(0.0))
    return (
        scored.join(F.broadcast(stats), lang_col, "left")
        .select(
            id_col,
            lang_col,
            "ppl",
            F.when(F.col("ppl").isNotNull(), F.round(z, 4)).alias("z"),
            F.when(F.col("ppl").isNull(), F.lit("unscored"))
            .when(F.round(z, 4) <= -z_cut, F.lit("head"))
            .when(F.round(z, 4) >= z_cut, F.lit("tail"))
            .otherwise(F.lit("middle"))
            .alias("bucket"),
        )
    )
