"""Semantic unit tests for the repetition/vocabulary operators — hand-
computed expectations on tiny corpora (independent of the DuckDB contract
oracle in test_entry_contract.py)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from warcio_spark.operators.textstats import repetition_stats, term_doc_freq


def test_repetition_stats_hand_computed(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a"),        # 3 toks, 2 uniq; bigrams [a b, b a] all uniq
            (2, "x x x"),        # bigrams [x x, x x] -> dup frac 0.5
            (3, "only"),         # 1 token, no bigrams
            (4, ""),             # empty doc
            (5, "b a  a\tb"),    # mixed whitespace; tie a=2 b=2 -> top 'a'
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(df).collect()}

    r = rows[1]
    assert (r.n_tokens, r.top_token) == (3, "a")
    assert abs(r.distinct_ratio - 0.6667) < 1e-9
    assert r.dup_2gram_frac == 0.0
    assert abs(r.top_token_frac - 0.6667) < 1e-9

    r = rows[2]
    assert (r.n_tokens, r.top_token) == (3, "x")
    assert r.dup_2gram_frac == 0.5
    assert r.top_token_frac == 1.0

    r = rows[3]
    assert (r.n_tokens, r.dup_2gram_frac) == (1, 0.0)
    assert (r.top_token, r.top_token_frac) == ("only", 1.0)

    r = rows[4]
    assert (r.n_tokens, r.top_token, r.top_token_frac) == (0, None, 0.0)
    assert (r.distinct_ratio, r.dup_2gram_frac) == (0.0, 0.0)

    # tie on count -> lexicographically smallest token wins (determinism)
    assert rows[5].top_token == "a"
    assert rows[5].n_tokens == 4


def test_term_doc_freq_votes_once_per_doc(spark):
    df = spark.createDataFrame(
        [
            (1, "a a a b"),   # 'a' appears 3x but votes once
            (2, "a c"),
            (3, "c c b"),
        ],
        "doc_id long, text string",
    )
    out = [(r.token, r.doc_freq) for r in term_doc_freq(df, k=2).collect()]
    # df: a=2, b=2, c=2 -> top-2 by (freq desc, token asc) = a, b
    assert out == [("a", 2), ("b", 2)]


def test_redact_pii_and_counts(spark):
    from pyspark.sql import functions as F

    from warcio_spark.operators.textstats import pii_counts, redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.co.uk then +44-123-4567-890 "
                "at 192.168.0.1 done"),
            (2, "no pii here"),
            (3, "two mails x@y.io z@w.ai and ip 10.0.0.256"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            redact_pii("text").alias("red"),
            pii_counts("text").alias("c"),
        ).collect()
    }
    assert out[1]["red"] == ("mail <PII:email> then <PII:phone> "
                             "at <PII:ipv4> done")
    assert out[1]["c"]["n_email"] == 1
    assert out[1]["c"]["n_phone"] == 1
    assert out[1]["c"]["n_ipv4"] == 1
    assert out[2]["red"] == "no pii here"
    assert out[2]["c"]["n_email"] == 0
    # ipv4 regex is syntactic (255-bounds not enforced), both mails hit
    assert out[3]["c"]["n_email"] == 2
    assert out[3]["c"]["n_ipv4"] == 1


# ---------------------------------------------------------------------------
# NFC normalization + cleanup
# ---------------------------------------------------------------------------


def test_nfc_matches_python_unicodedata(spark):
    import unicodedata

    from warcio_spark.operators.textstats import with_normalized_text

    rows = [
        (0, "plain ascii text"),
        (1, "café au lait"),            # decomposed e + combining acute
        (2, "café already composed"),
        (3, "ḍ̇ dot sequences"),    # multi-combining reorder
        (4, "각 hangul jamo"),
        (5, None),
        (6, ""),
        (7, "tabs\tand\n newlines  collapse"),
        (8, "ctrl\x00\x01chars\x7fgone"),
        (9, "  leading and trailing  "),
    ]

    def oracle(s):
        if s is None:
            return None
        import re

        s = unicodedata.normalize("NFC", s)
        s = re.sub("[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "", s)
        return re.sub(r"\s+", " ", s).strip()

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["text_norm"]
           for r in with_normalized_text(df).collect()}
    assert got == {i: oracle(t) for i, t in rows}


def test_nfc_split_union_equals_all_slow(spark):
    from pyspark.sql import functions as F

    from warcio_spark.operators.textstats import (
        cleanup_expr, nfc_normalize, with_normalized_text)

    rows = [(i, t) for i, t in enumerate(
        ["ascii only", "é", "mixed é ascii", None, "", "é"])]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    split = {r["doc_id"]: r["text_norm"]
             for r in with_normalized_text(df).collect()}
    all_slow = {
        r["doc_id"]: r["text_norm"]
        for r in df.withColumn(
            "text_norm", cleanup_expr(nfc_normalize(F.col("text")))).collect()
    }
    assert split == all_slow


def test_script_shares_vs_unicodedata_oracle(spark):
    """Unicode-script composition vs an independent python oracle built
    on unicodedata names (LATIN/CYRILLIC/... prefixes; CJK UNIFIED ==
    Han), plus hand-pinned mixed/letterless cases."""
    import unicodedata

    from warcio_spark.operators.textstats import SCRIPTS, with_script_shares

    NAME_PREFIX = {
        "Latin": ("LATIN",), "Cyrillic": ("CYRILLIC",),
        "Han": ("CJK UNIFIED", "CJK COMPATIBILITY"),
        "Arabic": ("ARABIC",), "Greek": ("GREEK",), "Hebrew": ("HEBREW",),
        "Hangul": ("HANGUL",), "Hiragana": ("HIRAGANA",),
        "Katakana": ("KATAKANA",), "Devanagari": ("DEVANAGARI",),
        "Thai": ("THAI",),
    }

    def oracle(text):
        counts = {s: 0 for s in SCRIPTS}
        for ch in text:
            try:
                nm = unicodedata.name(ch)
            except ValueError:
                continue
            for s, prefixes in NAME_PREFIX.items():
                if nm.startswith(prefixes):
                    counts[s] += 1
                    break
        total = sum(counts.values())
        if total == 0:
            return None, {}
        main = max(SCRIPTS, key=lambda s: (counts[s], -SCRIPTS.index(s)))
        return main, {s: counts[s] / total for s in SCRIPTS}

    texts = [
        "hello plain english",
        "Привет мир и ещё текст",
        "你好世界 这是中文",
        "mixed Привет hello world",       # latin-majority mixed
        "Привет ПРИВЕТ hello",            # cyrillic-majority mixed
        "γειά σου κόσμε",
        "مرحبا بالعالم",
        "שלום עולם",
        "안녕하세요 세계",
        "こんにちは せかい",
        "カタカナ テスト",
        "नमस्ते दुनिया",
        "สวัสดีชาวโลก",
        "12345 !!! ...",                   # letterless
        "",                                # empty
        "helloo Привет",                   # exact 6-6 tie -> first-listed Latin
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["t"])
    got = {r.t: r.s.asDict() for r in with_script_shares(
        df, text_col="t").select("t", "s").collect()}
    for t in texts:
        main, shares = oracle(t)
        g = got[t]
        assert g["main_script"] == main, t
        if main is None:
            assert all(g["share_" + s.lower()] is None for s in SCRIPTS), t
        else:
            for s in SCRIPTS:
                assert abs(g["share_" + s.lower()] - shares[s]) < 1e-12, (t, s)
    assert got["helloo Привет"]["main_script"] == "Latin"


# --- main-content extraction -------------------------------------------------

def _mc_python_oracle(markup, min_chars=25, max_link_pct=30):
    """Independent replay of extract_main_content with stdlib re."""
    import re

    if markup is None:
        return None
    s = re.sub(r"(?is)<script\b[^>]*>.*?</script\s*>", " ", markup)
    s = re.sub(r"(?is)<style\b[^>]*>.*?</style\s*>", " ", s)
    s = re.sub(r"(?s)<!--.*?-->", " ", s)
    tags = ("p|div|section|article|main|aside|header|footer|nav|"
            "h[1-6]|li|ul|ol|dl|dt|dd|table|thead|tbody|tr|td|th|"
            "blockquote|pre|figure|figcaption|form|fieldset|hr|br")

    def plain(frag):
        t = re.sub(r"(?s)<[^>]*>", " ", frag)
        for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                        ("&apos;", "'"), ("&amp;", "&")):
            t = t.replace(ent, ch)
        return re.sub(r"\s+", " ", t).strip()

    blocks, kept = [], []
    for b in re.split(r"(?i)</?(?:%s)\b[^>]*>" % tags, s):
        txt = plain(b)
        if not txt:
            continue
        lc = sum(len(plain(a)) for a in
                 re.findall(r"(?is)<a\b[^>]*>(.*?)</a\s*>", b))
        blocks.append(txt)
        if len(txt) >= min_chars and lc * 100 <= max_link_pct * len(txt):
            kept.append(txt)
    return {
        "main_text": "\n".join(kept),
        "n_blocks": len(blocks), "n_kept": len(kept),
        "total_chars": sum(len(t) for t in blocks),
        "kept_chars": sum(len(t) for t in kept),
    }


_MC_PAGES = [
    # chrome-heavy page: nav + footer all links, one real article
    """<html><head><title>T</title><style>p{x}</style>
    <script>var a="<p>fake block</p>";</script></head><body>
    <div><ul><li><a href="/">Home</a></li><li><a href="/a">About</a></li></ul></div>
    <!-- <p>commented out</p> -->
    <article><p>The real article body, comfortably past the minimum length gate.</p>
    <p>tiny</p>
    <p>Another long paragraph with one inline <a href="/r">link</a> that stays
    under the configured link-density ceiling.</p></article>
    <div>&copy; 2026 <a href="/tos">Terms of service</a>
    <a href="/priv">Privacy policy</a></div></body></html>""",
    # entity decode + inline markup inside a block
    "<p>Fish &amp; chips &lt;with&gt; <b>bold</b> text long enough to keep.</p>",
    # unclosed script degrades to stripped text, never errors
    "<p>Before.</p><script>var x = 1; no closing tag",
    # block split on self-closing/void tags; br separates blocks
    "<div>First block of sufficient length to pass.<br>Second block also "
    "long enough to pass the gate.</div>",
    # link-only page -> everything dropped, empty main_text
    "<ul><li><a href='/x'>x</a></li><li><a href='/y'>y</a></li></ul>",
    "",
]


def test_main_content_matches_python_oracle(spark):
    from warcio_spark.operators.textstats import extract_main_content

    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(_MC_PAGES)] + [(99, None)],
        "doc_id long, text string")
    rows = {r.doc_id: r for r in extract_main_content(df).collect()}
    for i, page in enumerate(_MC_PAGES):
        exp = _mc_python_oracle(page)
        got = rows[i]
        assert got.main_text == exp["main_text"], i
        assert got.n_blocks == exp["n_blocks"], i
        assert got.n_kept == exp["n_kept"], i
        assert got.total_chars == exp["total_chars"], i
        assert got.kept_chars == exp["kept_chars"], i
    r = rows[99]
    assert r.main_text is None and r.n_blocks is None


def test_main_content_hand_cases(spark):
    from warcio_spark.operators.textstats import extract_main_content

    page = _MC_PAGES[0]
    df = spark.createDataFrame([(1, page)], "doc_id long, text string")
    r = extract_main_content(df).collect()[0]
    # exactly the two long article paragraphs survive
    assert r.n_kept == 2
    assert r.main_text.startswith("The real article body")
    assert "Privacy policy" not in r.main_text     # footer density-dropped
    assert "Home" not in r.main_text               # nav density-dropped
    assert "fake block" not in r.main_text         # script scrubbed
    assert "commented out" not in r.main_text      # comment scrubbed
    assert "tiny" not in r.main_text               # min-length gate
    assert "one inline link that stays" in r.main_text.replace("\n", " ")

    # thresholds are caller-tunable: lax gates keep everything non-empty
    lax = extract_main_content(df, min_chars=1, max_link_pct=100).collect()[0]
    assert lax.n_kept == lax.n_blocks
    assert lax.kept_chars == lax.total_chars


# ---------------------------------------------------------------------------
# mojibake detect + repair


def test_mojibake_repair_planted_and_clean(spark):
    from pyspark.sql import functions as F

    from warcio_spark.operators.textstats import repair_mojibake

    good = "The café said “hello world… don’t stop– ever"
    bad = good.encode("utf-8").decode("cp1252")          # single mojibake
    double = bad.encode("utf-8").decode("cp1252")        # doubly encoded
    rows = [
        (1, bad),
        (2, double),
        (3, good),            # legit non-cp1252-roundtrippable text: untouched
        (4, "plain ascii"),   # untouched
        (5, None),            # null-safe
        (6, "naïve café"),    # legit latin-1: strict utf-8 decode refuses
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in repair_mojibake(df).collect()}
    assert out[1].text_fixed == good and out[1].was_fixed
    assert out[2].text_fixed == good and out[2].was_fixed  # fixpoint heals 2x
    assert out[3].text_fixed == good and not out[3].was_fixed
    assert out[4].text_fixed == "plain ascii" and not out[4].was_fixed
    assert out[5].text_fixed is None and out[5].was_fixed is None
    assert out[6].text_fixed == "naïve café" and not out[6].was_fixed
    # detector: planted rows flagged, clean rows zero
    assert out[1].mojibake_hits > 0 and out[4].mojibake_hits == 0


def test_mojibake_repair_heals_unlisted_artifacts(spark):
    """The roundtrip works on bytes — artifacts NOT in the scored digraph
    list (e.g. Ã¸ for ø) still heal."""
    from warcio_spark.operators.textstats import repair_mojibake

    good = "smørrebrød øl"
    bad = good.encode("utf-8").decode("cp1252")
    df = spark.createDataFrame([(1, bad)], "doc_id long, text string")
    r = repair_mojibake(df).collect()[0]
    assert r.text_fixed == good and r.was_fixed
    assert r.mojibake_hits == 0  # not in the scored list — repair anyway


def test_bpe_token_count_matches_duckdb_on_adversarial_rows(spark):
    """Java regexp_count and DuckDB RE2 must count the lookahead-free
    pattern identically (both leftmost-first)."""
    import duckdb
    from pyspark.sql import functions as F

    from warcio_spark.operators.textstats import BPE_TOKEN_RE, bpe_token_count

    texts = [
        "hello world 123", "a,b;c--d  e", "tab\tnewline\nrun   x",
        "digits12345mixedABCdef!!!", "", "   ", "one",
        "C3PO & R2-D2 (beep)!", "trailing space ", " leading",
        "unicode é mixed — ascii", "____///###", "a" * 500 + "!" * 10,
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "id long, text string")
    got = {r.id: r.c for r in
           df.select("id", bpe_token_count("text").alias("c")).collect()}
    con = duckdb.connect()
    for i, t in enumerate(texts):
        want = con.execute(
            "select len(regexp_extract_all(?, ?))", [t, BPE_TOKEN_RE]
        ).fetchone()[0]
        assert got[i] == want, (i, t, got[i], want)


# ---------------------------------------------------------------------------
# hashed linear scorer


def test_hashed_linear_score_hand_computed(spark):
    import hashlib

    from pyspark.sql import functions as F

    from warcio_spark.operators.textstats import hashed_linear_score

    docs = spark.createDataFrame(
        [(1, "aa bb"), (2, "solo")], "doc_id long, text string")
    # full 256-bucket model: w = hex2int(bucket) - 128
    weights = spark.range(256).select(
        F.lower(F.lpad(F.hex(F.col("id")), 2, "0")).alias("bucket"),
        (F.col("id") - 128).cast("int").alias("w"))
    out = {r.doc_id: r for r in hashed_linear_score(docs, weights).collect()}

    def w_of(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:2], 16) - 128

    exp1 = w_of("aa") + w_of("bb") + w_of("aa bb")   # 2 unigrams + 1 bigram
    assert out[1].n_feats == 3 and out[1].score_sum == exp1
    assert out[1].score == round(exp1 / 3 / 127.0, 4)
    assert out[2].n_feats == 1 and out[2].score_sum == w_of("solo")


def test_hashed_linear_score_sparse_and_deterministic(spark):
    from pyspark.sql import functions as F

    from warcio_spark.operators.textstats import hashed_linear_score

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2}") for i in range(50)],
        "doc_id long, text string")
    # sparse model: only buckets starting with '0' carry weight
    weights = spark.range(16).select(
        F.concat(F.lit("0"), F.lower(F.hex(F.col("id")))).alias("bucket"),
        F.lit(5).cast("int").alias("w"))
    a = sorted(map(tuple, hashed_linear_score(docs, weights).collect()))
    b = sorted(map(tuple, hashed_linear_score(
        docs.repartition(7), weights).collect()))
    assert a == b
    # missing buckets contribute 0, never drop the feature row
    assert all(r[1] == 5 for r in a)          # n_feats: 3 uni + 2 bi
    assert all(r[2] % 5 == 0 for r in a)      # sums are multiples of 5
    # unigram-only mode
    uni = {r.doc_id: r.n_feats for r in hashed_linear_score(
        docs, weights, bigrams=False).collect()}
    assert all(v == 3 for v in uni.values())
