"""Corpus-wide duplicate-SPAN detection and removal (exact substring
dedup at n-gram granularity).

Document-level dedup (exact / minhash / simhash, ``operators/dedup.py``)
misses the dominant duplication mode in web text: boilerplate SPANS —
navigation chrome, license blocks, quoted passages — embedded inside
otherwise-unique documents. The standard remedy ("exact substring
deduplication" in the training-data-dedup literature) finds token
spans whose content recurs across documents and strips them, keeping
the unique remainder of every document.

Semantics here (the scalable n-gram formulation of that idea):

- tokenize each document (whitespace tokens, ``textstats.tokens``);
- hash every overlapping word ``n``-gram together with its 1-based
  start position;
- a gram is DUPLICATED iff it occurs in >= ``min_docs`` distinct
  documents (cross-document recurrence — a phrase repeated only
  inside one document is NOT flagged);
- per document, the token intervals ``[pos, pos+n-1]`` of its
  duplicated grams are merged into maximal spans (two grams merge
  iff their coverage is contiguous, i.e. start gap <= n);
- ``strip_dup_spans`` removes every covered token (ALL occurrences —
  the remove-everywhere variant; keep-first would need a global
  occurrence order and is what ``dedup_lines`` provides at line
  granularity).

Scale shape (the whole design):
- the gram pass is a Generate over a pure-codegen transform(sequence)
  — no Python anywhere in the operator;
- duplicated-gram detection is one groupBy on the md5 gram hash
  (fixed-width key, uniform by construction; Spark's two-phase
  count_distinct partial-aggregates (g, doc_id) pairs map-side, and
  AQE handles residual hot-boilerplate skew);
- positions of duplicated grams come from a self-join on the gram
  hash — both sides derive from the same gram scan, so at 100 TB the
  caller persists ``gram_positions`` once (same caller-owned-persist
  contract as ``minhash_lsh_pairs``);
- span merging is gaps-and-islands: one window partitioned by doc_id
  (uniform key), then a per-(doc, span) aggregation — O(duplicated
  positions), never O(tokens);
- ``strip_dup_spans`` rebuilds text with nested higher-order
  functions (zip_with + filter + exists) over the tokens and the
  per-doc merged span list — JVM-side, O(tokens x spans/doc), no
  Arrow hop.

warcio has no corpus layer; this is part of the beyond-the-reference
training-data surface (SURVEY.md "LLM-data-pipeline operators").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from warcio_spark.operators.textstats import token_count, tokens
from warcio_spark.plans.graph import persist_into

__all__ = [
    "gram_positions",
    "dup_gram_spans",
    "dup_span_stats",
    "strip_dup_spans",
]


def gram_positions(
    docs: DataFrame,
    *,
    n: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, pos, g): md5 hash of every word ``n``-gram with its
    1-based start token position. Documents shorter than ``n`` tokens
    contribute no rows.

    The repartition spreads the CPU-heavy gram+md5 projection over all
    cores when the source collapses to few input splits (single-task
    trap; see ``decontam.decontaminate``).

    Shape: explode the position index FIRST, then build + hash each gram
    in the post-Generate projection — whole-stage codegen end to end. The
    equivalent ``transform(idx, struct(pos, md5(...)))`` builds the same
    rows ~5x slower because higher-order functions evaluate their lambda
    interpreted, element at a time.
    """
    toks = tokens(text_col)
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    sc = docs.sparkSession.sparkContext
    return (
        docs.repartition(sc.defaultParallelism)
        .select(F.col(id_col), toks.alias("_toks"), F.explode(idx).alias("pos"))
        .select(
            id_col, "pos",
            F.md5(F.concat_ws(
                " ", F.slice(F.col("_toks"), F.col("pos"), n))).alias("g"),
        )
    )


def dup_gram_spans(
    docs: DataFrame,
    *,
    n: int = 20,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_tracker: list | None = None,
) -> DataFrame:
    """Merged duplicate spans per document: (id_col, span_id, start,
    end, n_grams) — token interval [start, end] (1-based, inclusive)
    covered by grams occurring in >= ``min_docs`` distinct documents.

    At scale, persist ``gram_positions(docs, ...)`` and pass it via
    ``_grams`` to avoid recomputing the gram scan for the count and
    the position lookup (caller-owned, same contract as minhash's
    shingle pass).
    """
    grams = gram_positions(docs, n=n, text_col=text_col, id_col=id_col)
    grams = persist_into(grams, persist_tracker)
    return _dup_gram_spans(grams, n=n, min_docs=min_docs, id_col=id_col)


def _dup_gram_spans(
    grams: DataFrame, *, n: int, min_docs: int, id_col: str
) -> DataFrame:
    dup_g = (
        grams.groupBy("g")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("g")
    )
    hits = grams.join(dup_g, "g").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    # new span whenever the start gap to the previous duplicated gram
    # exceeds n (coverage [pos, pos+n-1] no longer contiguous)
    new_span = F.coalesce(
        (F.col("pos") - F.lag("pos").over(w) > n).cast("int"), F.lit(1)
    )
    return (
        hits.withColumn("span_id", F.sum(new_span).over(w))
        .groupBy(id_col, "span_id")
        .agg(
            F.min("pos").alias("start"),
            (F.max("pos") + (n - 1)).alias("end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
    )


def dup_span_stats(
    docs: DataFrame,
    *,
    n: int = 20,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_tracker: list | None = None,
) -> DataFrame:
    """Per-document duplication report over the whole corpus:
    (id_col, n_tokens, n_dup_grams, n_spans, dup_tokens, dup_ratio).
    Every input document appears exactly once (zeros when clean).
    """
    spans = dup_gram_spans(
        docs, n=n, min_docs=min_docs, text_col=text_col, id_col=id_col,
        persist_tracker=persist_tracker,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("n_grams").alias("n_dup_grams"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("end") - F.col("start") + 1).alias("dup_tokens"),
    )
    base = docs.select(
        F.col(id_col), token_count(text_col).cast("long").alias("n_tokens")
    )
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
        F.round(
            F.coalesce("dup_tokens", F.lit(0))
            / F.greatest(F.col("n_tokens"), F.lit(1)),
            4,
        ).alias("dup_ratio"),
    )


def strip_dup_spans(
    docs: DataFrame,
    *,
    n: int = 20,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_tracker: list | None = None,
) -> DataFrame:
    """``docs`` plus ``text_clean``: the document with every token
    covered by a cross-document duplicate span removed, remaining
    tokens joined with single spaces (token-space normalization — a
    clean document round-trips to its single-spaced token join, same
    convention for every row).
    """
    spans_arr = (
        dup_gram_spans(
            docs, n=n, min_docs=min_docs, text_col=text_col, id_col=id_col,
            persist_tracker=persist_tracker,
        )
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct("start", "end"))
            ).alias("_spans")
        )
    )
    toks = tokens(text_col)
    indexed = F.when(
        F.size(toks) > 0,
        F.zip_with(
            toks,
            F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1))),
            lambda t, i: F.struct(t.alias("t"), i.alias("i")),
        ),
    ).otherwise(F.array().cast("array<struct<t:string,i:int>>"))
    spans = F.coalesce(
        F.col("_spans"),
        F.array().cast("array<struct<start:int,end:int>>"),
    )
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            spans,
            lambda sp: (s["i"] >= sp["start"]) & (s["i"] <= sp["end"]),
        ),
    )
    clean = F.concat_ws(" ", F.transform(kept, lambda s: s["t"]))
    return (
        docs.join(spans_arr, id_col, "left")
        .withColumn("text_clean", clean)
        .drop("_spans")
    )
