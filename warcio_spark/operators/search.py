"""BM25 keyword scoring and top-k search over the document corpus.

Okapi BM25 (the standard probabilistic-retrieval scoring function):

    score(d, Q) = sum over t in Q of
        idf(t) * tf(t,d) * (k1 + 1)
                 / (tf(t,d) + k1 * (1 - b + b * dl(d) / avgdl))
    idf(t) = ln(1 + (N - df(t) + 0.5) / (df(t) + 0.5))

Scale shape (the whole design):
- corpus scalars (N, avgdl) are computed by one tiny aggregate job and
  embedded as literals — at scale they are per-snapshot METADATA (a
  production index stores them next to the corpus), and folding them
  into the plan keeps the scoring side free of the degenerate
  1-row-broadcast nested-loop join a constant-key attach compiles to;
- tokens are filtered to the query terms BEFORE the explode, so the
  per-(doc, term) tf aggregation sees O(matching tokens), not
  O(corpus tokens) — for a k-term query this is the posting-list
  volume an inverted index would touch, obtained without maintaining
  one;
- document frequencies aggregate to <= |Q| rows and broadcast;
- the final top-k is an ORDER BY ... LIMIT k =
  TakeOrderedAndProject (per-partition heaps + driver merge of k
  rows), never a full sort;
- everything is built-in expressions — no Python anywhere.

warcio has no search layer; this is part of the beyond-the-reference
corpus-analytics surface (SURVEY.md "LLM-data-pipeline operators").
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warcio_spark.operators.textstats import tokens
from warcio_spark.plans.graph import persist_into

__all__ = ["bm25_scores", "bm25_topk", "write_bm25_index",
           "bm25_topk_indexed"]


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    *,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    decimals: int = 4,
    persist_tracker: list | None = None,
) -> DataFrame:
    """(id_col, n_matched_terms, score) for every document matching at
    least one query term (exact token match). ``score`` is rounded to
    ``decimals`` so results are engine-portable.

    ``persist_tracker``: the tokenized base is persisted so the corpus
    scalars action and the postings branch share one tokenize scan; the
    caller unpersists after materializing."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = F.array(*[F.lit(t) for t in query_terms])

    # dl rides along with the doc BEFORE tokens are filtered to Q
    base = docs.select(
        F.col(id_col),
        F.size(tokens(text_col)).alias("dl"),
        F.filter(
            tokens(text_col), lambda t: F.array_contains(terms, t)
        ).alias("_qtoks"),
    )
    base = persist_into(base, persist_tracker)

    # corpus scalars: one tiny aggregate job, embedded as literals
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    ).first()
    n_docs = stats["n_docs"]
    avgdl = float(stats["avgdl"] or 0.0)

    hits = base.filter(F.size("_qtoks") > 0).select(
        id_col, "dl", F.explode("_qtoks").alias("term")
    )
    tf = hits.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    df_t = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.lit(n_docs) - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    contrib = tf.join(F.broadcast(df_t), "term").select(
        id_col,
        (
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))
            )
        ).alias("c"),
    )
    return contrib.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_matched_terms"),
        F.round(F.sum("c"), decimals).alias("score"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_tracker: list | None = None,
) -> DataFrame:
    """Top-``k`` documents by BM25 score (ties broken by ascending
    ``id_col`` so results are deterministic). ORDER BY + LIMIT compiles
    to TakeOrderedAndProject — no full sort."""
    scored = bm25_scores(
        docs, query_terms, k1=k1, b=b, text_col=text_col, id_col=id_col,
        persist_tracker=persist_tracker,
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)


def _term_bucket(term: str, n_buckets: int) -> int:
    """The python twin of the writer's bucket expression: java.util.zip
    CRC32 == zlib.crc32 over utf-8 bytes, so query-time bucket ids are
    computed driver-side with NO Spark job."""
    return zlib.crc32(term.encode("utf-8")) % n_buckets


def write_bm25_index(docs: DataFrame, path: str, *, n_buckets: int = 64,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> None:
    """Materialize the inverted index ``bm25_scores`` recomputes per
    query — the scale path its docstring promises: a production corpus
    tokenizes ONCE, and every query after that touches posting lists,
    not text.

    Layout under ``path``:

    - ``postings/`` — (term, id, tf, dl) partitioned by
      ``bucket = crc32(term) % n_buckets`` and term-sorted within each
      file, so a query's term set prunes to its buckets at the SOURCE
      (PartitionFilters) and parquet row-group min/max stats narrow the
      remainder to the exact terms;
    - ``stats/`` — one row (n_docs, avgdl, n_buckets): the corpus
      scalars, stored as snapshot metadata exactly like the
      ``cdx_table`` manifest pattern.

    One tokenize scan + one (term, id) aggregation + the bucket
    exchange; dl rides the postings so scoring never rejoins documents.
    """
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    # persist the tokenized frame across the two writes: stats and
    # postings each trigger a job, and without the cache each would
    # re-tokenize the full corpus (the dominant cost of the build)
    base = docs.select(F.col(id_col),
                       tokens(text_col).alias("_toks")).persist()
    try:
        (base.select(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg(F.size("_toks")).alias("avgdl"),
            F.lit(int(n_buckets)).alias("n_buckets"))
         .write.mode("overwrite").parquet(path + "/stats"))
        tf = (
            base.select(id_col, F.size("_toks").alias("dl"),
                        F.explode("_toks").alias("term"))
            .groupBy("term", id_col)
            .agg(F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl"))
            .withColumn("bucket",
                        F.pmod(F.crc32(F.col("term").cast("binary")),
                               F.lit(n_buckets)).cast("int"))
        )
        (tf.repartition("bucket")
           .sortWithinPartitions("bucket", "term")
           .write.partitionBy("bucket").mode("overwrite")
           .parquet(path + "/postings"))
    finally:
        base.unpersist()


def bm25_topk_indexed(spark: SparkSession, path: str,
                      query_terms: list[str], k: int = 10, *,
                      k1: float = 1.2, b: float = 0.75,
                      id_col: str = "doc_id",
                      decimals: int = 4) -> DataFrame:
    """``bm25_topk`` over a ``write_bm25_index`` layout — identical
    output (same formula, same rounding, same tie-break), but the scan
    is the query's posting lists only: the term set's bucket ids are
    computed driver-side (no job) and land as a partition filter, the
    term IN (...) predicate pushes into the pruned files' row groups,
    and corpus scalars come from the one-row stats snapshot. Everything
    after the scan aggregates O(postings of Q), independent of corpus
    size."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    st = spark.read.parquet(path + "/stats").first()
    n_docs, avgdl = st["n_docs"], float(st["avgdl"] or 0.0)
    buckets = sorted({_term_bucket(t, st["n_buckets"])
                      for t in query_terms})
    hits = (
        spark.read.parquet(path + "/postings")
        .filter(F.col("bucket").isin(buckets)
                & F.col("term").isin(list(query_terms)))
    )
    df_t = (
        hits.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.lit(n_docs) - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    contrib = hits.join(F.broadcast(df_t), "term").select(
        id_col,
        (
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.lit(avgdl))
            )
        ).alias("c"),
    )
    scored = contrib.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_matched_terms"),
        F.round(F.sum("c"), decimals).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.col(id_col)).limit(k)
