"""Composite training-data cleaning pipeline over a documents-like table.

Composes the textstats/dedup building blocks into the C4/Gopher-shaped
funnel a 100 TB pretraining pipeline runs: length + quality gates,
marker-based language id, exact dedup, and a deterministic
quality-stratified sample — as ONE declarative plan.

Scale shape (the point of the composition):
- every gate is a pure-codegen column computed in a SINGLE scan —
  staging the ratios as columns once (not re-inlining subtrees per
  consumer) keeps whole-stage codegen small, the same staging
  discipline the quality/lang queries use;
- exact dedup costs the plan's only shuffle (window over md5(text));
  the window orders gate-passers first inside each hash group
  (``ORDER BY pass DESC, doc_id``), so "dedup among survivors" needs
  no pre-filter pass — the funnel is one scan + one shuffle end-to-end;
- the stratified sample is a deterministic md5-hex threshold (salted),
  so reruns, resumes, and the DuckDB oracle all agree row-for-row with
  no RNG state anywhere.

Reference parity note: warcio has no corpus pipeline — this layer is the
"beyond the reference" training-data surface (dedup building blocks cite
/root/reference/warcio/recordloader.py only via operators/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from warcio_spark.operators.textstats import punct_ratio, stopword_ratio, tokens

#: funnel stage labels, cumulative left-to-right
STAGES = ("0_input", "1_length", "2_quality", "3_lang", "4_dedup", "5_sample")


def _staged(
    docs: DataFrame,
    *,
    min_tokens: int,
    max_tokens: int,
    tok_len_bounds: tuple,
    max_punct: float,
    min_stopword: float,
    langs: tuple,
    quality_head: float,
    sample_tail_hex: str,
    salt: str,
    text_col: str,
    id_col: str,
) -> DataFrame:
    toks = tokens(text_col)
    nonspace = F.length(F.regexp_replace(F.col(text_col), r"\s", ""))
    s = docs.select(
        F.col(id_col),
        F.col(text_col),
        F.size(toks).alias("n_tokens"),
        nonspace.alias("_nonspace"),
        punct_ratio(text_col).alias("_punct"),
        stopword_ratio(text_col).alias("_stop"),
        F.size(F.filter(toks, lambda t: F.lower(t).isin(["the", "and", "of"]))).alias("_en"),
        F.size(F.filter(toks, lambda t: F.lower(t).isin(["der", "und", "die"]))).alias("_de"),
        F.size(F.filter(toks, lambda t: F.lower(t).isin(["le", "et", "les"]))).alias("_fr"),
    )
    mean_tok = F.round(F.col("_nonspace") / F.greatest(F.col("n_tokens"), F.lit(1)), 4)
    quality = F.round(
        (
            F.least(F.length(text_col) / 500.0, F.lit(1.0))
            + (F.lit(1.0) - F.least(F.col("_punct") * 5, F.lit(1.0)))
            + F.least(F.col("_stop") * 4, F.lit(1.0))
        )
        / 3.0,
        4,
    )
    lang_pred = (
        F.when((F.col("_en") + F.col("_de") + F.col("_fr")) == 0, F.lit("und"))
        .when((F.col("_en") >= F.col("_de")) & (F.col("_en") >= F.col("_fr")), "en")
        .when(F.col("_de") >= F.col("_fr"), "de")
        .otherwise("fr")
    )
    s = s.withColumns(
        {
            "mean_tok_len": mean_tok,
            "quality": quality,
            "lang_pred": lang_pred,
        }
    )
    g_len = (
        F.col("n_tokens").between(min_tokens, max_tokens)
        & F.col("mean_tok_len").between(*tok_len_bounds)
    )
    g_quality = (F.col("_punct") <= max_punct) & (F.col("_stop") >= min_stopword)
    g_lang = F.col("lang_pred").isin(list(langs))
    s = s.withColumns(
        {
            "g_len": g_len,
            "g_quality": g_len & g_quality,
            "g_lang": g_len & g_quality & g_lang,
        }
    )
    # dedup among gate-passers without a pre-filter pass: passers sort
    # first within each text-hash group, so rank 1 is the kept copy
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(
        F.col("g_lang").cast("int").desc(), F.col(id_col)
    )
    s = s.withColumn("g_dedup", F.col("g_lang") & (F.row_number().over(w) == 1))
    keep_sample = F.col("g_dedup") & (
        (F.col("quality") >= quality_head)
        | (F.substring(F.md5(F.concat(F.lit(salt), F.col(text_col))), 1, 1) <= sample_tail_hex)
    )
    return s.withColumn("g_sample", keep_sample)


def clean_corpus(
    docs: DataFrame,
    *,
    min_tokens: int = 20,
    max_tokens: int = 90,
    tok_len_bounds: tuple = (2.0, 12.0),
    max_punct: float = 0.1,
    min_stopword: float = 0.01,
    langs: tuple = ("en",),
    quality_head: float = 0.5,
    sample_tail_hex: str = "3",
    salt: str = "s1",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Surviving documents after the full funnel, with per-doc stats.

    ``sample_tail_hex``: documents below ``quality_head`` survive iff the
    first hex char of md5(salt || text) is <= this char — '3' keeps 4/16
    (25%) of the low-quality tail, deterministically.
    """
    s = _staged(
        docs,
        min_tokens=min_tokens,
        max_tokens=max_tokens,
        tok_len_bounds=tok_len_bounds,
        max_punct=max_punct,
        min_stopword=min_stopword,
        langs=langs,
        quality_head=quality_head,
        sample_tail_hex=sample_tail_hex,
        salt=salt,
        text_col=text_col,
        id_col=id_col,
    )
    bucket = F.when(F.col("quality") >= quality_head, "head").otherwise("tail")
    return s.filter(F.col("g_sample")).select(
        id_col,
        "n_tokens",
        "mean_tok_len",
        F.col("_stop").alias("stopword_ratio"),
        "lang_pred",
        "quality",
        bucket.alias("sample_bucket"),
    )


def token_budget_sample(
    docs: DataFrame,
    budget_tokens: int,
    *,
    strata: tuple = ("lang",),
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic fixed-size training-mix construction: within each
    stratum (default: language), keep documents in ``id_col`` order
    while the running token total stays within ``budget_tokens``. The
    document that would cross the budget is excluded (inclusive-cumsum
    <= budget), so the kept set is a prefix of the stratum's id order —
    stable under reruns and resume.

    Returns (id_col, *strata, n_tokens, cum_tokens) for kept docs only.

    Scale shape: one shuffle on the strata key, then a running-sum
    window inside each partition. A stratum key like lang is skewed
    (en-heavy) — the window is O(stratum) sequential per partition by
    construction (a running budget is inherently ordered); if one
    stratum outgrows a task, pre-filter with a cheap per-doc bound or
    split the stratum key upstream. For the usual case — budgets in the
    billions of tokens, strata in the dozens — one sorted partition per
    stratum is the right plan.
    """
    w = (
        Window.partitionBy(*strata)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    toks = tokens(text_col)
    staged = docs.select(
        F.col(id_col), *[F.col(s) for s in strata],
        F.size(toks).alias("n_tokens"),
    )
    return (
        staged.withColumn("cum_tokens",
                          F.sum("n_tokens").over(w).cast("long"))
        .filter(F.col("cum_tokens") <= budget_tokens)
    )


def clean_funnel(docs: DataFrame, **kwargs) -> DataFrame:
    """Per-stage survivor counts for the same funnel — the pipeline's
    observability face. One scan + one shuffle total: every stage is a
    boolean column of the shared staged plan, counted in a single
    aggregate and unpivoted to (stage, rows)."""
    s = _staged(
        docs,
        min_tokens=kwargs.pop("min_tokens", 20),
        max_tokens=kwargs.pop("max_tokens", 90),
        tok_len_bounds=kwargs.pop("tok_len_bounds", (2.0, 12.0)),
        max_punct=kwargs.pop("max_punct", 0.1),
        min_stopword=kwargs.pop("min_stopword", 0.01),
        langs=kwargs.pop("langs", ("en",)),
        quality_head=kwargs.pop("quality_head", 0.5),
        sample_tail_hex=kwargs.pop("sample_tail_hex", "3"),
        salt=kwargs.pop("salt", "s1"),
        text_col=kwargs.pop("text_col", "text"),
        id_col=kwargs.pop("id_col", "doc_id"),
    )
    if kwargs:
        raise TypeError(f"unknown clean_funnel kwargs: {sorted(kwargs)}")
    agg = s.agg(
        F.count(F.lit(1)).alias(STAGES[0]),
        *[
            F.sum(F.col(g).cast("long")).alias(st)
            for g, st in zip(
                ("g_len", "g_quality", "g_lang", "g_dedup", "g_sample"), STAGES[1:]
            )
        ],
    )
    stack = ", ".join(f"'{st}', `{st}`" for st in STAGES)
    return (
        agg.select(F.expr(f"stack({len(STAGES)}, {stack}) as (stage, rows)"))
        .select("stage", F.col("rows").cast("long").alias("rows"))
    )


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 256,
    overlap: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id_col, chunk_id, n_tokens, chunk): fixed-size token windows with
    overlap — the training-prep step that turns cleaned documents into
    model-sized sequences. Chunk i covers tokens
    [i*stride+1, i*stride+chunk_tokens] (stride = chunk_tokens -
    overlap); the chunk count ceil((n - overlap) / stride) guarantees
    every token lands in at least one chunk, the last chunk may be
    short, and a non-empty doc shorter than one chunk yields exactly one
    chunk. Empty docs yield no rows.

    Scale shape: tokenize once, explode only the CHUNK INDEX (a
    sequence of ~n/stride longs, not the tokens), slice per index —
    all built-in expressions, output volume ~(1 + overlap/stride) x
    corpus tokens, no shuffle at all."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    from warcio_spark.operators.textstats import tokens

    n = F.size("_t")
    n_chunks = F.greatest(
        ((n - overlap + stride - 1) / stride).cast("long"), F.lit(1)
    )
    piece = F.slice(
        "_t", F.col("chunk_id") * stride + 1, chunk_tokens
    )
    return (
        docs.select(F.col(id_col), tokens(text_col).alias("_t"))
        .select(
            id_col,
            "_t",
            F.explode(
                F.when(n > 0, F.sequence(F.lit(0), n_chunks - 1))
                .otherwise(F.array().cast("array<long>"))
            ).alias("chunk_id"),
        )
        .select(
            id_col,
            "chunk_id",
            F.size(piece).cast("long").alias("n_tokens"),
            F.array_join(piece, " ").alias("chunk"),
        )
    )


def shard_assignment(
    docs: DataFrame,
    shard_tokens: int,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_tracker: list | None = None,
) -> DataFrame:
    """Token-balanced output sharding: assign each document to a training
    shard so consecutive docs (in ``id_col`` order) fill each shard to
    ~``shard_tokens`` tokens — ``shard_id = floor(tokens_before /
    shard_tokens)``, the streaming-packing rule every sharded-dataset
    writer uses (a doc straddling a boundary belongs to the shard where
    it STARTS). Deterministic given the id order; reruns and resumes
    agree shard-for-shard.

    Returns (id_col, n_tokens, tokens_before, shard_id).

    Scale shape: the global running total uses plans.prefix.range_rank —
    range exchange + per-range running-sum window + range offsets
    broadcast from a counts branch of the same plan; NO unpartitioned
    window, no data-bearing single-partition stage, nothing driver-side
    that grows with the corpus.
    """
    if shard_tokens <= 0:
        raise ValueError(f"shard_tokens must be positive, got {shard_tokens}")
    from warcio_spark.operators.textstats import tokens
    from warcio_spark.plans.prefix import with_global_cumsum

    staged = docs.select(
        F.col(id_col), F.size(tokens(text_col)).cast("long").alias("n_tokens")
    )
    cum = with_global_cumsum(
        staged, id_col, "n_tokens", "tokens_before",
        exclusive=True, persist_tracker=persist_tracker,
    )
    return cum.withColumn(
        "shard_id", F.floor(F.col("tokens_before") / shard_tokens).cast("long")
    )


def weighted_mix(
    docs: DataFrame,
    weights: dict,
    *,
    source_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix",
) -> DataFrame:
    """Deterministic weighted corpus mixing: keep each document with its
    source's probability — the per-source downsampling step that turns
    raw corpora into a training mix. The keep decision is a salted md5
    threshold (`'0' + hex6(md5(salt||source||id)) < thr(source)`, both
    sides 7 hex digits so rate 1.0 orders correctly), so there is no
    RNG state anywhere: reruns, resumes, and the DuckDB oracle agree
    row-for-row. Sources absent from ``weights`` are dropped — the mix
    is explicit.

    Scale shape: the source->threshold table folds into a literal map
    (try_element_at — ANSI-safe for unknown sources), the hash is a
    codegen expression; no join, no shuffle, nothing driver-side."""
    entries = []
    for src in sorted(weights):
        w = weights[src]
        if not (0.0 <= w <= 1.0):
            raise ValueError(f"weight for {src!r} must be in [0, 1], got {w}")
        entries.extend([F.lit(src), F.lit(format(int(w * 16 ** 6), "07x"))])
    if not entries:
        raise ValueError("weights must name at least one source")
    thr = F.try_element_at(F.create_map(*entries), F.col(source_col))
    hex7 = F.concat(
        F.lit("0"),
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(source_col),
                           F.col(id_col).cast("string"))), 1, 6),
    )
    return docs.filter(thr.isNotNull() & (hex7 < thr))


def stratified_quota(docs: DataFrame, quota: int, strata: tuple = ("lang",),
                     buckets: int = 32, salt: str = "q1",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact-quota stratified sampling: keep exactly ``min(quota, |stratum|)``
    rows per stratum, chosen deterministically by salted-md5 order over the
    id. Complements the funnel's rate-based md5-threshold sample
    (``token_budget_sample`` / ``clean_corpus``): a threshold gives an
    EXPECTED rate per stratum, this gives an exact count — the shape a
    balanced eval set or a per-language training-mix cap needs. Reruns,
    resumes, and the DuckDB oracle agree row-for-row (no RNG state).

    Scale shape (100 TB): a naive per-stratum row_number serializes each
    stratum through one reducer — a 10-language corpus would ride on 10
    tasks. This is ``plans.prefix.group_top_k`` over id-hash buckets in
    the total order (md5(salt||id), id) instead. Output adds
    ``sample_rank`` (1-based within stratum).
    """
    return _bottom_quota(docs, quota, strata, buckets, salt, id_col)


def _bottom_quota(docs, quota, strata, buckets, salt, id_col):
    """First ``quota`` rows per stratum in salted-md5 order, ranked as
    ``sample_rank`` — the sampler shared by stratified_quota and
    temperature_sample."""
    from warcio_spark.plans.prefix import group_top_k

    vid = F.col(id_col)
    key = F.md5(F.concat(F.lit(salt), vid.cast("string")))
    return group_top_k(
        docs.withColumn("_k", key), strata, [F.asc("_k"), F.asc(id_col)],
        quota, F.pmod(F.xxhash64(vid), F.lit(buckets)), "sample_rank",
    ).drop("_k")


def leakage_safe_split(docs: DataFrame, pairs: DataFrame, ratios: dict,
                       *, id_col: str = "doc_id", left_col: str = "id_a",
                       right_col: str = "id_b",
                       salt: str = "split") -> DataFrame:
    """Contamination-safe holdout assignment: every doc lands in exactly
    one named split, and docs linked (transitively) by the near-dup
    ``pairs`` relation ALWAYS land in the same split — the property that
    keeps a val/test document's near-duplicate out of train. A plain
    per-doc hash split does NOT have it: with a 10%% holdout and d dups
    per cluster, the chance a cluster straddles splits is ~1-(0.9^d+...),
    i.e. most multi-doc clusters leak.

    The split decision hashes the CLUSTER representative (min doc id in
    the transitive closure via ``dedup.dup_clusters``; docs in no pair
    are their own singleton cluster), then buckets by cumulative
    ``ratios`` using the same salted-md5 7-hex-digit threshold trick as
    ``weighted_mix`` — no RNG state, so reruns, resumes, and the DuckDB
    oracle agree row-for-row. ``ratios`` maps split name -> fraction and
    must sum to 1 (bucket boundaries follow the dict's insertion order).

    Returns (id_col, cluster, split).

    Scale shape: connected components run ONLY on pair participants
    (pointer doubling, O(log n) rounds — at 10^10 docs the pair table is
    the dedup layer's output, orders of magnitude smaller than the
    corpus); the corpus is touched ONCE by a left equi-join against the
    cluster table; the hash bucket is a pure codegen CASE — no extra
    shuffle beyond the join."""
    from warcio_spark.operators.dedup import dup_clusters

    if not ratios:
        raise ValueError("ratios must name at least one split")
    total = sum(ratios.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"ratios must sum to 1, got {total}")
    cl = dup_clusters(pairs, left_col, right_col).withColumnRenamed(
        "doc_id", id_col)
    assigned = (
        docs.select(id_col)
        .join(cl, id_col, "left")
        .withColumn("cluster", F.coalesce("cluster", F.col(id_col)))
    )
    hex7 = F.concat(
        F.lit("0"),
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col("cluster").cast("string"))),
            1, 6),
    )
    split = None
    cum = 0.0
    for name, w in ratios.items():
        if not (0.0 < w <= 1.0):
            raise ValueError(f"ratio for {name!r} must be in (0, 1], got {w}")
        cum += w
        thr = F.lit(format(int(round(cum * 16 ** 6)), "07x"))
        split = (F.when(hex7 < thr, name) if split is None
                 else split.when(hex7 < thr, name))
    return assigned.select(id_col, "cluster", split.alias("split"))


def split_leakage(assignment: DataFrame, pairs: DataFrame,
                  *, id_col: str = "doc_id", split_col: str = "split",
                  left_col: str = "id_a", right_col: str = "id_b") -> DataFrame:
    """Audit an EXISTING split for near-dup leakage: every ``pairs`` edge
    whose endpoints sit in different splits, as (id_a, id_b, split_a,
    split_b). Empty output == the split is leakage-free w.r.t. the pair
    relation (leakage_safe_split's postcondition; the check is how you
    validate a split you did NOT build, e.g. one inherited from an
    upstream corpus release).

    Scale shape: two broadcast-eligible equi-joins of the pair table
    against the (id, split) projection — the corpus-sized assignment is
    never shuffled against itself, and the pair table is the small side
    at training-corpus scale."""
    a = assignment.select(F.col(id_col).alias(left_col),
                          F.col(split_col).alias("split_a"))
    b = assignment.select(F.col(id_col).alias(right_col),
                          F.col(split_col).alias("split_b"))
    return (
        pairs.select(left_col, right_col)
        .join(a, left_col)
        .join(b, right_col)
        .filter(F.col("split_a") != F.col("split_b"))
        .select(left_col, right_col, "split_a", "split_b")
    )


def temperature_sample(docs: DataFrame, alpha: float,
                       strata: tuple = ("lang",), buckets: int = 32,
                       salt: str = "temp", id_col: str = "doc_id") -> DataFrame:
    """Temperature-based corpus rebalancing (the multilingual mixing step:
    sample strata with probability proportional to share^alpha). Target
    share t_s ∝ |s|^alpha; the output corpus is the LARGEST one that hits
    those shares without upsampling (N' = min_s |s|/t_s, quota_s =
    floor(t_s·N')) — alpha=1 keeps everything, alpha=0 caps every stratum
    at the smallest one (uniform), 0<alpha<1 flattens toward uniform the
    way multilingual pretraining mixes do. Rows inside a stratum are kept
    in salted-md5 order (deterministic — reruns, resumes, and the DuckDB
    oracle agree row-for-row, no RNG state anywhere).

    The quota math runs on the |strata|-row count table (single-partition
    windows there are free); a 1e-9 epsilon inside the floor makes the
    integer boundary stable against float summation order, so both
    engines land on identical quotas. Returns docs columns + quota +
    sample_rank (1-based within stratum).

    Scale shape: one map-combinable count agg, a broadcast join of the
    tiny quota table, then the SAME bottom-quota as ``stratified_quota``
    (``plans.prefix.group_top_k`` with a per-stratum quota column) — no
    stratum ever rides one reducer."""
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    tw = Window.partitionBy()
    counts = docs.groupBy(*strata).agg(F.count(F.lit(1)).alias("_cnt"))
    quotas = (
        counts
        .withColumn("_w", F.pow(F.col("_cnt").cast("double"), F.lit(float(alpha))))
        .withColumn("_t", F.col("_w") / F.sum("_w").over(tw))
        .withColumn("_m", F.min(F.col("_cnt") / F.col("_t")).over(tw))
        .withColumn(
            "quota",
            F.least(
                F.col("_cnt"),
                F.floor(F.col("_t") * F.col("_m") + F.lit(1e-9)).cast("long"),
            ),
        )
        .select(*strata, "quota")
    )
    return _bottom_quota(docs.join(F.broadcast(quotas), list(strata)),
                         F.col("quota"), strata, buckets, salt, id_col)


def pack_sequences(docs: DataFrame, seq_len: int, *, n_shards: int = 256,
                   tokens_col: str = "n_tokens", id_col: str = "doc_id",
                   salt: str = "pack", shard_col: str | None = None) -> DataFrame:
    """Training-sequence packing (the GPT-style concat-and-cut step that
    turns a cleaned corpus into fixed-length model sequences): documents
    are laid out in a deterministic shuffled order, concatenated, and cut
    every ``seq_len`` tokens; each doc gets its byte-street address —
    (shard, seq_id, token_start, token_end), where seq_id/token_start are
    WITHIN-shard (token_start = running offset, seq_id = token_start div
    seq_len; a doc with token_end > (seq_id+1)*seq_len straddles the cut,
    exactly like real packed pretraining shards). The order is salted-md5
    over the id, so reruns, resumes, and the DuckDB oracle agree
    row-for-row with no RNG state.

    Scale shape: packing is per-SHARD (real pipelines never pack across
    shard files), so the cumulative sum is a window inside
    (shard = pmod(xxhash64(id), n_shards)) — ~1/n_shards of the corpus
    per reducer, NO global-order SinglePartition stage anywhere; one hash
    shuffle total. ``shard_col`` swaps in a caller-owned shard assignment
    (the oracle query uses an engine-portable md5-digit shard)."""
    from pyspark.sql import Window

    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    vid = F.col(id_col)
    w = Window.partitionBy("_shard").orderBy(F.asc("_k"), F.asc(id_col))
    # shard_col: caller-owned shard assignment (e.g. an engine-portable
    # md5-digit shard for oracle replay); default xxhash64 is the fast path
    shard = (F.col(shard_col) if shard_col
             else F.pmod(F.xxhash64(vid), F.lit(n_shards)))
    return (
        docs.withColumn("_k", F.md5(F.concat(F.lit(salt), vid.cast("string"))))
        .withColumn("_shard", shard)
        .withColumn(
            "token_start",
            F.coalesce(
                F.sum(tokens_col).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("long"),
        )
        .withColumn("token_end",
                    (F.col("token_start") + F.col(tokens_col)).cast("long"))
        .withColumn("shard", F.col("_shard").cast("int"))
        .withColumn("seq_id",
                    F.floor(F.col("token_start") / seq_len).cast("long"))
        .drop("_k", "_shard")
    )
