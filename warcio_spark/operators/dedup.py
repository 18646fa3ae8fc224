"""Deduplication operators for web-scale training-data pipelines.

Five strategies, cheapest-first, all shuffle-conscious:

- exact_dedup          hash-groupBy on md5(text); one shuffle on the digest
- ngram_jaccard_pairs  exact n-gram Jaccard for candidate pairs
- minhash_lsh_pairs    MinHash signatures + LSH banding: near-dup candidates
                       found with b small shuffles on band buckets instead of
                       an O(n^2) cross join — the 100 TB path
- simhash              64-bit SimHash per doc (simhash_deterministic) +
                       hamming-ball bucketing
- embedding_near_dup   cosine-over-threshold pairs via LSH-ish bucketing

The revisit-record emit of the reference (same payload digest => revisit,
warcio/recordbuilder.py:62-80) is exactly exact_dedup on the payload digest:
see ``substitute_revisits``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from warcio_spark.operators.textstats import tokens
from warcio_spark.plans.graph import (
    connected_components,
    persist_into,
)

# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical docs: one shuffle on the md5 digest.
    Map-side partial aggregation kicks in automatically (hash agg)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def dedup_lines(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", sep: str = "\n") -> DataFrame:
    """C4-style cross-corpus LINE dedup: every line of text is kept only
    in its first occurrence across the whole corpus (first = smallest
    (id_col, line position)); documents are reassembled from their
    surviving lines in original order.

    Returns one row per input doc: (id_col, text_clean, n_lines_in,
    n_lines_kept) — text_clean is '' when every line was a duplicate.

    Scale shape: posexplode (Generate, no shuffle) → ONE shuffle on the
    line's md5 for the first-occurrence window (uniform hash keys, no
    skew) → one groupBy(id) reassembly shuffle. Line text itself never
    shuffles twice: the window carries (id, pos, line) once, and the
    reassembly is keyed on the doc id. No Python anywhere.
    """
    from pyspark.sql import Window

    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    )
    w = Window.partitionBy(F.md5(F.col("line"))).orderBy(id_col, "pos")
    kept = lines.withColumn("_rn", F.row_number().over(w))
    agg = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines_in"),
        F.sum((F.col("_rn") == 1).cast("long")).alias("n_lines_kept"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_rn") == 1,
                               F.struct(F.col("pos"), F.col("line")))
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("text_clean"),
    )
    return agg.select(id_col, "text_clean", "n_lines_in", "n_lines_kept")


def substitute_revisits(records: DataFrame) -> DataFrame:
    """P4's replace-pair hook as a table op: response records whose payload
    digest matches an EARLIER response become revisit records carrying
    WARC-Profile + WARC-Refers-To-* headers and an empty payload — the
    storage-dedup write path of a crawler. Non-response records pass
    through untouched.

    One window shuffle on (payload digest); the rewrite itself is a
    conditional projection (no Python).
    """
    from pyspark.sql import Window

    from warcio_spark import functions as WF

    resp = records.filter(F.col("rec_type") == "response")
    other = records.filter(F.col("rec_type") != "response")

    digest = F.coalesce(
        WF.header_get("rec_headers", "WARC-Payload-Digest"),
        WF.sha1_b32(F.col("payload")),
    )
    w = Window.partitionBy("_digest").orderBy("warc_ts", "record_id")
    flagged = (
        resp.withColumn("_digest", digest)
        .withColumn("_rn", F.row_number().over(w))
        .withColumn("_orig_url", F.first("url").over(w))
        .withColumn("_orig_ts", F.first("warc_ts").over(w))
    )

    # empty payloads are NOT dedup candidates: every 3xx/204/HEAD capture
    # shares the empty-body digest, and rewriting them as revisits would
    # point unrelated urls at each other (real dedup pipelines exclude
    # zero-length payloads for exactly this reason). The flag must be
    # MATERIALIZED before any rewrite: it reads `payload`, which the
    # rewrite chain below replaces — referencing the expression lazily in
    # later withColumns would re-evaluate it against the emptied column.
    flagged = flagged.withColumn(
        "_is_dup",
        (F.col("_rn") > 1)
        & (F.coalesce(F.length(F.col("payload")), F.lit(0)) > 0),
    )
    rewritten = _rewrite_flagged_revisits(
        flagged, ["_digest", "_rn", "_orig_url", "_orig_ts", "_is_dup"])
    return rewritten.unionByName(other)


_REVISIT_PROFILE = (
    "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"
)


def _rewrite_flagged_revisits(flagged: DataFrame, drop_cols: list,
                              profile: str = _REVISIT_PROFILE) -> DataFrame:
    """Shared revisit rewrite: expects materialized ``_is_dup`` boolean,
    ``_orig_url`` string and ``_orig_ts`` timestamp columns; rewrites the
    flagged rows to revisit records (headers swapped, payload emptied,
    length cleared for serializer recompute) and drops ``drop_cols``."""
    from warcio_spark import functions as WF

    is_dup = F.col("_is_dup")
    new_headers = F.when(
        is_dup,
        F.concat(
            WF.header_filter_out(
                "rec_headers", "WARC-Type", "WARC-Block-Digest", "Content-Length"
            ),
            F.array(
                F.struct(F.lit("WARC-Type").alias("name"), F.lit("revisit").alias("value")),
                F.struct(F.lit("WARC-Profile").alias("name"),
                         F.lit(profile).alias("value")),
                F.struct(
                    F.lit("WARC-Refers-To-Target-URI").alias("name"),
                    F.col("_orig_url").alias("value"),
                ),
                F.struct(
                    F.lit("WARC-Refers-To-Date").alias("name"),
                    WF.iso_warc_date("_orig_ts").alias("value"),
                ),
            ),
        ),
    ).otherwise(F.col("rec_headers"))

    return (
        flagged.withColumn("rec_type", F.when(is_dup, "revisit").otherwise(F.col("rec_type")))
        .withColumn("rec_headers", new_headers)
        .withColumn("payload", F.when(is_dup, F.lit(b"")).otherwise(F.col("payload")))
        .withColumn("payload_length", F.when(is_dup, F.lit(0)).otherwise(F.col("payload_length")))
        # length must be recomputed by the serializer: a stale original
        # length on a now-empty payload writes Content-Length=N with zero
        # body bytes and misaligns every record after it in the output WARC
        .withColumn(
            "length",
            F.when(is_dup, F.lit(None).cast("long")).otherwise(F.col("length")),
        )
        .drop(*drop_cols)
    )


def index_originals(index: DataFrame) -> DataFrame:
    """One row per payload digest in a prior crawl's CDX index: the
    EARLIEST capture carrying that payload — (digest_b32, orig_url,
    orig_ts14). Accepts the typed output of read_cdxj OR read_cdx11 (the
    ``sha1:`` prefix CDXJ stores is normalized away, classic CDX is
    already bare). Deterministic: min over (timestamp, url) structs, so
    an exact-timestamp tie picks the lexicographically first url.

    One partial-aggregated groupBy on digest — at 100 TB this is the
    digest-keyed shuffle any storage dedup pays, and the output (one row
    per distinct payload) is the small side downstream joins broadcast."""
    d = F.substring_index(F.col("digest"), ":", -1)
    return (
        index.filter(F.col("digest").isNotNull()
                     & F.col("timestamp").isNotNull()
                     & F.col("url").isNotNull())
        .select(d.alias("digest_b32"),
                F.struct("timestamp", "url").alias("_cap"))
        .groupBy("digest_b32")
        .agg(F.min("_cap").alias("_cap"))
        .select("digest_b32", F.col("_cap.url").alias("orig_url"),
                F.col("_cap.timestamp").alias("orig_ts14"))
    )


def substitute_revisits_against_index(records: DataFrame, index: DataFrame,
                                      broadcast_index: bool = False) -> DataFrame:
    """Cross-job dedup-on-write (the Heritrix/pywb dedup-via-CDX shape):
    response records whose payload digest already appears in a PRIOR
    crawl's capture index become revisit records pointing at the index's
    earliest capture of that payload (WARC-Refers-To-Target-URI/Date from
    the index row, identical-payload-digest profile), with empty payload.
    Non-response records and unmatched/empty-payload responses pass
    through untouched. The index always wins: a matched record becomes a
    revisit even if its own timestamp precedes the indexed capture —
    refers-to points at what the archive already stores.

    Compose with ``substitute_revisits`` (in-batch window dedup) for
    full dedup-on-write: index first, then window over the survivors.

    Plan: the index collapses to one row per digest (``index_originals``)
    before the join, so the record side joins against the small distinct-
    payload table — broadcast it with ``broadcast_index=True`` when the
    prior index fits, otherwise it is one digest-keyed shuffle join.
    """
    resp = records.filter(F.col("rec_type") == "response")
    other = records.filter(F.col("rec_type") != "response")

    from warcio_spark import functions as WF

    originals = index_originals(index)
    if broadcast_index:
        originals = F.broadcast(originals)

    digest = F.substring_index(
        F.coalesce(
            WF.header_get("rec_headers", "WARC-Payload-Digest"),
            WF.sha1_b32(F.col("payload")),
        ),
        ":", -1,
    )
    flagged = (
        resp.withColumn("_digest", digest)
        .join(originals, F.col("_digest") == F.col("digest_b32"), "left")
        .withColumn("_orig_url", F.col("orig_url"))
        .withColumn(
            "_orig_ts",
            F.try_to_timestamp(F.col("orig_ts14"), F.lit("yyyyMMddHHmmss")),
        )
        # materialized BEFORE the rewrite chain (reads `payload`)
        .withColumn(
            "_is_dup",
            F.col("orig_url").isNotNull() & F.col("_orig_ts").isNotNull()
            & (F.coalesce(F.length(F.col("payload")), F.lit(0)) > 0),
        )
    )
    rewritten = _rewrite_flagged_revisits(
        flagged,
        ["_digest", "digest_b32", "orig_url", "orig_ts14",
         "_orig_url", "_orig_ts", "_is_dup"],
    )
    return rewritten.unionByName(other)


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact similarity for candidate pairs)
# ---------------------------------------------------------------------------


def word_ngrams(text, n: int = 3) -> Column:
    """Word n-gram shingles as an array of strings."""
    toks = tokens(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def jaccard(a: Column, b: Column, decimals: int = 4) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.round(inter / F.greatest(union, F.lit(1)), decimals)


def ngram_jaccard_pairs(df: DataFrame, pairs: DataFrame, n: int = 3,
                        id_col: str = "doc_id", text_col: str = "text",
                        shingled: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard for given (id_a, id_b) candidate pairs.
    Two broadcast-or-shuffle hash joins; no cross join ever. Pass a
    precomputed ``shingled`` ("_id", "_sh") to share the shingle pass with
    an upstream LSH stage."""
    if shingled is None:
        shingled = df.select(
            F.col(id_col).alias("_id"), word_ngrams(text_col, n).alias("_sh")
        )
    return (
        pairs.join(shingled.withColumnRenamed("_id", "id_a")
                   .withColumnRenamed("_sh", "sh_a"), "id_a")
        .join(shingled.withColumnRenamed("_id", "id_b")
              .withColumnRenamed("_sh", "sh_b"), "id_b")
        .select("id_a", "id_b", jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signature(shingles_col, num_perm: int = 64) -> Column:
    """num_perm-wide MinHash signature over a *materialized* shingle-array
    column: per permutation p, the min xxhash64 of (shingle, p) — all
    JVM-side, no Python.

    Takes a column REFERENCE, not the shingle expression: embedding the
    shingling expression tree num_perm times explodes codegen compile time
    and recomputes the shingles per permutation. Stage the shingles with a
    select first (minhash_lsh_pairs does)."""
    sh = F.col(shingles_col) if isinstance(shingles_col, str) else shingles_col

    def perm_min(p):
        # closure factory (a default-arg lambda would receive the array
        # index as p — pyspark's 2-arg transform form)
        return F.array_min(F.transform(sh, lambda s: F.xxhash64(s, F.lit(p))))

    return F.array(*[perm_min(p) for p in range(num_perm)])


def _shingle_rows(docs: DataFrame, id_col: str, text_col: str,
                  n: int) -> DataFrame:
    """(_id, _g) — one row per word-``n``-gram shingle occurrence,
    whole-stage codegen end to end: explode the position index FIRST,
    then build each shingle string in the post-Generate projection. Row
    multiset per doc equals ``word_ngrams`` exactly, including its
    short-doc fallback (docs with < n tokens contribute ONE row with the
    whole-doc token join; empty/null text contributes one ``""`` row) —
    the equivalent array-building ``transform`` lambda is interpreted per
    element and ~5x slower (pinned in tests)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    toks = tokens(col)
    # position 0 marks the short-doc fallback shingle (real positions
    # are 1-based); slice() rejects start 0, hence the conditional
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array(F.lit(0)))
    return (
        docs.select(F.col(id_col).alias("_id"), toks.alias("_toks"),
                    F.explode(idx).alias("_i"))
        .select(
            "_id",
            F.when(
                F.col("_i") == 0, F.concat_ws(" ", F.col("_toks"))
            ).otherwise(
                F.concat_ws(" ", F.slice(F.col("_toks"), F.col("_i"), n))
            ).alias("_g"),
        )
    )


def _banded_buckets_from_rows(rows: DataFrame, num_perm: int,
                              bands: int) -> DataFrame:
    """(_id, band, bucket) LSH rows from exploded shingle-occurrence rows
    (``_shingle_rows`` output) — the shared banding kernel of
    minhash_lsh_pairs and the incremental index path (bucket = xxhash64
    of the band's signature slice; deterministic per doc, so index rows
    built batch-by-batch equal rows built corpus-at-once).

    The signature is one map-side-combinable aggregate: sig[p] =
    min(xxhash64(shingle, p)) per doc — the ``minhash_signature``
    definition verbatim (parity pinned in tests), but computed over
    exploded rows in whole-stage codegen with partial aggregation
    instead of num_perm interpreted array traversals per doc (the r5
    bench's dominant minhash cost). The only exchange carries one
    num_perm-wide row per doc."""
    rpb = num_perm // bands
    mins = rows.groupBy("_id").agg(
        *[F.min(F.xxhash64(F.col("_g"), F.lit(p))).alias(f"_m{p}")
          for p in range(num_perm)]
    )
    return mins.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",", *[F.col(f"_m{b * rpb + r}")
                                       for r in range(rpb)]
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", num_perm: int = 64,
                      bands: int = 16, shingle_n: int = 3,
                      shingled: DataFrame | None = None,
                      persist_tracker: list | None = None) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash-LSH.

    Scale shape: one narrow map producing (band, band_hash, id), one
    shuffle per groupBy on (band, band_hash) — skew-safe because identical
    band hashes ARE the candidates; self-join within buckets only. At
    10^10 docs the bucket join replaces an impossible O(n^2) cross join.

    ``persist_tracker`` persists the banded (_id, band, bucket) rows so
    the self-join's two sides share ONE signature computation (each side
    of a self-join re-executes its subtree otherwise); the caller
    unpersists after materializing. A supplied ``shingled`` ("_id", "_sh")
    table (usually persisted by the caller to share with the verify
    stage) is exploded into occurrence rows for the signature aggregate;
    otherwise the rows come straight from the codegen shingle scan."""
    if shingled is not None:
        rows = shingled.select("_id", F.explode("_sh").alias("_g"))
    else:
        rows = _shingle_rows(df, id_col, text_col, shingle_n)
    banded = _banded_buckets_from_rows(rows, num_perm, bands)
    banded = persist_into(banded, persist_tracker)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )


def minhash_dedup(df: DataFrame, threshold: float = 0.8, id_col: str = "doc_id",
                  text_col: str = "text", num_perm: int = 64, bands: int = 16,
                  shingle_n: int = 3, persist_tracker: list | None = None) -> DataFrame:
    """Candidates via LSH, verified with exact n-gram Jaccard >= threshold.

    With ``persist_tracker`` (a list) the shingle projection is computed
    ONCE and persisted — the LSH stage and the exact-verify stage all
    consume it, vs re-shingling the corpus per consumer (shingling is the
    dominant cost); the persisted DataFrame is appended to the list and the
    CALLER unpersists after materializing the result (no hidden cache
    lifetime). Without it nothing is persisted — correct, leak-free, ~40%
    slower. At 100 TB the analog is a materialized shingle/signature table
    written once per corpus snapshot."""
    shingled = df.select(
        F.col(id_col).alias("_id"), word_ngrams(text_col, shingle_n).alias("_sh")
    )
    shingled = persist_into(shingled, persist_tracker)
    cands = minhash_lsh_pairs(df, id_col, text_col, num_perm, bands, shingle_n,
                              shingled=shingled,
                              persist_tracker=persist_tracker)
    verified = ngram_jaccard_pairs(df, cands, shingle_n, id_col, text_col,
                                   shingled=shingled)
    return verified.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


@F.pandas_udf(T.LongType())
def _simhash_votes(hash_arrays: pd.Series) -> pd.Series:
    """Bit-vote + sign-assemble over per-token 64-bit hashes
    (numpy-vectorized; the hashes come from JVM xxhash64 so the result is
    deterministic across runs and engines)."""

    def sim(hashes) -> int:
        if hashes is None or len(hashes) == 0:
            return 0
        h = np.asarray(hashes, dtype=np.int64).astype(np.uint64)
        bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
            np.int64
        )
        votes = (2 * bits - 1).sum(axis=0)
        out = np.uint64(0)
        for b in np.nonzero(votes > 0)[0]:
            out |= np.uint64(1) << np.uint64(b)
        return int(out.astype(np.int64))

    return hash_arrays.map(sim)


def simhash_deterministic(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """Deterministic 64-bit SimHash, hybrid plan: token hashing stays
    JVM-side (codegen xxhash64 over the token array), the 64-bit voting runs
    numpy-vectorized in one Arrow batch hop. A pure-expression variant
    (nested aggregate over 64 bits) is interpreted per element and ~10x
    slower; a pure-Python variant re-hashes tokens with a non-portable
    hash."""
    toks = tokens(text_col)
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    return df.select(F.col(id_col), hashes.alias("_h")).select(
        F.col(id_col), _simhash_votes("_h").alias("simhash")
    )


def simhash_near_pairs(sim_df: DataFrame, prefix_bits: int = 16) -> DataFrame:
    """Candidate pairs whose simhash shares a high-bit prefix (bucketed
    self-join; refine with hamming distance via bit_count(xor))."""
    b = sim_df.withColumn("bucket", F.shiftright("simhash", 64 - prefix_bits))
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(r, (F.col("l.bucket") == F.col("r.bucket"))
               & (F.col("l.doc_id") < F.col("r.doc_id")))
        .select(
            F.col("l.doc_id").alias("id_a"),
            F.col("r.doc_id").alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------


@F.pandas_udf(T.StructType([
    T.StructField("dot", T.DoubleType()),
    T.StructField("na2", T.DoubleType()),
    T.StructField("nb2", T.DoubleType()),
]))
def _cosine_parts(a: pd.Series, b: pd.Series) -> pd.DataFrame:
    """(dot, |a|^2, |b|^2) per vector pair, numpy-vectorized with the
    EXACT left-fold summation order of the expression form it replaces
    (``aggregate(zip_with(a,b,*), 0.0, +)``): products/squares are IEEE
    mults, and ``np.cumsum`` is a sequential running sum, so every
    partial sum rounds identically to the JVM fold — bit-equal results
    (pinned in tests/test_curation_ops.py). A null array, a null
    element, or a length mismatch yields NULL parts (np.nan converts to
    Arrow null), matching zip_with's null padding and null-poisoned
    fold. Sole divergence: a (never-occurring-in-finite-data) NaN input
    element also yields NULL where the fold would carry NaN."""
    n = len(a)
    dot = np.full(n, np.nan)
    na2 = np.full(n, np.nan)
    nb2 = np.full(n, np.nan)
    av = a.tolist()
    bv = b.tolist()
    lens: dict = {}
    for i, (x, y) in enumerate(zip(av, bv)):
        if x is None or y is None:
            continue
        lens.setdefault((len(x), len(y)), []).append(i)
    for (la, lb), idxs in lens.items():
        if la != lb:
            # zip_with pads -> null product -> null-poisoned dot, which
            # nulls the cosine; NULL parts are observationally identical
            continue
        if la == 0:
            for i in idxs:
                dot[i] = na2[i] = nb2[i] = 0.0
            continue
        ma = np.asarray([av[i] for i in idxs], dtype=np.float64)
        mb = np.asarray([bv[i] for i in idxs], dtype=np.float64)
        dot[idxs] = np.cumsum(ma * mb, axis=1)[:, -1]
        na2[idxs] = np.cumsum(ma * ma, axis=1)[:, -1]
        nb2[idxs] = np.cumsum(mb * mb, axis=1)[:, -1]
    return pd.DataFrame({"dot": dot, "na2": na2, "nb2": nb2})


# non-deterministic marking is an optimizer fence, not a semantics claim:
# the function is pure, but without it a threshold filter on the derived
# cosine column is pushed below the projection and the UDF evaluates TWICE
# per pair — once for the filter, once for the output (guide §4.4 shape;
# plan pinned in tests/test_curation_ops.py)
_cosine_parts = _cosine_parts.asNondeterministic()


def cosine_similarity(a: Column, b: Column, decimals: int = 6) -> Column:
    """Cosine over array<float/double>. The per-element fold runs as ONE
    vectorized Arrow hop (``_cosine_parts`` — bit-equal to the
    ``aggregate``/``zip_with`` expression form, which the interpreter
    evaluates element-at-a-time ~10x slower on pair-verify volumes; marked
    non-deterministic so a filter on the result cannot duplicate the
    node); the scalar sqrt/divide/round stays JVM-side."""
    p = _cosine_parts(a, b)
    return F.round(
        p["dot"] / F.greatest(F.sqrt(p["na2"]) * F.sqrt(p["nb2"]),
                              F.lit(1e-12)),
        decimals,
    )


def embedding_near_dup(emb: DataFrame, threshold: float = 0.95,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       planes: int = 8, reps: int = 4, seed: int = 1337,
                       dim: int | None = None,
                       persist_tracker: list | None = None) -> DataFrame:
    """Near-duplicate embedding pairs via BANDED hyperplane LSH (the
    MinHash-band pattern): ``reps`` independent sign sketches of ``planes``
    bits each (one Arrow hop, one matmul per batch); a pair is a candidate
    if it collides in ANY rep; exact cosine verify once over the distinct
    candidates.

    Scale shape: per-rep buckets stay 2^planes-fine so within-bucket pair
    generation is O(sum |bucket|^2) with |bucket| ~ n/2^planes — recall is
    recovered by the union over reps instead of by coarsening buckets
    (a single coarse sketch makes bucket size, and thus pair count, grow
    quadratically with the corpus: the r2 scale risk this replaces).
    Collision probability at cosine c: 1-(1-(1-acos(c)/pi)^planes)^reps.
    Self-joins are on (rep, bucket) — identical band hashes ARE the
    candidates, so the shuffle key matches the work. ``dim`` pins the
    embedding dimension (inferred once from the data when omitted).

    ``persist_tracker`` persists the banded sketch rows so the
    self-join's two sides share ONE Arrow sketch hop (each side of a
    self-join re-executes its subtree otherwise); the caller unpersists
    after materializing."""
    from warcio_spark.operators.similarity import make_multi_sketch_udf

    if dim is None:
        row = emb.select(F.size(vec_col).alias("d")).filter(F.col("d") > 0).first()
        dim = int(row["d"]) if row else None
    multi = make_multi_sketch_udf(planes, reps, seed, dim)
    banded = emb.select(
        F.col(id_col).alias("_id"),
        F.posexplode(multi(F.col(vec_col))).alias("_rep", "_bucket"),
    ).filter(F.col("_bucket").isNotNull())
    banded = persist_into(banded, persist_tracker)
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (
        l.join(r, (F.col("l._rep") == F.col("r._rep"))
               & (F.col("l._bucket") == F.col("r._bucket"))
               & (F.col("l._id") < F.col("r._id")))
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    return (
        pairs.join(va, "id_a").join(vb, "id_b")
        .select(
            "id_a", "id_b",
            cosine_similarity(F.col("_va"), F.col("_vb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Pair clustering: near-dup PAIRS -> duplicate clusters -> canonical docs
# ---------------------------------------------------------------------------


def dup_clusters(pairs: DataFrame, left_col: str = "id_a",
                 right_col: str = "id_b") -> DataFrame:
    """(doc_id, cluster) for every doc appearing in a duplicate pair;
    ``cluster`` is the minimum doc_id in the transitive closure of the
    pair relation. This is what turns pair-producing dedup
    (minhash_lsh_pairs, simhash_near_pairs, embedding near-dup) into
    groups: near-duplication is not transitive, but dedup policy is
    (A~B and B~C must land in one group or a kept doc can still have a
    near-dup in the corpus). Runs plans.graph.connected_components —
    O(log n) star rounds, never a driver-side union-find."""
    return (
        connected_components(pairs, src_col=left_col, dst_col=right_col)
        .select(F.col("node").alias("doc_id"),
                F.col("component").alias("cluster"))
    )


def dedup_by_pairs(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                   left_col: str = "id_a",
                   right_col: str = "id_b") -> DataFrame:
    """Keep one canonical doc (the minimum id) per duplicate cluster:
    docs in no pair pass through untouched; docs in a cluster survive
    only if they ARE the cluster minimum. One broadcast-able anti-join
    against the (usually tiny relative to the corpus) non-canonical
    member list."""
    losers = dup_clusters(pairs, left_col, right_col).filter(
        F.col("doc_id") != F.col("cluster")
    ).select(F.col("doc_id").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def dedup_keep_best(df: DataFrame, pairs: DataFrame, score_col: str,
                    id_col: str = "doc_id", left_col: str = "id_a",
                    right_col: str = "id_b") -> DataFrame:
    """Keep the HIGHEST-``score_col`` doc per duplicate cluster (tie ->
    minimum id) instead of ``dedup_by_pairs``'s blind minimum-id policy —
    the production choice when duplicates differ in quality (keep the
    longest / best-scored capture of a mirrored page, drop the truncated
    ones).

    Scale shape: clusters come from the same O(log n) connected-components
    rounds; the score join and the winner pick run on the PAIR-PARTICIPANT
    table (tiny relative to the corpus), the winner per cluster is one
    map-combinable max_by aggregation (no per-cluster window, so a
    boilerplate mega-cluster costs one combiner chain, not one reducer),
    and the corpus-sized side is touched exactly once by the final
    anti-join of losers."""
    members = dup_clusters(pairs, left_col, right_col)
    scored = members.join(
        df.select(F.col(id_col).alias("__id"), F.col(score_col).alias("__score")),
        F.col("doc_id") == F.col("__id"),
    )
    winners = scored.groupBy("cluster").agg(
        F.max_by(
            "doc_id",
            F.struct(F.col("__score"), (-F.col("doc_id")).alias("__nid")),
        ).alias("__keep")
    )
    losers = (
        scored.join(winners, "cluster")
        .filter(F.col("doc_id") != F.col("__keep"))
        .select(F.col("doc_id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def boilerplate_strip(df: DataFrame, min_docs: int = 3,
                      text_col: str = "text", id_col: str = "doc_id",
                      scope_col: str = "source",
                      sep: str = "\n") -> DataFrame:
    """Scoped boilerplate-line removal (the CCNet/C4-adjacent cleanup for
    nav bars, cookie banners, footers): a line is boilerplate within a
    scope (site/host/source shard) when it appears in >= ``min_docs``
    DISTINCT documents of that scope; boilerplate lines are dropped and
    documents reassembled from the survivors in original order. Differs
    from ``dedup_lines`` (corpus-wide keep-first): here NO occurrence
    survives once the line crosses the threshold, and lines below it
    keep every occurrence. Empty lines count like any other (they cross
    the threshold immediately in multi-doc scopes — by design; the
    reassembly seam collapses them).

    Returns one row per input doc: (id_col, text_clean, n_lines_in,
    n_lines_kept).

    Scale shape: posexplode (no shuffle) → distinct on (scope, line-md5,
    doc) + count >= K (two partial-aggregated shuffles on uniform hash
    keys) → one join back on (scope, line-md5) → one groupBy(id)
    reassembly. Line text never shuffles into the frequency side — only
    its md5 does. No Python anywhere.
    """
    lines = df.select(
        F.col(id_col),
        F.col(scope_col).alias("_scope"),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "line"),
    ).withColumn("_lh", F.md5(F.col("line")))
    boiler = (
        lines.select("_scope", "_lh", id_col).distinct()
        .groupBy("_scope", "_lh")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_scope", "_lh", F.lit(True).alias("_boiler"))
    )
    kept = (
        lines.join(boiler, ["_scope", "_lh"], "left")
        .withColumn("_keep", F.col("_boiler").isNull())
    )
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lines_in"),
        F.sum(F.col("_keep").cast("long")).alias("n_lines_kept"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_keep"),
                               F.struct(F.col("pos"), F.col("line")))
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("text_clean"),
    ).select(id_col, "text_clean", "n_lines_in", "n_lines_kept")


def minhash_band_index(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_perm: int = 64,
                       bands: int = 16, shingle_n: int = 3) -> DataFrame:
    """The persistent LSH index of a corpus: one (id, band, bucket) row per
    band per doc, built with the SAME banding kernel as minhash_lsh_pairs —
    bucket hashes are deterministic per doc, so index rows appended batch
    by batch equal rows built corpus-at-once.

    At 10^10 docs this table is what makes dedup INCREMENTAL: write it once
    (bucketed/partitioned by (band, bucket % K) so probes prune), then each
    new ingest batch runs minhash_dedup_incremental against it instead of
    re-shingling the whole corpus. Appending the new batch's rows (this
    function on the batch) keeps the index current — no global rebuild."""
    return _banded_buckets_from_rows(
        _shingle_rows(df, id_col, text_col, shingle_n), num_perm, bands
    ).select(F.col("_id").alias(id_col), "band", "bucket")


def minhash_dedup_incremental(new_docs: DataFrame, corpus_docs: DataFrame,
                              index: DataFrame | None = None,
                              threshold: float = 0.8,
                              id_col: str = "doc_id", text_col: str = "text",
                              num_perm: int = 64, bands: int = 16,
                              shingle_n: int = 3) -> DataFrame:
    """Near-dup detection of a NEW batch against an EXISTING corpus — the
    incremental-ingest path: band only the batch (O(batch), the corpus is
    never re-shingled), probe the corpus ``index`` (minhash_band_index
    output; built here from corpus_docs when not supplied) with one
    (band, bucket) equi-join, then exact-verify candidates by n-gram
    Jaccard against just the matched corpus docs. Returns one row per
    flagged new doc: (new_id, dup_of, jaccard) with ``dup_of`` the
    smallest matching corpus id at the best (highest) Jaccard.

    Scale shape: the join is keyed on (band, bucket) — against a stored
    index bucketed on that key the batch side shuffles O(batch*bands) rows
    and the corpus side prunes to touched buckets; the verify stage joins
    the candidate sliver against the RAW doc tables and shingles AFTER
    the join, so exact-verify shingle arrays are built only for candidate
    rows — the batch/corpus are never array-shingled wholesale (banding
    consumes codegen occurrence rows, not arrays). Candidates equal the
    cross-boundary subset of minhash_lsh_pairs(corpus ∪ batch) exactly
    (pinned in pytest), so incremental == batch-at-once for
    new-vs-corpus pairs."""
    new_banded = _banded_buckets_from_rows(
        _shingle_rows(new_docs, id_col, text_col, shingle_n),
        num_perm, bands)
    if index is None:
        index = minhash_band_index(corpus_docs, id_col, text_col,
                                   num_perm, bands, shingle_n)
    cand = (
        new_banded.alias("n")
        .join(
            index.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bucket") == F.col("c.bucket")),
        )
        .select(F.col("n._id").alias("new_id"),
                F.col("c." + id_col).alias("corpus_id"))
        .distinct()
    )
    new_txt = new_docs.select(F.col(id_col).alias("new_id"),
                              F.col(text_col).alias("_ntxt"))
    corp_txt = corpus_docs.select(F.col(id_col).alias("corpus_id"),
                                  F.col(text_col).alias("_ctxt"))
    verified = (
        cand.join(new_txt, "new_id")
        .join(corp_txt, "corpus_id")
        .select(
            "new_id", "corpus_id",
            jaccard(word_ngrams(F.col("_ntxt"), shingle_n),
                    word_ngrams(F.col("_ctxt"), shingle_n)).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("new_id").orderBy(
        F.desc("jaccard"), F.asc("corpus_id"))
    return (
        verified.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("new_id"), F.col("corpus_id").alias("dup_of"), "jaccard")
    )


def simhash_incremental(new_docs: DataFrame, corpus_sim: DataFrame,
                        prefix_bits: int = 16, max_hamming: int = 3,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """SimHash near-dup detection of a NEW batch against a STORED corpus
    simhash table (``simhash_deterministic`` output — trivially appendable
    batch by batch since the signature is per-doc deterministic): simhash
    ONLY the batch, probe the table with one high-bit-prefix equi-join
    (the ``simhash_near_pairs`` bucketing), verify by hamming distance
    (bit_count of xor — pure codegen). Returns one row per flagged new
    doc: (new_id, dup_of, hamming) with ``dup_of`` the corpus id at the
    smallest hamming (tie -> min id). The flagged set equals the
    cross-boundary subset of simhash_near_pairs over corpus ∪ batch at
    the same prefix/threshold (pinned in pytest).

    Scale shape: per-batch cost is O(batch) signatures + one equi-join
    keyed on the 2^prefix_bits-value bucket — against a table partitioned
    by bucket the probe prunes to touched buckets; the corpus is never
    re-tokenized."""
    new_sim = simhash_deterministic(new_docs, id_col, text_col).select(
        F.col(id_col).alias("new_id"), F.col("simhash").alias("_ns"))
    corp = corpus_sim.select(F.col(id_col).alias("dup_of"),
                             F.col("simhash").alias("_cs"))
    shift = 64 - prefix_bits

    # Every expression over the signatures is coalesce-wrapped so it is
    # provably non-null. Otherwise Catalyst infers isnotnull(_ns)/
    # isnotnull(_cs) from the join keys and the hamming filter and pushes
    # those predicates below the projections — re-inlining the simhash
    # UDF so BOTH sides evaluate twice (4 ArrowEvalPython nodes instead
    # of 2; plan pinned in tests). Null signatures (null text) key to a
    # sentinel per side (~0 vs 0, so null can never match null) and carry
    # hamming 64 -> dropped by the threshold, exactly the rows the
    # implicit isnotnull filters removed.
    ns = F.coalesce(F.col("_ns"), F.lit(-1))   # all-ones sentinel
    cs = F.coalesce(F.col("_cs"), F.lit(0))
    cand = (
        new_sim.withColumn("_b", F.shiftright(ns, shift))
        .join(corp.withColumn("_b", F.shiftright(cs, shift)), "_b")
        .select(
            "new_id", "dup_of",
            F.bit_count(ns.bitwiseXOR(cs)).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("new_id").orderBy(F.asc("hamming"), F.asc("dup_of"))
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("new_id", "dup_of", "hamming")
    )


# ---------------------------------------------------------------------------
# content-defined chunking (FastCDC-style gear hash) — block-level dedup
# ---------------------------------------------------------------------------

def _gear_table() -> np.ndarray:
    """256 deterministic pseudo-random uint64 gear values via a fixed-seed
    64-bit LCG (Knuth MMIX constants) — no RNG state, identical on every
    executor and every run."""
    vals = np.empty(256, dtype=np.uint64)
    x, a, c, m = 0x9E3779B97F4A7C15, 6364136223846793005, 1442695040888963407, (1 << 64) - 1
    for i in range(256):
        x = (x * a + c) & m
        vals[i] = x
    return vals


_GEAR = _gear_table()
# boundary when these 6 bits (taken high enough that ~64 preceding bytes
# feed them through the <<1 gear recurrence) are all zero -> ~64-byte
# average chunks on top of the min/max clamps
_CDC_SHIFT = np.uint64(40)
_CDC_MASK = np.uint64(0x3F)


def _cdc_boundaries(data: bytes, min_len: int, max_len: int) -> list:
    """Cut positions (exclusive ends) for FastCDC-style chunking: gear
    rolling hash h = (h<<1) + GEAR[byte], cut where ((h >> 40) & 0x3F) == 0,
    clamped to [min_len, max_len]. The rolling hash is computed vectorized
    (64 shifted-add passes, since contributions vanish after 64 shifts);
    only the sparse boundary walk is a Python loop."""
    n = len(data)
    if n == 0:
        return []
    arr = _GEAR[np.frombuffer(data, dtype=np.uint8)]
    h = np.zeros(n, dtype=np.uint64)
    for j in range(min(64, n)):
        h[j:] += arr[: n - j] << np.uint64(j)
    marks = np.nonzero(((h >> _CDC_SHIFT) & _CDC_MASK) == 0)[0]
    cuts, start, mi = [], 0, 0
    while start < n:
        limit = min(start + max_len, n)
        lo = start + min_len
        cut = limit
        while mi < len(marks) and marks[mi] < lo - 1:
            mi += 1
        k = mi
        while k < len(marks) and marks[k] + 1 <= limit:
            if marks[k] + 1 >= lo:
                cut = marks[k] + 1
                break
            k += 1
        cuts.append(cut)
        start = cut
    return cuts


def cdc_chunk_hashes(text_col, min_len: int = 32, max_len: int = 256):
    """array<long> of content-defined chunk hashes (blake2b-64 of chunk
    bytes) for a text column — one Arrow hop. Content-defined means a
    local edit only disturbs the chunks it touches: the surrounding
    chunk hashes are identical across document versions, so block-level
    dedup survives insertions that shift byte offsets (where fixed-size
    blocks would all change)."""
    import hashlib

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _udf(texts: pd.Series) -> pd.Series:
        def chunks(s):
            if s is None:
                return None
            data = s.encode("utf-8")
            out, start = [], 0
            for cut in _cdc_boundaries(data, min_len, max_len):
                d = hashlib.blake2b(data[start:cut], digest_size=8).digest()
                out.append(int.from_bytes(d, "big", signed=True))
                start = cut
            return out
        return texts.map(chunks)

    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return _udf(col)


def cdc_shared_chunks(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", min_len: int = 32,
                      max_len: int = 256) -> DataFrame:
    """Per-doc block-level dedup stats: n_chunks, n_shared (chunk
    occurrences whose hash also appears in ANOTHER doc), shared_ratio.
    Scale shape: the Arrow chunking hop runs ONCE (the explode collapses
    straight into a (_id, _h) occurrence aggregate, so no branch re-reads
    the UDF output — a join-back formulation evaluated the chunking
    twice); then one count window on the hash (distinct-doc rows by
    construction, no sort) and one final doc_id agg. No pairwise work:
    cost is O(total chunks), never O(docs^2)."""
    from pyspark.sql import Window

    vid = F.col(id_col)
    chunked = docs.select(
        vid.alias("_id"),
        cdc_chunk_hashes(text_col, min_len, max_len).alias("_ch"))
    # explode_outer, NOT explode: plain explode injects a size(_ch)>0
    # pre-filter that Catalyst pushes below the projection, re-inlining
    # the chunking UDF into a second ArrowEvalPython node (the whole
    # corpus chunked twice). The outer variant needs no pre-filter; the
    # null-row drop below references the GENERATED column, so it cannot
    # sink past the Generate and the UDF runs exactly once (plan pinned
    # in tests/test_cdc.py).
    occ = (
        chunked.select("_id", F.explode_outer("_ch").alias("_h"))
        .filter(F.col("_h").isNotNull())
        .groupBy("_id", "_h")
        .agg(F.count(F.lit(1)).alias("_occ"))
    )
    w = Window.partitionBy("_h")
    return (
        occ.withColumn("_docs", F.count(F.lit(1)).over(w))
        .groupBy(F.col("_id").alias(id_col))
        .agg(
            F.sum("_occ").cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("_docs") > 1, F.col("_occ")).otherwise(0))
            .cast("long").alias("n_shared"),
        )
        .withColumn(
            "shared_ratio",
            F.round(F.col("n_shared") / F.greatest("n_chunks", F.lit(1)), 4))
    )


def embedding_band_index(emb: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding", planes: int = 8,
                         reps: int = 4, seed: int = 1337,
                         dim: int | None = None) -> DataFrame:
    """(_id, _rep, _bucket) banded hyperplane-LSH rows for an embedding
    corpus — the storable/appendable probe target of
    ``embedding_near_dup_incremental``. Sketches are deterministic per
    row (seeded plane matrix), so index rows built batch-by-batch equal
    one corpus-at-once build; persist partitioned by (_rep, _bucket)
    and batch probes prune to touched buckets."""
    from warcio_spark.operators.similarity import make_multi_sketch_udf

    if dim is None:
        row = emb.select(F.size(vec_col).alias("d")).filter(F.col("d") > 0).first()
        dim = int(row["d"]) if row else None
    multi = make_multi_sketch_udf(planes, reps, seed, dim)
    return emb.select(
        F.col(id_col).alias("_id"),
        F.posexplode(multi(F.col(vec_col))).alias("_rep", "_bucket"),
    ).filter(F.col("_bucket").isNotNull())


def embedding_near_dup_incremental(new_emb: DataFrame, corpus_emb: DataFrame,
                                   threshold: float = 0.95,
                                   id_col: str = "vec_id",
                                   vec_col: str = "embedding",
                                   planes: int = 8, reps: int = 4,
                                   seed: int = 1337, dim: int | None = None,
                                   index: DataFrame | None = None) -> DataFrame:
    """Embedding near-dup detection of a NEW batch against a STORED corpus
    (the embedding member of the incremental trio, with
    ``minhash_dedup_incremental`` / ``simhash_incremental``): sketch ONLY
    the batch, probe the corpus band index on (_rep, _bucket), distinct
    the candidate (new, corpus) pairs, exact-cosine verify once, keep the
    best corpus match per new id (max cosine, tie -> min id). Flags equal
    the cross-boundary subset of ``embedding_near_dup`` over corpus ∪
    batch at the same planes/reps/threshold (pinned in pytest).

    Scale shape: per-batch cost is O(batch) sketches + an equi-join
    against the (appendable) index + |candidates| exact verifies; the
    corpus is never re-sketched. Pass ``index`` to probe a persisted
    ``embedding_band_index`` table (bucket-partition-prunable); vectors
    for the verify come from ``corpus_emb`` by id either way."""
    if dim is None:
        row = (corpus_emb.select(F.size(vec_col).alias("d"))
               .filter(F.col("d") > 0).first())
        dim = int(row["d"]) if row else None
    if index is None:
        index = embedding_band_index(corpus_emb, id_col, vec_col,
                                     planes, reps, seed, dim)
    new_bands = embedding_band_index(new_emb, id_col, vec_col,
                                     planes, reps, seed, dim).select(
        F.col("_id").alias("new_id"), "_rep", "_bucket")
    cand = (
        new_bands.join(index, ["_rep", "_bucket"])
        .select("new_id", F.col("_id").alias("dup_of"))
        .distinct()
    )
    va = new_emb.select(F.col(id_col).alias("new_id"),
                        F.col(vec_col).alias("_va"))
    vb = corpus_emb.select(F.col(id_col).alias("dup_of"),
                           F.col(vec_col).alias("_vb"))
    from pyspark.sql import Window

    w = Window.partitionBy("new_id").orderBy(F.desc("cosine"), F.asc("dup_of"))
    return (
        cand.join(va, "new_id").join(vb, "dup_of")
        .select("new_id", "dup_of",
                cosine_similarity(F.col("_va"), F.col("_vb")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("new_id", "dup_of", "cosine")
    )
