"""Similarity search over embedding columns (array<float>).

- cosine_topk: brute-force exact top-k — one scan, one small top-k agg;
  correct baseline at any scale that can afford the scan
- lsh_topk: random-hyperplane bucketed candidate scan — the 100 TB path:
  probes only matching buckets (partition pruning if the table is written
  bucketed/partitioned by sketch prefix), recall traded via probe radius
- ivf_topk: coarse-quantizer variant (train k centroids on a sample,
  probe the nprobe nearest cells)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from warcio_spark.operators.dedup import cosine_similarity


def _query_lit(query_vec) -> "F.Column":
    return F.array(*[F.lit(float(v)) for v in query_vec])


def cosine_topk(emb: DataFrame, query_vec, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact brute-force cosine top-k: JVM-side zip_with/aggregate dot
    product, global top-k via orderBy+limit (Spark runs TakeOrderedAndProject
    — per-partition heaps, no full sort shuffle)."""
    q = _query_lit(query_vec)
    scored = emb.select(
        F.col(id_col),
        cosine_similarity(F.col(vec_col), q).alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def _plane_matrix(planes_total: int, dim: int, seed: int):
    return np.random.RandomState(seed).choice(
        np.array([-1.0, 1.0]), size=(planes_total, dim)
    )


def _sketch_batch(vals, planes: int, reps: int, seed: int,
                  dim: int | None, P0):
    """Shared Arrow-batch core for the sign-sketch UDFs: one matmul of the
    valid rows against the seeded +-1 plane matrix, returning an object
    array where each valid row is a list of ``reps`` bucket strings and
    NULL/wrong-length rows are None. Masking is per-row: one bad embedding
    must not turn the whole batch into a ragged array (ndim != 2) and
    silently NULL every bucket in it. With ``dim`` unset, the dimension is
    inferred per batch (majority length) — ad-hoc fallback only; library
    call paths always pass dim so bucketing is partitioning-invariant."""
    lens = [len(v) if v is not None else -1 for v in vals]
    if P0 is not None:
        d, P = dim, P0
    else:
        from collections import Counter

        positive = Counter(ln for ln in lens if ln > 0)
        if not positive:
            return np.full(len(vals), None, dtype=object)
        d = positive.most_common(1)[0][0]
        P = _plane_matrix(reps * planes, d, seed)
    valid = np.array([ln == d for ln in lens]) if lens else np.zeros(0, bool)
    out = np.full(len(vals), None, dtype=object)
    if valid.any():
        arr = np.array([v for v, ok in zip(vals, valid) if ok], dtype=np.float64)
        bits = (arr @ P.T) > 0  # (n, reps*planes)
        digits = bits.astype(np.uint8).astype("U1")
        joined = np.empty(len(digits), dtype=object)
        joined[:] = [
            ["".join(row[i * planes:(i + 1) * planes]) for i in range(reps)]
            for row in digits
        ]
        out[valid] = joined
    return out


def make_sketch_udf(planes: int = 8, seed: int = 1337, dim: int | None = None):
    """Deterministic random-hyperplane sign sketch as a string bucket key —
    the reps=1 specialization of the shared core (the (planes, dim) matrix
    drawn here is bit-identical to the pre-refactor one: RandomState draws
    don't depend on the reps factor when reps == 1).

    numpy-vectorized pandas UDF: the whole Arrow batch becomes one matrix
    multiply — the earlier expression-tree variant (per-plane interpreted
    zip_with/aggregate) was ~50x slower. Both sides of any bucket join must
    use the SAME (planes, seed, dim) so the plane matrix matches.
    """
    P0 = _plane_matrix(planes, dim, seed) if dim is not None else None

    @F.pandas_udf(T.StringType())
    def sketch_udf(vecs: pd.Series) -> pd.Series:
        rows = _sketch_batch(vecs.tolist(), planes, 1, seed, dim, P0)
        return pd.Series(
            [r[0] if r is not None else None for r in rows], dtype="object"
        )

    return sketch_udf


def sketch(vec_col, planes: int = 8, seed: int = 1337, dim: int | None = None):
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return make_sketch_udf(planes, seed, dim)(col)


def make_multi_sketch_udf(planes: int, reps: int, seed: int = 1337,
                          dim: int | None = None):
    """``reps`` independent sign sketches in ONE Arrow hop: a single seeded
    (reps*planes, dim) matrix, one matmul per batch, rep i = bit rows
    [i*planes, (i+1)*planes). Returns array<string> of length ``reps``
    (NULL for NULL/wrong-length vectors). The banded building block for
    embedding_near_dup — recall comes from unioning collisions across reps
    while each rep's bucket stays 2^planes-fine."""
    P0 = _plane_matrix(reps * planes, dim, seed) if dim is not None else None

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def multi_sketch_udf(vecs: pd.Series) -> pd.Series:
        return pd.Series(
            _sketch_batch(vecs.tolist(), planes, reps, seed, dim, P0),
            dtype="object",
        )

    return multi_sketch_udf


def lsh_topk(emb: DataFrame, query_vec, k: int = 10, planes: int = 8,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k: score only vectors whose sketch matches the query's.

    At 100 TB the sketch is a partition column of the stored table
    (write_embeddings_sketched + lsh_topk_pruned) and the filter prunes at
    the source; this variant recomputes sketches in-query for ad-hoc use."""
    qsketch = query_sketch(query_vec, planes)

    q = _query_lit(query_vec)
    cand = emb.filter(
        sketch(vec_col, planes, dim=len(query_vec)) == F.lit(qsketch)
    )
    scored = cand.select(F.col(id_col), cosine_similarity(F.col(vec_col), q).alias("cosine"))
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def query_sketch(query_vec, planes: int = 8, seed: int = 1337) -> str:
    """Driver-side sketch of one query vector — numpy replica of
    make_sketch_udf (same RandomState(seed) plane matrix, same float64
    math), so a probe key computed here matches table-side buckets exactly."""
    arr = np.asarray(list(map(float, query_vec)), dtype=np.float64)[None, :]
    rng = np.random.RandomState(seed)
    P = rng.choice(np.array([-1.0, 1.0]), size=(planes, arr.shape[1]))
    bits = (arr @ P.T) > 0
    return "".join(bits.astype(np.uint8).astype("U1")[0])


def write_embeddings_sketched(emb: DataFrame, path: str, planes: int = 8,
                              seed: int = 1337, vec_col: str = "embedding",
                              dim: int | None = None) -> None:
    """Materialize the LSH sketch as a PARTITION COLUMN of the stored table —
    the 100 TB layout: a probe filters on sketch and the scan prunes to the
    matching bucket directories instead of recomputing sketches over the
    whole table per query (which made query-time lsh_topk the slowest bench
    query). One pass over the embeddings; 2^planes output partitions.

    ``dim`` pins the embedding dimension (rows of any other length get a
    NULL sketch — partitioning-invariant bucketing); inferred once from the
    data when omitted."""
    if dim is None:
        row = emb.select(F.size(vec_col).alias("d")).filter(F.col("d") > 0).first()
        dim = int(row["d"]) if row else None
    out = emb.withColumn("sketch", sketch(vec_col, planes, seed, dim))
    out.write.partitionBy("sketch").mode("overwrite").parquet(path)


def lsh_topk_pruned(spark, path: str, query_vec, k: int = 10, planes: int = 8,
                    seed: int = 1337, id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k over a sketch-partitioned embeddings table: the
    sketch equality predicate is a partition filter (no data read outside
    the query's bucket), then exact cosine + TakeOrderedAndProject."""
    qsketch = query_sketch(query_vec, planes, seed)
    q = _query_lit(query_vec)
    cand = spark.read.parquet(path).filter(F.col("sketch") == qsketch)
    scored = cand.select(
        F.col(id_col), cosine_similarity(F.col(vec_col), q).alias("cosine")
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def ivf_topk(emb: DataFrame, query_vec, k: int = 10, n_cells: int = 16,
             nprobe: int = 2, sample_frac: float = 0.1, seed: int = 42,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF-style ANN: k-means-ish centroids from a deterministic sample
    (one pass, driver-side tiny), assign rows to nearest centroid (JVM
    expression), probe the nprobe cells nearest the query.

    The assign expression is a literal centroid table folded into codegen —
    no shuffle at query time; at scale the cell id is a partition column.
    """
    import numpy as np

    rows = (
        emb.sample(fraction=min(1.0, sample_frac), seed=seed)
        .select(vec_col)
        .limit(n_cells * 50)
        .collect()
    )
    X = np.array([r[0] for r in rows], dtype=np.float64)
    rng = np.random.RandomState(seed)
    centroids = X[rng.choice(len(X), size=min(n_cells, len(X)), replace=False)]
    for _ in range(5):  # few Lloyd iterations, driver-side on the sample
        d = ((X[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(centroids)):
            pts = X[assign == c]
            if len(pts):
                centroids[c] = pts.mean(axis=0)

    def dist2_expr(vec, c):
        arr = F.array(*[F.lit(float(v)) for v in c])
        return F.aggregate(
            F.zip_with(vec, arr, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    vec = F.col(vec_col)
    cell = F.lit(0)
    best = dist2_expr(vec, centroids[0])
    for ci in range(1, len(centroids)):
        d = dist2_expr(vec, centroids[ci])
        cell = F.when(d < best, F.lit(ci)).otherwise(cell)
        best = F.least(best, d)

    qd = ((centroids - np.array(query_vec, dtype=np.float64)) ** 2).sum(axis=1)
    probe_cells = [int(c) for c in qd.argsort()[:nprobe]]

    q = _query_lit(query_vec)
    cand = emb.withColumn("_cell", cell).filter(F.col("_cell").isin(probe_cells))
    scored = cand.select(F.col(id_col), cosine_similarity(vec, q).alias("cosine"))
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def knn_join(left: DataFrame, right: DataFrame, k: int = 5, planes: int = 6,
             id_left: str = "vec_id", id_right: str = "vec_id",
             vec_left: str = "embedding", vec_right: str = "embedding",
             dim: int | None = None) -> DataFrame:
    """Bucketed approximate kNN join: pairs share a sketch bucket, ranked by
    cosine per left id (windowed top-k — no cross join). ``dim`` pins the
    embedding dimension for both sides' sketches (inferred once from the
    left side when omitted)."""
    from pyspark.sql import Window

    if dim is None:
        row = left.select(F.size(vec_left).alias("d")).filter(F.col("d") > 0).first()
        dim = int(row["d"]) if row else None
    l = left.select(F.col(id_left).alias("lid"), F.col(vec_left).alias("lv"),
                    sketch(vec_left, planes, dim=dim).alias("b"))
    r = right.select(F.col(id_right).alias("rid"), F.col(vec_right).alias("rv"),
                     sketch(vec_right, planes, dim=dim).alias("b"))
    pairs = l.join(r, "b").filter(F.col("lid") != F.col("rid"))
    scored = pairs.select(
        "lid", "rid", cosine_similarity(F.col("lv"), F.col("rv")).alias("cosine")
    )
    w = Window.partitionBy("lid").orderBy(F.desc("cosine"), F.asc("rid"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def centroid_outliers(emb: DataFrame, k: int = 10, buckets: int = 16,
                      group_col: str = "label", id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Per-group embedding outliers: rank every vector by cosine to its own
    group's centroid (ascending — most dissimilar first) and keep the bottom
    ``k`` per group. The corpus-curation use: mislabeled / off-topic /
    poisoned rows sit far from their cluster's mean and surface here before
    they pollute a training mix.

    Scale shape (100 TB): the centroid is ONE posexplode into a
    partial-aggregated groupBy on (group, position) — n×dim rows map-side
    combined down to |groups|×dim — then rebuilt per group with
    array_sort(collect_list(struct)) into a |groups|-row table that
    BROADCASTS back onto the scan; the cosine is the JVM zip_with/aggregate
    kernel (no Python in the loop). The bottom-k is
    ``plans.prefix.group_top_k`` over id-hash buckets, so a handful of
    giant groups never serialize through one reducer.
    """
    from warcio_spark.plans.prefix import group_top_k

    grp, vid, vec = F.col(group_col), F.col(id_col), F.col(vec_col)
    means = (
        emb.select(grp, F.posexplode(vec))
        .groupBy(group_col, "pos")
        .agg(F.avg(F.col("col").cast("double")).alias("m"))
    )
    cents = means.groupBy(group_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("_centroid")
    )
    scored = emb.join(F.broadcast(cents), group_col).select(
        vid, grp, cosine_similarity(vec, F.col("_centroid")).alias("centroid_cosine")
    )
    return group_top_k(
        scored, [group_col], [F.asc("centroid_cosine"), F.asc(id_col)], k,
        F.pmod(F.xxhash64(vid), F.lit(buckets)), "outlier_rank",
    )
