"""Similarity-search operators: exact top-k sanity, LSH recall on planted
near-duplicates, kNN join shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F


def make_embeddings(spark, n=400, dim=32, seed=9, planted_pairs=12):
    """Random unit vectors + planted near-duplicate pairs (cosine > 0.99)."""
    rng = np.random.RandomState(seed)
    X = rng.randn(n, dim)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    dup_of = {}
    for k in range(planted_pairs):
        a, b = 2 * k, 2 * k + 1
        X[b] = X[a] + rng.randn(dim) * 0.01
        X[b] /= np.linalg.norm(X[b])
        dup_of[b] = a
    rows = [(i, [float(v) for v in X[i]], i % 5) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    return df, X, dup_of


def test_cosine_topk_exact(spark):
    from warcio_spark.operators.similarity import cosine_topk

    df, X, _ = make_embeddings(spark)
    q = X[0]
    got = [r.vec_id for r in cosine_topk(df.filter("vec_id <> 0"), q, k=5).collect()]
    sims = X @ q
    want = [int(i) for i in np.argsort(-sims) if i != 0][:5]
    assert got == want
    assert got[0] == 1  # the planted near-dup of vector 0


def test_lsh_topk_recall(spark):
    from warcio_spark.operators.similarity import cosine_topk, lsh_topk

    df, X, _ = make_embeddings(spark)
    q = X[0]
    exact = {r.vec_id for r in cosine_topk(df.filter("vec_id <> 0"), q, k=5).collect()}
    approx = {r.vec_id for r in lsh_topk(df.filter("vec_id <> 0"), q, k=5, planes=4).collect()}
    # the near-identical planted dup must share all hyperplane signs
    assert 1 in approx
    assert len(exact & approx) >= 1


def test_embedding_near_dup_finds_planted(spark):
    from warcio_spark.operators.dedup import embedding_near_dup

    df, X, dup_of = make_embeddings(spark)
    pairs = {(r.id_a, r.id_b)
             for r in embedding_near_dup(df, threshold=0.98, planes=6).collect()}
    planted = {(a, b) for b, a in dup_of.items()}
    # near-identical vectors agree on every hyperplane -> all planted pairs land
    assert planted <= pairs
    # and nothing below threshold sneaks in
    for a, b in pairs:
        assert float(X[a] @ X[b]) >= 0.975


def test_sketch_udf_masks_ragged_rows(spark):
    """A NULL or wrong-length embedding must only NULL its own bucket, not
    the whole Arrow batch (regression: np.array over ragged input)."""
    from pyspark.sql import functions as F

    from warcio_spark.operators.similarity import sketch

    rows = [
        (0, [1.0, 2.0, 3.0, 4.0]),
        (1, None),
        (2, [1.0, 2.0]),            # wrong length
        (3, [-1.0, 2.0, -3.0, 4.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>") \
        .repartition(1)
    got = {r.vec_id: r.b for r in
           df.select("vec_id", sketch("embedding", planes=4).alias("b")).collect()}
    assert got[1] is None and got[2] is None
    assert got[0] is not None and len(got[0]) == 4
    assert got[3] is not None and len(got[3]) == 4


def test_lsh_topk_pruned_matches_inline_and_prunes(spark, tmp_path):
    """The materialized sketch-partitioned table returns exactly the inline
    lsh_topk result, and its physical plan prunes partitions at the source
    (PartitionFilters on sketch) — the 100 TB probe layout."""
    import numpy as np
    from pyspark.sql import functions as F

    from warcio_spark.operators.similarity import (
        lsh_topk,
        lsh_topk_pruned,
        query_sketch,
        sketch,
        write_embeddings_sketched,
    )

    rng = np.random.RandomState(7)
    rows = [(i, rng.randn(16).astype(float).tolist()) for i in range(400)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .repartition(4)
    qvec = rows[0][1]

    path = str(tmp_path / "sketched")
    write_embeddings_sketched(emb.filter(F.col("vec_id") != 0), path, planes=4)

    got = lsh_topk_pruned(spark, path, qvec, k=5, planes=4).collect()
    want = lsh_topk(emb.filter(F.col("vec_id") != 0), qvec, k=5, planes=4).collect()
    assert [(r.vec_id, r.cosine) for r in got] == [(r.vec_id, r.cosine) for r in want]
    assert len(got) > 0

    # driver-side query sketch equals the UDF's sketch of the same vector
    table_side = (
        spark.createDataFrame([(qvec,)], "embedding array<double>")
        .select(sketch("embedding", planes=4).alias("s")).first().s
    )
    assert query_sketch(qvec, planes=4) == table_side

    plan = lsh_topk_pruned(spark, path, qvec, k=5, planes=4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(sketch" in plan, plan[:2000]


def test_embedding_near_dup_banded_recall_vs_bruteforce(spark):
    """Banded LSH recall at the suite query's parameters (planes=8, reps=4)
    must beat the old single-coarse-sketch recall on moderately-similar
    pairs, and bucket fan-out must stay 2^planes-fine (the scale property
    the banding buys)."""
    from warcio_spark.operators.dedup import cosine_similarity, embedding_near_dup

    df, X, _ = make_embeddings(spark, n=300, dim=32, planted_pairs=10)
    sims = X @ X.T
    iu = np.triu_indices(len(X), k=1)

    def run(thr, planes, reps):
        want = {(int(a), int(b)) for a, b in zip(*iu) if sims[a, b] >= thr}
        got = {(r.id_a, r.id_b)
               for r in embedding_near_dup(df, threshold=thr,
                                           planes=planes, reps=reps).collect()}
        assert got <= want  # exact verify: no false positives ever
        return len(got & want) / max(1, len(want))

    # near-dup regime (the operator's contract): full recall at the suite
    # query's parameters — the old coarse planes=4 single sketch scored
    # 1.0 here too, so this is the equal-or-better gate
    assert run(0.9, 8, 4) == 1.0
    # banding property at fixed bucket fineness: unioning reps strictly
    # lifts recall on moderately-similar pairs vs one rep of the same
    # 2^8-fine sketch (recall = 1-(1-p^planes)^reps)
    r1 = run(0.5, 8, 1)
    r4 = run(0.5, 8, 4)
    assert r4 > r1, (r1, r4)


def test_multi_sketch_dim_pinned_invariance(spark):
    """With dim pinned, mixed-length embeddings get NULL buckets exactly for
    wrong-length rows, independent of batch/partition composition."""
    from warcio_spark.operators.similarity import make_multi_sketch_udf, make_sketch_udf

    rows = []
    for i in range(200):
        d = 8 if i % 7 else 5  # every 7th vector is ragged
        rows.append((i, [float((i * 31 + j) % 13 - 6) for j in range(d)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def collect_buckets(parts):
        u = make_sketch_udf(4, 1337, dim=8)
        return {
            r.vec_id: r.b
            for r in df.repartition(parts)
            .select("vec_id", u(F.col("embedding")).alias("b"))
            .collect()
        }

    b1, b8 = collect_buckets(1), collect_buckets(8)
    assert b1 == b8  # partitioning-invariant
    for i, b in b1.items():
        assert (b is None) == (i % 7 == 0)

    mu = make_multi_sketch_udf(4, 3, 1337, dim=8)
    multis = {r.vec_id: r.m for r in df.repartition(5)
              .select("vec_id", mu(F.col("embedding")).alias("m")).collect()}
    for i, m in multis.items():
        if i % 7 == 0:
            assert m is None
        else:
            assert len(m) == 3 and all(len(s) == 4 for s in m)


# ---------------------------------------------------------------------------
# incremental embedding near-dup (probe a stored band index)


def test_embedding_incremental_planted_dups(spark):
    from warcio_spark.operators.dedup import embedding_near_dup_incremental

    df, X, dup_of = make_embeddings(spark)
    # odd planted ids probe against the even corpus they duplicate
    corpus = df.filter(F.col("vec_id") % 2 == 0)
    batch = df.filter(F.col("vec_id") % 2 == 1)
    got = {r.new_id: r.dup_of
           for r in embedding_near_dup_incremental(
               batch, corpus, threshold=0.98, planes=6).collect()}
    for b, a in dup_of.items():
        assert got[b] == a
    for new_id, hit in got.items():
        assert float(X[new_id] @ X[hit]) >= 0.975


def test_embedding_incremental_equals_batch_at_once(spark):
    """Incremental flags exactly the cross-boundary subset of
    embedding_near_dup over corpus+batch, best (cosine, dup_of) per new."""
    from pyspark.sql import Window

    from warcio_spark.operators.dedup import (embedding_near_dup,
                                              embedding_near_dup_incremental)

    df, _, _ = make_embeddings(spark, n=160)
    corpus = df.filter(F.col("vec_id") < 100)
    batch = df.filter(F.col("vec_id") >= 100)
    thr, pl = 0.9, 4
    inc = {(r.new_id, r.dup_of, r.cosine)
           for r in embedding_near_dup_incremental(
               batch, corpus, threshold=thr, planes=pl).collect()}

    full = embedding_near_dup(df, threshold=thr, planes=pl)
    cross = (
        full.filter((F.col("id_a") < 100) & (F.col("id_b") >= 100))
        .select(F.col("id_b").alias("new_id"), F.col("id_a").alias("dup_of"),
                "cosine")
    )
    w = Window.partitionBy("new_id").orderBy(F.desc("cosine"), F.asc("dup_of"))
    best = {(r.new_id, r.dup_of, r.cosine)
            for r in cross.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn").collect()}
    assert inc == best


def test_embedding_band_index_appends_equal_rebuild(spark):
    from warcio_spark.operators.dedup import (embedding_band_index,
                                              embedding_near_dup_incremental)

    df, _, _ = make_embeddings(spark, n=120)
    a = df.filter(F.col("vec_id") % 2 == 0)
    b = df.filter(F.col("vec_id") % 2 == 1)
    unioned = sorted(map(tuple, embedding_band_index(a, dim=32).unionByName(
        embedding_band_index(b, dim=32)).collect()))
    whole = sorted(map(tuple, embedding_band_index(df, dim=32).collect()))
    assert unioned == whole
    # probing a supplied (persisted) index == building it inline
    corpus = df.filter(F.col("vec_id") < 80)
    batch = df.filter(F.col("vec_id") >= 80)
    idx = embedding_band_index(corpus)
    with_idx = sorted(map(tuple, embedding_near_dup_incremental(
        batch, corpus, threshold=0.9, index=idx).collect()))
    built = sorted(map(tuple, embedding_near_dup_incremental(
        batch, corpus, threshold=0.9).collect()))
    assert with_idx == built
