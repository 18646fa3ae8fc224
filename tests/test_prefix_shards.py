"""plans.prefix ranking (global prefix sums, the range rank, the
per-group top-k) + pipeline.shard_assignment vs brute-force Python
oracles, including partitioning invariance (the property the two-phase
designs exist for)."""

import random

import pytest
from pyspark.sql import functions as F

from warcio_spark.operators.pipeline import shard_assignment
from warcio_spark.plans.frontier import fetch_order
from warcio_spark.plans.prefix import (
    _split_points,
    group_top_k,
    with_global_cumsum,
    with_global_row_number,
)


def _frame(spark, rows, parts):
    return spark.createDataFrame(rows, ["k", "v"]).repartition(parts)


def test_cumsum_matches_bruteforce_any_partitioning(spark):
    rng = random.Random(7)
    rows = [(k, rng.randrange(0, 50)) for k in rng.sample(range(10_000), 400)]
    expect_incl = {}
    acc = 0
    for k, v in sorted(rows):
        acc += v
        expect_incl[k] = acc
    for nparts, inparts in ((1, 1), (3, 5), (8, 2)):
        tracker = []
        out = with_global_cumsum(
            _frame(spark, rows, inparts), "k", "v", "cum",
            num_partitions=nparts, persist_tracker=tracker,
        )
        got = {r["k"]: r["cum"] for r in out.collect()}
        assert got == expect_incl, f"nparts={nparts}"
        for c in tracker:
            c.unpersist()


def test_cumsum_exclusive_first_row_zero(spark):
    rows = [(3, 10), (1, 5), (2, 7)]
    out = with_global_cumsum(
        _frame(spark, rows, 2), "k", "v", "before", exclusive=True,
        num_partitions=2,
    )
    assert {r["k"]: r["before"] for r in out.collect()} == {1: 0, 2: 5, 3: 12}


def test_row_number_dense_zero_based(spark):
    rows = [(k, 0) for k in (50, 10, 40, 20, 30)]
    out = with_global_row_number(
        _frame(spark, rows, 3), "k", "rn", num_partitions=4
    )
    assert {r["k"]: r["rn"] for r in out.collect()} == {
        10: 0, 20: 1, 30: 2, 40: 3, 50: 4
    }
    assert "rn" in out.columns and "__prefix_one" not in out.columns


def test_cumsum_null_values_count_as_zero(spark):
    rng = random.Random(3)
    rows = [(k, None if k % 4 == 0 else rng.randrange(0, 20))
            for k in rng.sample(range(5_000), 200)]
    expect_incl, expect_excl = {}, {}
    acc = 0
    for k, v in sorted(rows):
        expect_excl[k] = acc
        acc += v or 0
        expect_incl[k] = acc
    df = spark.createDataFrame(rows, "k long, v long").repartition(3)
    for nparts in (1, 6):
        incl = with_global_cumsum(df, "k", "v", "c", num_partitions=nparts)
        excl = with_global_cumsum(df, "k", "v", "c", exclusive=True,
                                  num_partitions=nparts)
        assert {r["k"]: r["c"] for r in incl.collect()} == expect_incl
        assert {r["k"]: r["c"] for r in excl.collect()} == expect_excl


def test_cumsum_build_runs_only_sampling_jobs(spark):
    """Building the running sum runs the split-point sampler's jobs and
    nothing else: the range offsets are part of the plan, not a driver
    collect."""
    sc = spark.sparkContext
    df = spark.range(0, 4_000, 1, 4).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    ).localCheckpoint()

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    sampler = jobs("prefix-sampler", lambda: _split_points(df, "k", 4))
    build = jobs("prefix-cumsum",
                 lambda: with_global_cumsum(df, "k", "v", num_partitions=4))
    assert sampler > 0
    assert build == sampler


def _top_k_oracle(rows, k_of):
    """Per-group first k in (score desc, id asc) order, 1-based ranks."""
    by_group = {}
    for g, score, i in rows:
        by_group.setdefault(g, []).append((-score, i))
    out = {}
    for g, items in by_group.items():
        for rank, (_, i) in enumerate(sorted(items)[:k_of(g)], 1):
            out[i] = (g, rank)
    return out


@pytest.mark.parametrize("buckets", [1, 8])
def test_group_top_k_matches_single_window(spark, buckets):
    # score has heavy ties (the id settles them); "mega" holds more than
    # buckets*k rows, "tiny" fewer than its k
    sizes = {"mega": 600, "mid": 40, "tiny": 3}
    quota = {"mega": 5, "mid": 12, "tiny": 10}
    rows, i = [], 0
    for g, n in sizes.items():
        for _ in range(n):
            rows.append((g, i % 7, i))
            i += 1
    df = spark.createDataFrame(rows, "g string, score long, id long")
    df = df.repartition(5)
    order = [F.desc("score"), F.asc("id")]
    bucket = F.pmod(F.xxhash64("id"), F.lit(buckets))
    k_col = (F.when(F.col("g") == "mega", 5)
             .when(F.col("g") == "mid", 12).otherwise(10))
    got = group_top_k(df, ["g"], order, k_col, bucket, "r")
    assert got.columns == ["g", "score", "id", "r"]
    assert ({r["id"]: (r["g"], r["r"]) for r in got.collect()}
            == _top_k_oracle(rows, quota.get))
    got_int = group_top_k(df, ["g"], order, 4, bucket, "r")
    assert ({r["id"]: (r["g"], r["r"]) for r in got_int.collect()}
            == _top_k_oracle(rows, lambda g: 4))


def test_range_rank_ties_share_a_range_nulls_last(spark):
    """fetch_order's range id: boundaries that sit exactly on a heavily
    tied priority keep every row of that priority in one range (seq then
    orders them across the old boundary), and NULL priorities rank after
    every range."""
    from pyspark.sql import Window

    rows = [("u%04d" % i, [3.0, 2.0, 2.0, 1.0, None][i % 5], (i * 37) % 500)
            for i in range(500)]
    df = spark.createDataFrame(
        rows, "url_canon string, priority double, seq long").repartition(4)
    w = Window.orderBy(F.desc("priority"), F.asc("seq"), F.asc("url_canon"))
    want = [r.url_canon for r in df.withColumn("fo", F.row_number().over(w))
            .orderBy("fo").collect()]
    for bounds in ([2.0], [1.0, 2.0, 3.0], [2.5, 1.5]):
        out = fetch_order(df, boundaries=sorted(bounds))
        got = out.orderBy("fetch_order").collect()
        assert [r.url_canon for r in got] == want, bounds
        assert [r.fetch_order for r in got] == list(range(1, 501))
        assert out.columns == df.columns + ["fetch_order"]


def test_shard_assignment_matches_bruteforce(spark):
    rng = random.Random(11)
    rows = [
        (i, " ".join(f"w{j}" for j in range(rng.randrange(1, 30))))
        for i in rng.sample(range(5_000), 300)
    ]
    budget = 100
    acc, expect = 0, {}
    for i, text in sorted(rows):
        n = len(text.split())
        expect[i] = (n, acc, acc // budget)
        acc += n
    docs = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(6)
    tracker = []
    out = shard_assignment(docs, budget, persist_tracker=tracker)
    got = {
        r["doc_id"]: (r["n_tokens"], r["tokens_before"], r["shard_id"])
        for r in out.collect()
    }
    assert got == expect
    # every shard except possibly the last lands within one max-doc of
    # the budget either side (start-offset packing: a straddling doc
    # counts wholly toward the shard where it starts)
    sizes = {}
    for n_tokens, _, sid in got.values():
        sizes[sid] = sizes.get(sid, 0) + n_tokens
    max_doc = max(n for n, _, _ in expect.values())
    last = max(sizes)
    for sid, tok in sizes.items():
        if sid != last:
            assert budget - max_doc < tok < budget + max_doc
    for c in tracker:
        c.unpersist()


def test_shard_assignment_rejects_bad_budget(spark):
    docs = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        shard_assignment(docs, 0)
