"""Composite cleaning pipeline (operators/pipeline.py): funnel
consistency, the dedup window-ordering trick, and sampling determinism.

The full value-level contract (every stat, every gate, the md5 sample
threshold) is oracled against DuckDB by the driver's pipeline_clean /
pipeline_funnel entries; these tests pin the semantics a row-hash can't
localize when it breaks.
"""

import pytest
from pyspark.sql import functions as F

from warcio_spark.operators.pipeline import STAGES, clean_corpus, clean_funnel

# ~60-token text passing every default gate: stopwords present, pure-en
# markers, zero punct, mean token length ~4
_GOOD = ("the quick brown fox jumps over the lazy dog and runs to "
         "the river of stones in the valley " * 3).strip()
_SHORT = "the of and"  # fails the 20-token floor
_NOLANG = "alpha beta gamma delta " * 8  # no markers -> 'und', no stopwords


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_funnel_monotone_and_matches_clean(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    funnel = {r["stage"]: r["rows"] for r in clean_funnel(docs).collect()}
    assert list(funnel) == sorted(funnel)
    vals = [funnel[s] for s in STAGES]
    assert vals[0] == docs.count()
    assert all(a >= b for a, b in zip(vals, vals[1:])), vals
    assert vals[-1] == clean_corpus(docs).count()
    # the gates must actually gate on this corpus, not pass everything
    assert vals[-1] < vals[0]


def test_dedup_failing_duplicate_does_not_shadow_passer(spark):
    # doc 1 fails the length gate, doc 2 is an identical-text passer?
    # No: identical text implies identical gate results — the real edge
    # is a PASSING duplicate pair plus the window ordering guarantee
    # that rank 1 lands on a passer even when a (hypothetical) failing
    # row sorts lower. Craft it via three docs: two identical passers
    # (dedup keeps min doc_id) and one distinct failer.
    docs = _docs(spark, [(5, _GOOD), (9, _GOOD), (1, _SHORT)])
    kept = clean_corpus(docs)
    ids = [r["doc_id"] for r in kept.collect()]
    assert 5 in ids and 9 not in ids and 1 not in ids


def test_gate_attribution_in_funnel(spark):
    docs = _docs(spark, [(1, _GOOD), (2, _SHORT), (3, _NOLANG)])
    funnel = {r["stage"]: r["rows"] for r in clean_funnel(docs).collect()}
    assert funnel["0_input"] == 3
    assert funnel["1_length"] == 2          # _SHORT dropped
    assert funnel["2_quality"] == 1         # _NOLANG has no stopwords
    assert funnel["3_lang"] == 1
    assert funnel["4_dedup"] == 1
    assert funnel["5_sample"] == 1          # _GOOD is head-quality


def test_sampling_deterministic_and_stratified(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = clean_corpus(docs).orderBy("doc_id").collect()
    b = clean_corpus(docs).orderBy("doc_id").collect()
    assert a == b
    heads = [r for r in a if r["sample_bucket"] == "head"]
    tails = [r for r in a if r["sample_bucket"] == "tail"]
    assert all(r["quality"] >= 0.5 for r in heads)
    assert all(r["quality"] < 0.5 for r in tails)
    # widening the tail quota can only add rows, never remove them
    wide = clean_corpus(docs, sample_tail_hex="7").count()
    assert wide >= len(a)


def test_one_shuffle_plan(spark):
    """The funnel's physical plan carries exactly one data Exchange (the
    dedup window) before the single-row aggregate."""
    import contextlib
    import io

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        clean_funnel(docs).explain("formatted")
    plan = buf.getvalue()
    # formatted mode prints each Exchange's partitioning in its
    # Arguments line; the only hash shuffle must be the dedup window's
    # md5 key (the final 1-row aggregate adds a SinglePartition
    # exchange that never carries data)
    # (Catalyst pre-projects the md5 key as _w0, so match on the count,
    # not the key expression)
    n_exchanges = plan.count("hashpartitioning(")
    assert n_exchanges == 1, plan
    assert "Window" in plan, plan


def test_unknown_kwarg_rejected(spark):
    docs = _docs(spark, [(1, _GOOD)])
    with pytest.raises(TypeError):
        clean_funnel(docs, not_a_knob=1)


def test_token_budget_prefix_semantics(spark):
    from warcio_spark.operators.pipeline import token_budget_sample

    docs = spark.createDataFrame(
        [
            (1, "a b c", "en"),        # 3 tokens, cum 3
            (2, "d e f g", "en"),      # 4 tokens, cum 7
            (3, "h i j k l", "en"),    # 5 tokens, cum 12 > 10 -> dropped
            (4, "m", "en"),            # later id: still dropped (prefix!)
            (5, "x y", "de"),          # separate stratum, cum 2
        ],
        "doc_id long, text string, lang string",
    )
    out = {r["doc_id"]: r for r in
           token_budget_sample(docs, 10).collect()}
    assert sorted(out) == [1, 2, 5]
    assert out[2]["cum_tokens"] == 7
    assert out[5]["cum_tokens"] == 2
    # doc 4 fits numerically but is NOT kept: the sample is an id-order
    # prefix per stratum, not a knapsack
    assert 4 not in out


def test_token_budget_deterministic(spark):
    from warcio_spark.operators.pipeline import token_budget_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = token_budget_sample(docs, 5000).orderBy("doc_id").collect()
    b = token_budget_sample(docs, 5000).orderBy("doc_id").collect()
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# weighted_mix
# ---------------------------------------------------------------------------


def test_weighted_mix_matches_python_oracle(spark):
    import hashlib

    from warcio_spark.operators.pipeline import weighted_mix

    rows = [(i, f"src{i % 5}", f"text {i}") for i in range(2000)]
    docs = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    weights = {"src0": 1.0, "src1": 0.25, "src3": 0.1}

    def keep(i, src):
        if src not in weights:
            return False
        h = "0" + hashlib.md5(f"mix{src}{i}".encode()).hexdigest()[:6]
        return h < format(int(weights[src] * 16 ** 6), "07x")

    got = {r["doc_id"] for r in weighted_mix(docs, weights).collect()}
    want = {i for i, src, _ in rows if keep(i, src)}
    assert got == want
    # rate sanity: src0 all kept, src1 ~25%, src3 ~10%, src2/src4 dropped
    assert all(i in got for i in range(0, 2000, 5))
    n1 = sum(1 for i in got if i % 5 == 1)
    n3 = sum(1 for i in got if i % 5 == 3)
    assert 60 <= n1 <= 140   # 400 * 0.25 = 100
    assert 15 <= n3 <= 70    # 400 * 0.10 = 40
    assert not any(i % 5 in (2, 4) for i in got)


def test_weighted_mix_rejects_bad_weights(spark):
    from warcio_spark.operators.pipeline import weighted_mix

    docs = spark.createDataFrame([(1, "a", "t")], ["doc_id", "source", "text"])
    with pytest.raises(ValueError):
        weighted_mix(docs, {"a": 1.5})
    with pytest.raises(ValueError):
        weighted_mix(docs, {})


# ---------------------------------------------------------------------------
# leakage-safe holdout split


def _split_fixture(spark, n_docs=400, chain_len=4):
    """Docs 0..n-1; every doc with id % 10 < chain_len-1 chains to its
    successor, so ids [10k, 10k+chain_len-1] form one planted cluster."""
    docs = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    pairs = (
        spark.range(n_docs - 1)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
        .filter(F.col("id_a") % 10 < chain_len - 1)
    )
    return docs, pairs


def test_leakage_safe_split_no_straddle(spark):
    from warcio_spark.operators.pipeline import leakage_safe_split, split_leakage

    docs, pairs = _split_fixture(spark)
    out = leakage_safe_split(
        docs, pairs, {"train": 0.8, "val": 0.1, "test": 0.1})
    rows = out.collect()
    assert len(rows) == 400 and all(r.split for r in rows)
    by_id = {r.doc_id: r for r in rows}
    # every planted chain shares one cluster AND one split
    for k in range(40):
        chain = [by_id[k * 10 + i] for i in range(4)]
        assert len({r.cluster for r in chain}) == 1
        assert chain[0].cluster == k * 10  # min id in closure
        assert len({r.split for r in chain}) == 1
    # singletons are their own cluster
    assert by_id[7].cluster == 7
    # the audit finds nothing to report
    assert split_leakage(out, pairs).count() == 0


def test_leakage_safe_split_ratios_and_determinism(spark):
    from warcio_spark.operators.pipeline import leakage_safe_split

    docs = spark.range(4000).select(F.col("id").alias("doc_id"))
    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = leakage_safe_split(
        docs, empty, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r.split: r.n for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 4000
    assert abs(counts["train"] / 4000 - 0.8) < 0.03
    assert abs(counts["val"] / 4000 - 0.1) < 0.02
    assert abs(counts["test"] / 4000 - 0.1) < 0.02
    # deterministic across partitionings
    again = leakage_safe_split(
        docs.repartition(13), empty, {"train": 0.8, "val": 0.1, "test": 0.1})
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_leakage_safe_split_validates_ratios(spark):
    from warcio_spark.operators.pipeline import leakage_safe_split

    docs = spark.range(5).select(F.col("id").alias("doc_id"))
    empty = spark.createDataFrame([], "id_a long, id_b long")
    with pytest.raises(ValueError):
        leakage_safe_split(docs, empty, {"train": 0.5, "val": 0.1})
    with pytest.raises(ValueError):
        leakage_safe_split(docs, empty, {})
    with pytest.raises(ValueError):
        leakage_safe_split(docs, empty, {"train": 1.5, "val": -0.5})


def test_split_leakage_planted(spark):
    from warcio_spark.operators.pipeline import split_leakage

    assignment = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train"), (4, "train")],
        "doc_id long, split string")
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4)], "id_a long, id_b long")
    got = split_leakage(assignment, pairs).collect()
    assert [(r.id_a, r.id_b, r.split_a, r.split_b) for r in got] == [
        (1, 2, "train", "test")]


def test_leakage_straddle_probability_of_naive_split(spark):
    """The motivating property: a naive per-doc hash split DOES straddle
    planted clusters; leakage_safe_split on the same data does not."""
    from warcio_spark.operators.pipeline import leakage_safe_split, split_leakage

    docs, pairs = _split_fixture(spark, n_docs=1000)
    naive = docs.select(
        "doc_id",
        F.when(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
               < F.lit("d"), "train").otherwise("test").alias("split"))
    assert split_leakage(naive, pairs).count() > 0
    safe = leakage_safe_split(docs, pairs, {"train": 0.8, "test": 0.2})
    assert split_leakage(safe, pairs).count() == 0


# ---------------------------------------------------------------------------
# temperature rebalancing


def _lang_docs(spark, sizes):
    rows = []
    i = 0
    for lang, n in sizes.items():
        for _ in range(n):
            rows.append((i, lang))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, lang string")


def test_temperature_alpha1_keeps_everything(spark):
    from warcio_spark.operators.pipeline import temperature_sample

    docs = _lang_docs(spark, {"en": 300, "fr": 60, "sw": 15})
    out = temperature_sample(docs, alpha=1.0)
    assert out.count() == 375
    got = {r.lang: r.n for r in
           out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == {"en": 300, "fr": 60, "sw": 15}


def test_temperature_alpha0_uniform_cap(spark):
    from warcio_spark.operators.pipeline import temperature_sample

    docs = _lang_docs(spark, {"en": 300, "fr": 60, "sw": 15})
    got = {r.lang: r.n for r in
           temperature_sample(docs, alpha=0.0)
           .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert got == {"en": 15, "fr": 15, "sw": 15}


def test_temperature_flattens_and_hits_target_shares(spark):
    from warcio_spark.operators.pipeline import temperature_sample

    sizes = {"en": 400, "fr": 100, "sw": 25}
    docs = _lang_docs(spark, sizes)
    got = {r.lang: r.n for r in
           temperature_sample(docs, alpha=0.5)
           .groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # target shares proportional to sqrt(sizes): 20:10:5 -> sw binds
    # N' = 25/(5/35) = 175 -> quotas floor(175 * 20/35), floor(175*10/35), 25
    assert got == {"en": 100, "fr": 50, "sw": 25}
    # rare language share rose (25/525 -> 25/175), dominant fell
    assert got["sw"] / sum(got.values()) > sizes["sw"] / sum(sizes.values())
    assert got["en"] / sum(got.values()) < sizes["en"] / sum(sizes.values())


def test_temperature_deterministic_across_partitionings(spark):
    from warcio_spark.operators.pipeline import temperature_sample

    docs = _lang_docs(spark, {"en": 120, "fr": 40})
    a = sorted(map(tuple, temperature_sample(docs, 0.3).collect()))
    b = sorted(map(tuple,
                   temperature_sample(docs.repartition(17), 0.3).collect()))
    assert a == b
    with pytest.raises(ValueError):
        temperature_sample(docs, -0.1)


# ---------------------------------------------------------------------------
# sequence packing


def test_pack_sequences_contiguous_per_shard(spark):
    from warcio_spark.operators.pipeline import pack_sequences

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 37 + 1).alias("n_tokens"))
    out = pack_sequences(docs, seq_len=128, n_shards=8).collect()
    assert len(out) == 500
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.token_start)
        # perfectly contiguous concatenation inside the shard
        assert rows[0].token_start == 0
        for a, b in zip(rows, rows[1:]):
            assert b.token_start == a.token_end, (shard, a, b)
        for r in rows:
            assert r.token_end - r.token_start == r.n_tokens
            assert r.seq_id == r.token_start // 128
    # total tokens conserved
    assert sum(r.n_tokens for r in out) == sum(
        r.token_end - r.token_start for r in out)


def test_pack_sequences_deterministic_and_validates(spark):
    import pytest as _pytest

    from warcio_spark.operators.pipeline import pack_sequences

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 11 + 1).alias("n_tokens"))
    a = sorted(map(tuple, pack_sequences(docs, 64, n_shards=4).collect()))
    b = sorted(map(tuple,
                   pack_sequences(docs.repartition(9), 64, n_shards=4).collect()))
    assert a == b
    with _pytest.raises(ValueError):
        pack_sequences(docs, 0)


def test_pack_sequences_no_single_partition_stage(spark):
    """The cumsum must run inside shards — no global-order Exchange
    (SinglePartition) stage in the plan."""
    from warcio_spark.operators.pipeline import pack_sequences

    docs = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit(5).alias("n_tokens"))
    plan = pack_sequences(docs, 32)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "SinglePartition" not in plan, plan
