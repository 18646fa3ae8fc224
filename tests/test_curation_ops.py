"""Round-5 curation operators: centroid outliers (planted off-cluster
vector + two-phase == global-window parity), exact-quota stratified
sampling (exact counts, determinism across partitionings, two-phase ==
single window), and mirror-host detection (planted mirrors, ubiquity cap,
threshold)."""

import numpy as np
from pyspark.sql import Window
from pyspark.sql import functions as F


def _clustered_embeddings(spark, per_label=40, dim=16, seed=3):
    """Tight per-label clusters + ONE planted flipped vector per label."""
    rng = np.random.RandomState(seed)
    rows = []
    vid = 0
    planted = {}
    for label in range(3):
        center = rng.randn(dim)
        center /= np.linalg.norm(center)
        for i in range(per_label):
            v = center + rng.randn(dim) * 0.05
            v /= np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v], label))
            vid += 1
        # the planted outlier points AWAY from the cluster
        rows.append((vid, [float(-x) for x in center], label))
        planted[label] = vid
        vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    return df, planted


def test_centroid_outliers_planted(spark):
    from warcio_spark.operators.similarity import centroid_outliers

    df, planted = _clustered_embeddings(spark)
    out = centroid_outliers(df, k=3).collect()
    by_label = {}
    for r in out:
        by_label.setdefault(r.label, []).append(r)
    for label, vid in planted.items():
        got = sorted(by_label[label], key=lambda r: r.outlier_rank)
        assert got[0].vec_id == vid, (label, got)
        # cosine to own centroid for a flipped vector is strongly negative
        assert got[0].centroid_cosine < -0.5
    # exactly k rows per label
    assert all(len(v) == 3 for v in by_label.values())


def test_centroid_outliers_two_phase_equals_global(spark):
    """The (group, bucket)->group two-phase bottom-k must equal the naive
    single global window for any bucket count."""
    from warcio_spark.operators.dedup import cosine_similarity
    from warcio_spark.operators.similarity import centroid_outliers

    df, _ = _clustered_embeddings(spark, per_label=25, seed=11)
    for buckets in (1, 4, 16):
        got = {
            (r.label, r.vec_id, r.outlier_rank)
            for r in centroid_outliers(df, k=5, buckets=buckets).collect()
        }
        # naive single-window reference
        means = (
            df.select("label", F.posexplode("embedding"))
            .groupBy("label", "pos")
            .agg(F.avg(F.col("col").cast("double")).alias("m"))
        )
        cents = means.groupBy("label").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("c")
        )
        scored = df.join(cents, "label").select(
            "vec_id", "label",
            cosine_similarity(F.col("embedding"), F.col("c")).alias("cc"),
        )
        w = Window.partitionBy("label").orderBy(F.asc("cc"), F.asc("vec_id"))
        want = {
            (r.label, r.vec_id, r.rk)
            for r in scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .collect()
        }
        assert got == want


def _docs(spark, n=200):
    rows = [(i, f"text body {i}", ["en", "de", "fr"][i % 3], f"src{i % 7}")
            for i in range(n)]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")


def test_stratified_quota_exact_counts_and_determinism(spark):
    from warcio_spark.operators.pipeline import stratified_quota

    docs = _docs(spark)
    out = stratified_quota(docs, quota=10, strata=("lang",))
    counts = {r.lang: r.n for r in
              out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"en": 10, "de": 10, "fr": 10}
    # quota above stratum size keeps the whole stratum
    small = stratified_quota(docs.filter("doc_id < 5"), quota=10,
                             strata=("lang",))
    assert small.count() == 5
    # deterministic across reruns and input partitioning
    a = sorted((r.lang, r.doc_id, r.sample_rank) for r in out.collect())
    b = sorted(
        (r.lang, r.doc_id, r.sample_rank)
        for r in stratified_quota(
            docs.repartition(13), quota=10, strata=("lang",)).collect()
    )
    assert a == b


def test_stratified_quota_two_phase_equals_single_window(spark):
    from warcio_spark.operators.pipeline import stratified_quota

    docs = _docs(spark, n=150)
    for buckets in (1, 4, 32):
        got = sorted(
            (r.lang, r.doc_id, r.sample_rank)
            for r in stratified_quota(
                docs, quota=7, strata=("lang",), buckets=buckets).collect()
        )
        key = F.md5(F.concat(F.lit("q1"), F.col("doc_id").cast("string")))
        w = Window.partitionBy("lang").orderBy(F.asc("_k"), F.asc("doc_id"))
        want = sorted(
            (r.lang, r.doc_id, r.sample_rank)
            for r in docs.withColumn("_k", key)
            .withColumn("sample_rank", F.row_number().over(w))
            .filter(F.col("sample_rank") <= 7)
            .collect()
        )
        assert got == want


def _mirror_docs(spark):
    """hostA/hostB mirror 5 docs; hostC shares 2 with hostA (below
    threshold); one boilerplate page lives on EVERY host."""
    rows = []
    for i in range(5):
        rows.append((f"hostA", f"shared page {i}"))
        rows.append((f"hostB", f"shared page {i}"))
    rows += [("hostA", "ac page 0"), ("hostC", "ac page 0"),
             ("hostA", "ac page 1"), ("hostC", "ac page 1")]
    for h in ("hostA", "hostB", "hostC", "hostD"):
        rows.append((h, "cookie banner boilerplate"))
        rows.append((h, f"unique to {h}"))
    return spark.createDataFrame(rows, "host string, text string")


def test_mirror_hosts_planted(spark):
    from warcio_spark.operators.domains import mirror_hosts

    out = {(r.host_a, r.host_b): r for r in
           mirror_hosts(_mirror_docs(spark), min_shared=3,
                        max_hosts=3).collect()}
    # only the A-B mirror clears min_shared=3; the ubiquitous boilerplate
    # (4 hosts > max_hosts=3) must NOT count toward any pair
    assert set(out) == {("hostA", "hostB")}
    r = out[("hostA", "hostB")]
    assert r.shared_docs == 5
    # |A|=9 distinct digests, |B|=7 -> jaccard = 5/(9+7-5)
    assert abs(r.overlap_jaccard - round(5 / 11, 4)) < 1e-9


def test_mirror_hosts_ubiquity_cap_off(spark):
    """Raising max_hosts lets the boilerplate digest pair everyone — the
    cap is what keeps template noise from going quadratic."""
    from warcio_spark.operators.domains import mirror_hosts

    out = mirror_hosts(_mirror_docs(spark), min_shared=1, max_hosts=64)
    # all C(4,2)=6 host pairs now share at least the boilerplate digest
    assert out.count() == 6


def test_dedup_keep_best_planted(spark):
    """Keep-best policy: argmax score per transitive cluster, tie -> min
    id, singletons untouched."""
    from warcio_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 99), (3, "c", 50),   # cluster {1,2,3}: keep 2
         (5, "d", 1),                                 # no pair: kept
         (7, "e", 40), (8, "f", 40)],                 # tie on score: keep 7
        "doc_id long, text string, score long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    kept = sorted(r.doc_id for r in
                  dedup_keep_best(docs, pairs, score_col="score").collect())
    assert kept == [2, 5, 7]


def test_dedup_keep_best_matches_by_pairs_when_score_is_neg_id(spark):
    """With score = -id, keep-best degenerates to dedup_by_pairs' min-id
    policy — the two paths must agree exactly."""
    from warcio_spark.operators.dedup import dedup_by_pairs, dedup_keep_best

    docs = spark.createDataFrame(
        [(i, f"t{i}", -i) for i in range(30)],
        "doc_id long, text string, score long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 28, 3)] + [(4, 10), (20, 25)],
        "id_a long, id_b long")
    a = sorted(r.doc_id for r in
               dedup_keep_best(docs, pairs, score_col="score").collect())
    b = sorted(r.doc_id for r in dedup_by_pairs(docs, pairs).collect())
    assert a == b


def _edges(spark, rows):
    return spark.createDataFrame(
        rows, "src_host string, dst_host string, n_links long")


def test_trust_rank_spam_gets_no_trust(spark):
    """Hosts unreachable from the seed set end with trust 0 no matter how
    many in-links they exchange; hosts downstream of the seed inherit."""
    from warcio_spark.plans.graph import trust_rank

    edges = _edges(spark, [
        ("good", "shop", 5), ("shop", "blog", 2),
        # spam farm: heavily interlinked, links INTO good, none back
        ("spam1", "spam2", 50), ("spam2", "spam1", 50), ("spam1", "good", 9),
    ])
    seeds = spark.createDataFrame([("good",)], "host string")
    t = {r.host: r.trust for r in trust_rank(edges, seeds, iterations=4).collect()}
    assert t["spam1"] == 0.0 and t["spam2"] == 0.0
    assert t["good"] > t["shop"] > t["blog"] > 0.0


def test_trust_rank_all_seeds_equals_pagerank(spark):
    """With every host seeded, TrustRank's teleport vector is uniform —
    it must reproduce host_rank exactly."""
    from warcio_spark.plans.graph import host_rank, trust_rank

    edges = _edges(spark, [
        ("a", "b", 3), ("b", "c", 1), ("c", "a", 2), ("a", "c", 1),
        ("d", "a", 4), ("b", "d", 2),
    ])
    all_hosts = spark.createDataFrame(
        [("a",), ("b",), ("c",), ("d",)], "host string")
    pr = {r.host: r.rank for r in host_rank(edges, iterations=3).collect()}
    tr = {r.host: r.trust
          for r in trust_rank(edges, all_hosts, iterations=3).collect()}
    assert set(pr) == set(tr)
    for h in pr:
        assert abs(pr[h] - tr[h]) < 1e-12, h


def test_trust_rank_no_seeds_in_graph(spark):
    from warcio_spark.plans.graph import trust_rank

    edges = _edges(spark, [("a", "b", 1)])
    seeds = spark.createDataFrame([("zz",)], "host string")
    t = trust_rank(edges, seeds, iterations=2).collect()
    assert {r.trust for r in t} == {0.0}


def test_rank_family_empty_graph(spark):
    # the N/|S|/norm scalars now ride 1-row broadcast cross-joins instead
    # of driver count()/first() actions; an empty graph must still yield
    # an empty (not failing) result, as the old early returns did
    from warcio_spark.plans.graph import host_hits, host_rank, trust_rank

    empty = spark.createDataFrame(
        [], "src_host string, dst_host string, n_links long")
    seeds = spark.createDataFrame([("a.com",)], "host string")
    assert host_rank(empty).collect() == []
    assert trust_rank(empty, seeds).collect() == []
    assert host_hits(empty).collect() == []


# ---------------------------------------------------------------------------
# incremental MinHash dedup (batch probes a persistent band index)


def _dup_corpus(spark, n_corpus=30, n_batch=12):
    """Deterministic word-soup docs; every 3rd batch doc is a near-copy of
    a corpus doc (one word swapped at the tail), the rest are fresh."""
    def words(seed, n=40):
        # seed baked into every token: distinct seeds share NO shingles
        return " ".join(f"w{seed}x{i}" for i in range(n))

    rows = [(i, words(i)) for i in range(n_corpus)]
    # an in-corpus twin of doc 0: new copies of doc 0 match BOTH, and the
    # best-pick must choose doc 0 (higher jaccard, lower id)
    rows.append((n_corpus, words(0) + " corpdup"))
    planted = {}
    for j in range(n_batch):
        did = 1000 + j
        if j % 3 == 0:
            src = j % n_corpus
            rows.append((did, words(src) + " tailword"))
            planted[did] = src
        elif j % 3 == 1:
            # half-copy: LSH may candidate it, exact jaccard ~0.3 rejects
            src = j % n_corpus
            half = " ".join(words(src).split()[:20])
            rows.append((did, half + " " + words(700 + j, n=20)))
        else:
            rows.append((did, words(500 + j)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df, planted


def test_minhash_incremental_planted_dups(spark):
    from warcio_spark.operators.dedup import minhash_dedup_incremental

    df, planted = _dup_corpus(spark)
    corpus = df.filter(F.col("doc_id") < 1000)
    batch = df.filter(F.col("doc_id") >= 1000)
    got = {r.new_id: (r.dup_of, r.jaccard)
           for r in minhash_dedup_incremental(batch, corpus,
                                              threshold=0.5).collect()}
    assert set(got) == set(planted)
    for new_id, src in planted.items():
        assert got[new_id][0] == src
        assert got[new_id][1] >= 0.5


def test_minhash_incremental_equals_batch_at_once(spark):
    """Incremental flags exactly the cross-boundary subset of the full
    minhash_dedup run over corpus+batch, with the same best (jaccard,
    dup_of) per new doc."""
    from pyspark.sql import Window

    from warcio_spark.operators.dedup import (minhash_dedup,
                                              minhash_dedup_incremental)

    df, _ = _dup_corpus(spark, n_corpus=25, n_batch=15)
    corpus = df.filter(F.col("doc_id") < 1000)
    batch = df.filter(F.col("doc_id") >= 1000)
    thr = 0.4
    inc = {(r.new_id, r.dup_of, r.jaccard)
           for r in minhash_dedup_incremental(batch, corpus,
                                              threshold=thr).collect()}

    full = minhash_dedup(df, threshold=thr)
    cross = (
        full.filter((F.col("id_a") < 1000) & (F.col("id_b") >= 1000))
        .select(F.col("id_b").alias("new_id"), F.col("id_a").alias("dup_of"),
                "jaccard")
    )
    w = Window.partitionBy("new_id").orderBy(F.desc("jaccard"), F.asc("dup_of"))
    best = {(r.new_id, r.dup_of, r.jaccard)
            for r in cross.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn").collect()}
    assert inc == best and inc


def test_minhash_band_index_appends_equal_rebuild(spark):
    """Index rows built batch-by-batch (union of per-batch calls) must
    equal one corpus-at-once build — the property that makes the stored
    index appendable without global rebuilds."""
    from warcio_spark.operators.dedup import minhash_band_index

    df, _ = _dup_corpus(spark, n_corpus=20, n_batch=10)
    a = df.filter(F.col("doc_id") % 2 == 0)
    b = df.filter(F.col("doc_id") % 2 == 1)
    unioned = sorted(
        map(tuple, minhash_band_index(a).unionByName(
            minhash_band_index(b)).collect()))
    whole = sorted(map(tuple, minhash_band_index(df).collect()))
    assert unioned == whole


def test_minhash_incremental_supplied_index_equals_built(spark):
    from warcio_spark.operators.dedup import (minhash_band_index,
                                              minhash_dedup_incremental)

    df, _ = _dup_corpus(spark)
    corpus = df.filter(F.col("doc_id") < 1000)
    batch = df.filter(F.col("doc_id") >= 1000)
    idx = minhash_band_index(corpus)
    with_idx = sorted(map(tuple, minhash_dedup_incremental(
        batch, corpus, index=idx, threshold=0.5).collect()))
    built = sorted(map(tuple, minhash_dedup_incremental(
        batch, corpus, threshold=0.5).collect()))
    assert with_idx == built


# ---------------------------------------------------------------------------
# incremental SimHash


def test_simhash_incremental_planted_dups(spark):
    from warcio_spark.operators.dedup import (simhash_deterministic,
                                              simhash_incremental)

    df, _ = _dup_corpus(spark, n_corpus=30, n_batch=12)
    corpus = df.filter(F.col("doc_id") < 1000)
    # exact copies of corpus docs 3 and 7, plus fresh docs
    rows = [(2000, r.text) for r in
            corpus.filter(F.col("doc_id").isin(3, 7)).collect()]
    batch = spark.createDataFrame(
        [(2000 + i, t) for i, (_, t) in enumerate(rows)]
        + [(2100, "completely unrelated fresh zebra quantum telescope "
                   "verdigris mahogany " * 5)],
        "doc_id long, text string")
    corp_sim = simhash_deterministic(corpus)
    got = {r.new_id: (r.dup_of, r.hamming)
           for r in simhash_incremental(batch, corp_sim).collect()}
    assert got[2000] == (3, 0)
    assert got[2001] == (7, 0)
    assert 2100 not in got


def test_simhash_incremental_equals_batch_at_once(spark):
    """Incremental flags exactly the cross-boundary subset of
    simhash_near_pairs over corpus+batch at the same prefix/threshold,
    with the same best (hamming, dup_of) per new doc."""
    from pyspark.sql import Window

    from warcio_spark.operators.dedup import (simhash_deterministic,
                                              simhash_incremental,
                                              simhash_near_pairs)

    df, _ = _dup_corpus(spark, n_corpus=25, n_batch=15)
    corpus = df.filter(F.col("doc_id") < 1000)
    batch = df.filter(F.col("doc_id") >= 1000)
    pb, mh = 12, 6
    inc = {(r.new_id, r.dup_of, r.hamming)
           for r in simhash_incremental(
               batch, simhash_deterministic(corpus),
               prefix_bits=pb, max_hamming=mh).collect()}

    full = simhash_near_pairs(simhash_deterministic(df), prefix_bits=pb)
    cross = (
        full.filter((F.col("id_a") < 1000) & (F.col("id_b") >= 1000)
                    & (F.col("hamming") <= mh))
        .select(F.col("id_b").alias("new_id"), F.col("id_a").alias("dup_of"),
                "hamming")
    )
    w = Window.partitionBy("new_id").orderBy(F.asc("hamming"), F.asc("dup_of"))
    best = {(r.new_id, r.dup_of, r.hamming)
            for r in cross.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn").collect()}
    assert inc == best and inc


def test_simhash_table_appendable(spark):
    """The stored simhash table is appendable batch-by-batch: per-doc
    signatures computed in two halves equal the corpus-at-once run."""
    from warcio_spark.operators.dedup import simhash_deterministic

    df, _ = _dup_corpus(spark, n_corpus=20, n_batch=10)
    a = df.filter(F.col("doc_id") % 2 == 0)
    b = df.filter(F.col("doc_id") % 2 == 1)
    unioned = sorted(map(tuple, simhash_deterministic(a).unionByName(
        simhash_deterministic(b)).collect()))
    whole = sorted(map(tuple, simhash_deterministic(df).collect()))
    assert unioned == whole


def test_simhash_incremental_two_arrow_nodes(spark):
    """Each side's simhash UDF must run ONCE (2 ArrowEvalPython nodes
    total): un-wrapped signature expressions let Catalyst infer
    isnotnull(sig) from the join key and hamming filter and push it
    below the projections, re-inlining the UDF on both sides (4 nodes =
    whole corpus simhashed twice)."""
    import re

    from warcio_spark.operators.dedup import (simhash_deterministic,
                                              simhash_incremental)

    df, _ = _dup_corpus(spark, n_corpus=10, n_batch=5)
    corpus = df.filter(F.col("doc_id") < 1000)
    batch = df.filter(F.col("doc_id") >= 1000)
    out = simhash_incremental(batch, simhash_deterministic(corpus))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"ArrowEvalPython", plan)) == 2, plan


def test_exploded_minhash_banding_parity(spark):
    """The codegen shingle-rows + min-aggregate banding must reproduce
    the array path exactly: (a) _shingle_rows' per-doc row multiset
    equals word_ngrams (including the short-doc whole-join and the
    empty/null -> [""] fallbacks); (b) _banded_buckets_from_rows' (id,
    band, bucket) rows equal banding built from the pure-expression
    minhash_signature over word_ngrams arrays."""
    from warcio_spark.operators.dedup import (_banded_buckets_from_rows,
                                              _shingle_rows,
                                              minhash_signature,
                                              word_ngrams)

    rows = [
        (0, "the quick brown fox jumps over the lazy dog again and again"),
        (1, ""),
        (2, "one two"),
        (3, "üñïçødé tokens λorem ipsum 中文 text with five words"),
        (4, None),
        (5, "a b c d e f g h i j k l m n o p q r s t u v w x y z"),
        (6, "  padded   whitespace   doc  "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # (a) shingle-occurrence multiset parity
    got_rows = sorted(
        (r._id, r._g)
        for r in _shingle_rows(df, "doc_id", "text", 3).collect())
    want_rows = sorted(
        (r.doc_id, g)
        for r in df.select("doc_id", word_ngrams("text", 3).alias("_sh")).collect()
        for g in r._sh)
    assert got_rows == want_rows
    # (b) banded bucket parity against the expression-form signature
    num_perm, bands, rpb = 64, 16, 4
    sig = df.select(
        F.col("doc_id").alias("_id"),
        minhash_signature(word_ngrams("text", 3), num_perm).alias("_sig"))
    want_banded = sorted(
        (r._id, r.band, r.bucket)
        for r in sig.select(
            "_id",
            F.explode(F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(F.concat_ws(",", *[
                        F.element_at("_sig", b * rpb + p + 1)
                        for p in range(rpb)])).alias("bucket"))
                for b in range(bands)])).alias("bb"),
        ).select("_id", "bb.band", "bb.bucket").collect())
    got_banded = sorted(
        (r._id, r.band, r.bucket)
        for r in _banded_buckets_from_rows(
            _shingle_rows(df, "doc_id", "text", 3), num_perm, bands).collect())
    assert got_banded == want_banded


def test_cosine_parts_parity_with_expression_fold(spark):
    """The vectorized cosine (numpy cumsum left fold) must be bit-equal
    to the pure-expression zip_with/aggregate form on finite data, and
    NULL for null arrays, null elements, and length mismatches."""
    import random

    from pyspark.sql import types as T

    from oracles import cosine_similarity_expr
    from warcio_spark.operators.dedup import cosine_similarity

    rng = random.Random(7)
    rows = []
    for i in range(200):
        dim = rng.choice([4, 64, 64, 64, 7])
        a = [rng.uniform(-2, 2) for _ in range(dim)]
        b = [rng.uniform(-2, 2) for _ in range(dim)]
        rows.append((i, a, b))
    rows += [
        (900, None, [1.0, 2.0]),
        (901, [1.0, 2.0], None),
        (902, [1.0, None, 3.0], [1.0, 2.0, 3.0]),
        (903, [1.0, 2.0, 3.0], [1.0, 2.0]),   # length mismatch
        (904, [], []),
        (905, [0.0, 0.0], [0.0, 0.0]),
    ]
    schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("a", T.ArrayType(T.DoubleType())),
        T.StructField("b", T.ArrayType(T.DoubleType())),
    ])
    df = spark.createDataFrame(rows, schema)
    out = {r.i: (r.c_new, r.c_ref) for r in df.select(
        "i",
        cosine_similarity(F.col("a"), F.col("b")).alias("c_new"),
        cosine_similarity_expr(F.col("a"), F.col("b")).alias("c_ref"),
    ).collect()}
    for i, (got, want) in out.items():
        assert got == want, (i, got, want)
    # float32 inputs follow the same cast-to-double path
    f32 = df.select(
        "i", F.col("a").cast("array<float>").alias("a"),
        F.col("b").cast("array<float>").alias("b"))
    out32 = {r.i: (r.c_new, r.c_ref) for r in f32.select(
        "i",
        cosine_similarity(F.col("a"), F.col("b")).alias("c_new"),
        cosine_similarity_expr(F.col("a"), F.col("b")).alias("c_ref"),
    ).collect()}
    for i, (got, want) in out32.items():
        assert got == want, (i, got, want)


def test_cosine_filter_single_arrow_node(spark):
    """A threshold filter on the cosine column must NOT duplicate the
    _cosine_parts evaluation: without the non-deterministic fence the
    pushed-down filter re-inlines the UDF (two ArrowEvalPython nodes =
    every pair pays the fold twice)."""
    import re

    from pyspark.sql import types as T

    from warcio_spark.operators.dedup import cosine_similarity

    schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("a", T.ArrayType(T.DoubleType())),
        T.StructField("b", T.ArrayType(T.DoubleType())),
    ])
    df = spark.createDataFrame([(0, [1.0, 0.0], [1.0, 0.0])], schema)
    out = (df.select("i", cosine_similarity(F.col("a"), F.col("b")).alias("c"))
           .filter(F.col("c") >= 0.5))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"ArrowEvalPython", plan)) == 1, plan
    assert [r.i for r in out.collect()] == [0]
