"""Dedup-operator quality: MinHash-LSH recall vs brute-force n-gram Jaccard
ground truth on planted near-duplicates; SimHash hamming locality;
scoped boilerplate-line removal."""

import random

import pytest
from pyspark.sql import functions as F


def make_docs(spark, n=240, seed=4):
    """Docs with planted near-duplicates: every 3rd doc is a light edit of
    its predecessor (a few word substitutions)."""
    rng = random.Random(seed)
    vocab = ("spark crawl frontier record header payload digest queue shard "
             "merge scan politeness budget robots archive parse chunk token").split()
    rows = []
    base = None
    for i in range(n):
        if i % 3 == 2 and base:
            words = base[:]
            # one substitution: kills <=3 of ~58 trigram shingles -> j ~0.9
            words[rng.randrange(len(words))] = rng.choice(vocab)
            text = " ".join(words)
        else:
            words = [rng.choice(vocab) for _ in range(60)]
            base = words
            text = " ".join(words)
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id long, text string")


def brute_force_pairs(spark, docs, threshold):
    """All-pairs exact n-gram jaccard (test-scale only)."""
    from warcio_spark.operators.dedup import jaccard, word_ngrams

    sh = docs.select(F.col("doc_id").alias("_id"), word_ngrams("text", 3).alias("_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    allp = (
        a.join(b, F.col("a._id") < F.col("b._id"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            jaccard(F.col("a._sh"), F.col("b._sh")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return {(r.id_a, r.id_b) for r in allp.collect()}


def test_minhash_lsh_recall_vs_bruteforce(spark):
    from warcio_spark.operators.dedup import minhash_dedup

    docs = make_docs(spark)
    truth = brute_force_pairs(spark, docs, 0.8)
    assert len(truth) >= 40  # the planted edits are above threshold

    got = {(r.id_a, r.id_b)
           for r in minhash_dedup(docs, threshold=0.8, num_perm=64, bands=16).collect()}
    # verification step makes precision exact...
    assert got <= truth
    # ...and banding (b=16, r=4) keeps recall high at j>=0.8
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, recall


def test_simhash_hamming_locality(spark):
    from warcio_spark.operators.dedup import simhash_deterministic, simhash_near_pairs

    docs = make_docs(spark)
    sims = simhash_deterministic(docs)
    pairs = simhash_near_pairs(sims, prefix_bits=4)
    by_pair = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    # planted near-dups that share the prefix bucket have small hamming
    planted = [(i - 1, i) for i in range(2, 240, 3)]
    found = [by_pair[p] for p in planted if p in by_pair]
    assert found and sum(h <= 16 for h in found) / len(found) >= 0.9
    # determinism across runs
    again = {(r.doc_id, r.simhash) for r in simhash_deterministic(docs).collect()}
    first = {(r.doc_id, r.simhash) for r in sims.collect()}
    assert again == first


def test_dedup_lines_cross_doc_first_occurrence(spark):
    from warcio_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [
            (1, "shared\nunique-one\ntail"),
            (2, "shared\nunique-two"),   # loses 'shared' to doc 1
            (3, "unique-two\nshared"),   # loses both to docs 1 and 2
            (4, "only-here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines(docs).collect()}
    assert len(out) == 4
    assert out[1]["text_clean"] == "shared\nunique-one\ntail"
    assert (out[1]["n_lines_in"], out[1]["n_lines_kept"]) == (3, 3)
    assert out[2]["text_clean"] == "unique-two"
    assert (out[2]["n_lines_in"], out[2]["n_lines_kept"]) == (2, 1)
    # doc 3 keeps nothing: both its lines occurred earlier in the corpus
    assert out[3]["text_clean"] == ""
    assert (out[3]["n_lines_in"], out[3]["n_lines_kept"]) == (2, 0)
    assert out[4]["text_clean"] == "only-here"


def test_dedup_lines_within_doc_repeat(spark):
    from warcio_spark.operators.dedup import dedup_lines

    docs = spark.createDataFrame(
        [(1, "x\ny\nx\nx")], "doc_id long, text string")
    row = dedup_lines(docs).collect()[0]
    # the repeated line survives only at its first position
    assert row["text_clean"] == "x\ny"
    assert (row["n_lines_in"], row["n_lines_kept"]) == (4, 2)


def test_boilerplate_strip_scoped_threshold(spark):
    """Lines in >= min_docs distinct docs of one scope vanish everywhere;
    below-threshold lines keep every occurrence; scopes are independent."""
    from warcio_spark.operators.dedup import boilerplate_strip

    rows = [
        # source A: 'nav' in 3 docs (boiler), 'rare' in 2 (kept)
        (1, "A", "nav\nrare\nalpha"),
        (2, "A", "nav\nrare\nbeta"),
        (3, "A", "nav\ngamma\nnav"),      # dup line in ONE doc counts once
        # source B: 'nav' appears in only 1 doc there -> kept
        (4, "B", "nav\ndelta"),
        (5, "B", "epsilon"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    got = {r.doc_id: r for r in
           boilerplate_strip(df, min_docs=3).collect()}
    assert got[1].text_clean == "rare\nalpha"
    assert got[2].text_clean == "rare\nbeta"
    assert got[3].text_clean == "gamma"
    assert (got[3].n_lines_in, got[3].n_lines_kept) == (3, 1)
    assert got[4].text_clean == "nav\ndelta"   # scope B untouched
    assert got[5].text_clean == "epsilon"
    assert all(got[i].n_lines_in == len(rows[i - 1][2].split("\n"))
               for i in got)
