"""connected_components (plans/graph.py) vs a union-find oracle, the
dedup-side wrappers dup_clusters / dedup_by_pairs, and the shared
checkpoint rule of the iterative graph operators."""

import random

import pytest
from pyspark.sql import functions as F

from warcio_spark.operators.dedup import dedup_by_pairs, dup_clusters
from warcio_spark.plans.graph import (
    connected_components,
    crawl_depth,
    resolve_chains,
)


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = connected_components(df, **kw).collect()
    return {r["node"]: r["component"] for r in got}


def test_two_components_and_chain(spark):
    # a 6-node chain (diameter 5 — label propagation in <=2 rounds would
    # get this wrong; star rounds must not) plus a disjoint triangle
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
             (10, 11), (11, 12), (12, 10)]
    assert _run(spark, edges) == _uf_components(edges)


def test_self_loops_and_duplicate_edges(spark):
    edges = [(7, 7), (1, 2), (2, 1), (1, 2), (3, 3)]
    got = _run(spark, edges)
    assert got == {7: 7, 1: 1, 2: 1, 3: 3}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df).count() == 0


def test_random_graphs_match_union_find(spark):
    rng = random.Random(42)
    for trial in range(3):
        n = 60 + 40 * trial
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(n // 2)
        ]
        assert _run(spark, edges) == _uf_components(edges)


def test_long_path_converges_logarithmically(spark):
    # 64-node path: diameter 63; star rounds are O(log n) so the
    # max_iterations=25 default must be plenty
    edges = [(i, i + 1) for i in range(63)]
    got = _run(spark, edges)
    assert set(got.values()) == {0}


def test_graph_operators_checkpoint_reliably_when_context_has_dir(
        spark, tmp_path_factory):
    """With a checkpoint directory on the SparkContext (the cluster
    deployment setting), connected_components, crawl_depth and
    resolve_chains each write reliable checkpoint files under it, and
    their results still equal the oracles."""
    from test_crawl_depth import _bfs_oracle
    from test_redirect_chains import _oracle as _chain_oracle

    # Spark cannot unset a checkpoint directory: it stays set for the rest
    # of this test session, so the graph operators in later tests
    # checkpoint reliably too. The directory is session-lived for that
    # reason.
    ckdir = tmp_path_factory.mktemp("ckpt")
    spark.sparkContext.setCheckpointDir(str(ckdir))

    def rdd_dirs():
        return {p for p in ckdir.glob("*/rdd-*") if any(p.iterdir())}

    seen = rdd_dirs()

    def wrote_new_checkpoints():
        nonlocal seen
        new = rdd_dirs() - seen
        seen |= new
        return bool(new)

    df = spark.createDataFrame([(5, 1), (1, 9)], ["id_a", "id_b"])
    got = connected_components(df, src_col="id_a", dst_col="id_b").collect()
    assert {r["node"]: r["component"] for r in got} == {1: 1, 5: 1, 9: 1}
    assert wrote_new_checkpoints()

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("x", "y")]
    got = {r.url: r.depth for r in crawl_depth(
        spark.createDataFrame(edges, "src string, dst string"),
        spark.createDataFrame([("a",)], "url string"),
        max_depth=6).collect()}
    assert got == _bfs_oracle(edges, ["a"], 6)
    assert wrote_new_checkpoints()

    edges = [("a", "b"), ("b", "c"), ("c", "z"), ("p", "q"), ("q", "p"),
             ("s", "s"), ("r", "p"), ("f", "t1"), ("f", "t2")]
    got = {r.url: (r.final_url, r.hops, r.unresolved)
           for r in resolve_chains(
               spark.createDataFrame(edges, "src string, dst string"),
               max_hops=8).collect()}
    assert got == _chain_oracle(edges, 8)
    assert wrote_new_checkpoints()


def test_nonconvergence_raises(spark):
    # local_contraction off: a contracted 63-path collapses inside one
    # partition and would converge instantly — the guard under test is
    # the star-round iteration cap
    df = spark.createDataFrame([(i, i + 1) for i in range(63)],
                               ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iterations=1, local_contraction=False)


def test_local_contraction_parity(spark):
    # contraction on (default) == contraction off == union-find oracle,
    # on random graphs incl. negative ids (hash-derived node ids) and
    # long chains straddling id blocks
    rng = random.Random(7)
    cases = [
        [(i, i + 1) for i in range(1000, 1090)],           # block-straddling chain
        [(rng.randrange(-50, 50), rng.randrange(-50, 50)) for _ in range(40)],
        [(rng.randrange(5000), rng.randrange(5000)) for _ in range(200)],
    ]
    for edges in cases:
        on = _run(spark, edges)
        off = _run(spark, edges, local_contraction=False)
        assert on == off == _uf_components(edges)


def test_dup_clusters_transitive(spark):
    # near-dup pairs are not transitive; the cluster must be
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (8, 9)], ["id_a", "id_b"]
    )
    got = {r["doc_id"]: r["cluster"] for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 8: 8, 9: 8}


def test_dedup_by_pairs_keeps_min_and_untouched(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(1, 7)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame([(2, 4), (4, 5)], ["id_a", "id_b"])
    kept = sorted(
        r["doc_id"] for r in dedup_by_pairs(docs, pairs).collect()
    )
    assert kept == [1, 2, 3, 6]  # 4, 5 cluster under 2


def test_plan_has_no_cartesian(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    plan = connected_components(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
