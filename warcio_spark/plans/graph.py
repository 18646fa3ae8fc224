"""Host-graph analytics over discovered links: edge aggregation and a
PageRank-style power iteration for crawl prioritization.

Link-derived importance is a standard crawl-scheduling input (OPIC /
PageRank-ordered frontiers): hosts that accumulate in-link mass get
budget before hosts nobody points at. The reference ecosystem produces
the raw material for this (WAT link blocks / outlink extraction); these
operators turn it into a ranked host table that
plans.frontier.schedule_round can join as a priority source.

Scale shape: ``host_graph`` is one shuffle on (src_host, dst_host);
``host_rank`` is one join + one aggregation per iteration, all keyed by
host — the host universe is orders of magnitude smaller than the page
universe (the whole point of ranking at host granularity for a
frontier), so every stage shuffles the small aggregated table, never
per-link rows. No driver-side loops over data: the only driver values
are the node count and the fixed iteration count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"


def url_host(url) -> Column:
    """Host component of an absolute URL (lowercased; port/userinfo
    dropped) — NULL for non-URL strings, as a codegen expression."""
    col = F.col(url) if isinstance(url, str) else url
    h = F.lower(F.regexp_extract(col, _HOST_RE, 1))
    return F.nullif(h, F.lit(""))


def host_graph(links: DataFrame, src_col: str = "page_url",
               dst_col: str = "outlink") -> DataFrame:
    """(src_host, dst_host, n_links) edges from per-link rows
    (extract_outlinks output or any table with source/target URL
    columns). Self-edges (intra-host navigation) are kept — callers
    ranking across hosts filter them; rows where either side has no
    parseable host are dropped."""
    return (
        links.select(
            url_host(src_col).alias("src_host"),
            url_host(dst_col).alias("dst_host"),
        )
        .filter(F.col("src_host").isNotNull() & F.col("dst_host").isNotNull())
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )


def persist_into(df: DataFrame, persist_tracker: list | None) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) into the caller's
    ``persist_tracker`` (the caller unpersists after materializing);
    without a tracker nothing is cached, so a library caller is never left
    holding a cache it cannot release. The one persist rule of every
    operator that takes a ``persist_tracker``."""
    if persist_tracker is None:
        return df
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    persist_tracker.append(df)
    return df


def _host_edges(edges: DataFrame, self_edges: bool,
                persist_tracker: list | None) -> tuple[DataFrame, DataFrame]:
    """Edge prep shared by the rank family: drop self-edges unless
    ``self_edges``, persist the edge table into ``persist_tracker`` (the
    unrolled iterations reference it once per iteration per branch, so an
    un-persisted caller lineage would re-execute ~2x per iteration), and
    return it with the node universe (every host on either side)."""
    if not self_edges:
        edges = edges.filter(F.col("src_host") != F.col("dst_host"))
    edges = persist_into(edges, persist_tracker)
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    return edges, nodes


def _seeded_power_iteration(edges: DataFrame, seeds: DataFrame | None,
                            iterations: int, alpha: float, self_edges: bool,
                            persist_tracker: list | None,
                            value_col: str) -> DataFrame:
    """The one power iteration behind host_rank and trust_rank:
    ``v' = 1[host in S]*(1-alpha)/|S| + alpha*sum(v*w/outw)`` over
    in-edges, from the uniform-over-S start. ``seeds=None`` makes every
    node a teleport target (|S| = N), which is PageRank. Returns
    (host, ``value_col``)."""
    edges, nodes = _host_edges(edges, self_edges, persist_tracker)
    if seeds is None:
        flagged = nodes.select("host", F.lit(True).alias("_seed"))
    else:
        seed_hosts = seeds.select(F.col("host")).distinct()
        flagged = nodes.join(
            F.broadcast(seed_hosts.withColumn("_seed", F.lit(True))),
            "host", "left",
        ).select("host",
                 F.coalesce(F.col("_seed"), F.lit(False)).alias("_seed"))
    flagged = persist_into(flagged, persist_tracker)
    # |S| rides a 1-row broadcast cross-join instead of a driver .count()
    # pull, so the whole query is ONE Spark action. With zero seeds in the
    # graph every value takes the otherwise(0.0) branch (all-zero result),
    # and an empty graph yields no rows; the division by _s only evaluates
    # on seed rows. Divisions happen on the same IEEE doubles the Python
    # literals hold, so values are bit-identical to a driver-side scalar.
    scount = flagged.agg(F.count_if(F.col("_seed")).alias("_s"))
    flagged_s = flagged.crossJoin(F.broadcast(scount))
    outw = edges.groupBy("src_host").agg(F.sum("n_links").alias("_outw"))
    frac = edges.join(outw, "src_host").select(
        F.col("src_host"),
        F.col("dst_host"),
        (F.col("n_links").cast("double") / F.col("_outw")).alias("_frac"),
    )
    base = F.when(
        F.col("_seed"), F.lit(1.0 - alpha) / F.col("_s")
    ).otherwise(F.lit(0.0))
    cur = flagged_s.select(
        "host", "_seed", "_s",
        F.when(F.col("_seed"), F.lit(1.0) / F.col("_s"))
        .otherwise(F.lit(0.0)).alias("_v"),
    )
    for _ in range(max(0, iterations)):
        contrib = (
            frac.join(cur.select("host", "_v"),
                      frac.src_host == F.col("host"))
            .groupBy("dst_host")
            .agg(F.sum(F.col("_v") * F.col("_frac")).alias("_in"))
        )
        cur = (
            flagged_s.join(contrib, flagged_s.host == contrib.dst_host,
                           "left")
            .select(
                "host", "_seed", "_s",
                (base
                 + F.lit(alpha) * F.coalesce(F.col("_in"), F.lit(0.0))
                 ).alias("_v"),
            )
        )
    return cur.select("host", F.col("_v").alias(value_col))


def host_rank(edges: DataFrame, iterations: int = 3,
              alpha: float = 0.85, self_edges: bool = False,
              persist_tracker: list | None = None) -> DataFrame:
    """Weighted PageRank power iteration over host_graph edges:
    ``rank' = (1-alpha)/N + alpha * sum(rank(src) * w / outweight(src))``
    over in-edges, starting uniform at 1/N. Returns (host, rank). It is
    ``trust_rank`` with every host as a teleport target: both run one
    power-iteration core.

    Simplifications, stated so results are reproducible: dangling-host
    mass is NOT redistributed (hosts with no out-edges leak their alpha
    share — fine for ordering a frontier, not for a probability
    distribution), and ``iterations`` is a fixed hop count rather than a
    convergence test (each iteration is one shuffle; a frontier wants a
    bounded, deterministic plan). ``self_edges=False`` drops intra-host
    links first — for prioritization they are rank self-inflation.

    ``persist_tracker``: the (filtered) edge table and the node universe
    are persisted — the unrolled power-iteration plan references them
    once per iteration per branch, so an un-persisted caller lineage
    (e.g. outlink extraction feeding host_graph) would re-execute ~2x
    per iteration; the caller unpersists after materializing.
    """
    return _seeded_power_iteration(edges, None, iterations, alpha,
                                   self_edges, persist_tracker, "rank")


def trust_rank(edges: DataFrame, seeds: DataFrame, iterations: int = 3,
               alpha: float = 0.85, self_edges: bool = False,
               persist_tracker: list | None = None) -> DataFrame:
    """Seeded TrustRank over host_graph edges (Gyongyi et al.'s spam
    containment): identical power iteration to ``host_rank`` except the
    teleport mass lands ONLY on a curated seed set of trusted hosts —
    ``trust' = 1[host in seeds]*(1-alpha)/|S| + alpha*sum(trust*w/outw)``,
    starting from the uniform-over-seeds distribution. Hosts reachable
    only through spam neighborhoods get ~0 trust however many in-links
    they buy; the frontier can divide budget by trust where PageRank
    alone is gameable.

    Same stated simplifications as host_rank (no dangling redistribution,
    fixed iteration count = bounded shuffles). ``seeds``: a DataFrame with
    a ``host`` column; hosts absent from the graph are ignored. Scale
    shape: the seed table is curated (thousands), broadcast onto the
    #hosts-sized node table; each iteration is the same one
    contribution-shuffle as host_rank. ``persist_tracker``: same
    contract as host_rank (edges + flagged node table persisted so the
    unrolled iterations share one caller-lineage execution).
    """
    return _seeded_power_iteration(edges, seeds, iterations, alpha,
                                   self_edges, persist_tracker, "trust")


def host_hits(edges: DataFrame, iterations: int = 3,
              self_edges: bool = False,
              decimals: int | None = None,
              persist_tracker: list | None = None) -> DataFrame:
    """Kleinberg HITS power iteration over host_graph edges — the
    hub/authority complement of ``host_rank``: a good HUB links to many
    good authorities (directory/portal hosts — strong seed candidates),
    a good AUTHORITY is linked from many good hubs (strong fetch
    candidates). Returns (host, hub, authority).

    Iteration (weighted by n_links, hubs start at 1):
    ``auth'(v) = sum over in-edges  w(u,v) * hub(u)`` then
    ``hub'(u)  = sum over out-edges w(u,v) * auth'(v)``;
    normalization happens ONCE at the end (each vector scaled to unit
    L2 norm; ``decimals`` optionally rounds for engine-portable
    comparison) rather than per step — any
    per-step norm is a pure scale factor that cancels there, and
    skipping it keeps every iteration two host-keyed join+aggregate
    stages with no 1-row scalar attach in the loop (the degenerate
    broadcast the BM25 scorer also avoids). With the default few
    iterations the unnormalized values stay far from overflow; pick
    ``iterations`` accordingly before raising it.

    Same scale shape as host_rank: every stage shuffles the aggregated
    host table, never per-link rows; driver-side values are the two
    final norms only. ``persist_tracker``: same contract as host_rank,
    plus the final (host, hub, authority) table that both the norms and
    the output rows read; without a tracker nothing is persisted."""
    edges, nodes = _host_edges(edges, self_edges, persist_tracker)
    nodes = persist_into(nodes, persist_tracker)
    hubs = nodes.select("host", F.lit(1.0).alias("hub"))
    auths = nodes.select("host", F.lit(0.0).alias("authority"))
    for _ in range(max(0, iterations)):
        a_in = (
            edges.join(hubs, edges.src_host == hubs.host)
            .groupBy("dst_host")
            .agg(F.sum(F.col("hub") * F.col("n_links")).alias("_a"))
        )
        auths = nodes.join(a_in, nodes.host == a_in.dst_host, "left").select(
            "host", F.coalesce("_a", F.lit(0.0)).alias("authority")
        )
        h_out = (
            edges.join(auths, edges.dst_host == auths.host)
            .groupBy("src_host")
            .agg(F.sum(F.col("authority") * F.col("n_links")).alias("_h"))
        )
        hubs = nodes.join(h_out, nodes.host == h_out.src_host, "left").select(
            "host", F.coalesce("_h", F.lit(0.0)).alias("hub")
        )
    # both consumers of the sweep (the norms branch and the output rows)
    # read one persisted table when a persist_tracker is supplied, so the
    # 2*iterations-join DAG executes a single time inside the one driving
    # action. The norms ride a 1-row broadcast cross-join instead of a
    # driver .first() pull, so the whole query is ONE Spark action (the
    # old shape paid a separate norms job: measured 2.12-2.19 -> 1.78-1.95
    # s at sf0.1, output hash-identical — same IEEE doubles, divided in
    # the JVM instead of pulled through Python). The host table is tiny
    # at any scale.
    both = persist_into(hubs.join(auths, "host"), persist_tracker)
    norms = both.agg(
        F.sqrt(F.sum(F.col("hub") * F.col("hub"))).alias("_nh"),
        F.sqrt(F.sum(F.col("authority") * F.col("authority"))).alias("_na"),
    )

    def _out(col, norm_col):
        # null/zero norm -> divide by 1.0, the old `or 1.0` guard
        norm = F.when(
            norm_col.isNull() | (norm_col == 0.0), F.lit(1.0)
        ).otherwise(norm_col)
        v = col / norm
        return v if decimals is None else F.round(v, decimals)

    return both.crossJoin(F.broadcast(norms)).select(
        "host",
        _out(F.col("hub"), F.col("_nh")).alias("hub"),
        _out(F.col("authority"), F.col("_na")).alias("authority"),
    )


# ---------------------------------------------------------------------------
# Checkpointed iteration: one materialize step for every iterative operator
# ---------------------------------------------------------------------------


def materialize(df: DataFrame, *metrics: Column,
                lazy: bool = False) -> tuple[DataFrame, dict]:
    """Checkpoint ``df`` and return it with the values of ``metrics``
    (aggregate Columns, collected by ``observe`` on the SAME job), so an
    iterated plan's lineage stays O(1) per round at one Spark action per
    round. The checkpoint is reliable when the session's SparkContext has
    a checkpoint directory (``sparkContext.setCheckpointDir`` — the
    deployment setting on a cluster, which survives executor loss) and
    executor-local otherwise (fast, not fault-tolerant). Spark deletes a
    reliable checkpoint's files only with
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true``, set when the
    SparkContext starts: ``session.get_spark`` sets it, and a session
    built elsewhere needs the same setting or keeps every round's files
    for the life of the application.

    ``lazy=True`` (no metrics) runs no job: an executor-local checkpoint
    is filled by the first action that reads ``df``. A reliable
    checkpoint is always written eagerly, because Spark writes a lazy one
    with a separate job that recomputes ``df`` after that first action."""
    from pyspark.sql import Observation

    reliable = df.sparkSession.sparkContext.getCheckpointDir() is not None
    eager = reliable or not lazy
    obs = Observation() if metrics else None
    if obs is not None:
        df = df.observe(obs, *metrics)
    ck = df.checkpoint(eager) if reliable else df.localCheckpoint(eager)
    return ck, (obs.get if obs is not None else {})


# ---------------------------------------------------------------------------
# Connected components (alternating large-star / small-star)
# ---------------------------------------------------------------------------


def _contract_partitions(edges: DataFrame, block_bits: int = 10) -> DataFrame:
    """Partition-local contraction: one id-block co-locating exchange, then
    each partition's edge set is collapsed IN MEMORY to an equivalent star
    forest (node -> that partition's component-minimum node). Connectivity
    is preserved partition-by-partition (a connected subgraph and its star
    have the same closure over the same node set), so the distributed star
    rounds that follow see the same global components — but through far
    fewer and far shallower edges. For chain-shaped pair relations (the
    consecutive-id near-dup candidate graphs), a chain is almost always
    inside one id block, so all that survives contraction is one crossing
    edge per block boundary and the O(log chain-length) distributed round
    depth collapses to 1–2 rounds of a few edges.

    The in-memory pass is vectorized numpy (no per-edge Python loop):
    min-label hooking over the edge list + full pointer-jump shortcutting
    per pass, O(log n) passes of C-speed array ops. Labels decrease
    monotonically, so the loop terminates; at the fixed point every edge's
    endpoints share a label and labels only ever travel along edges from
    the initial ``label[i] = i``, so the shared label IS the partition-local
    component minimum. Output per partition is one row per non-minimum
    node — duplicate-free by construction, which is why the caller can skip
    the pre-round ``distinct()`` exchange entirely.

    Scale: the exchange is keyed on ``src >> block_bits`` (id blocks of
    2^block_bits), never a constant partition count — AQE sizes/coalesces
    the shuffle; a partition's working set is its edge rows as two int64
    arrays plus a label array over its distinct nodes."""
    import numpy as np
    import pandas as pd

    def contract(batches):
        srcs, dsts = [], []
        for pdf in batches:
            srcs.append(pdf["src"].to_numpy(np.int64))
            dsts.append(pdf["dst"].to_numpy(np.int64))
        if not srcs:
            return
        s = np.concatenate(srcs)
        d = np.concatenate(dsts)
        if not len(s):
            return
        nodes, inv = np.unique(np.concatenate([s, d]), return_inverse=True)
        u, v = inv[: len(s)], inv[len(s):]
        lab = np.arange(len(nodes), dtype=np.int64)
        while True:
            m = np.minimum(lab[u], lab[v])
            nxt = lab.copy()
            np.minimum.at(nxt, u, m)
            np.minimum.at(nxt, v, m)
            while True:  # full shortcut: chase labels to their roots
                j = nxt[nxt]
                if np.array_equal(j, nxt):
                    break
                nxt = j
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        keep = lab != np.arange(len(nodes), dtype=np.int64)
        yield pd.DataFrame(
            {"src": nodes[keep], "dst": nodes[lab[keep]]}
        )

    return edges.repartition(
        F.shiftright(F.col("src"), block_bits)
    ).mapInPandas(contract, "src long, dst long")


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node u connects each strictly-larger
    neighbor to m(u) = min(N(u) ∪ {u})."""
    bi = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).filter(F.col("src") != F.col("dst"))
    mins = bi.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("_m")
    )
    # no dedup here: the round's single distinct lives at the end of
    # _small_star — one dedup shuffle per round bounds the edge set,
    # and min-aggregation is insensitive to intermediate multiplicity
    return (
        bi.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient edges large→small; every node u
    connects its smaller neighbors (and itself) to m = min(N(u))."""
    o = edges.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    mins = o.groupBy("src").agg(F.min("dst").alias("_m"))
    rewired = (
        o.join(mins, "src")
        .filter(F.col("dst") != F.col("_m"))
        .select(F.col("dst").alias("src"), F.col("_m").alias("dst"))
    )
    centers = mins.select("src", F.col("_m").alias("dst"))
    return rewired.union(centers).distinct()


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 25,
    local_contraction: bool = True,
) -> DataFrame:
    """(node, component) for every node in ``edges``; ``component`` is
    the minimum node id of its connected component.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — converges
    in O(log n) rounds regardless of component diameter, unlike min-label
    propagation whose round count is the graph diameter. This is the
    missing half of pair-producing dedup (minhash_lsh_pairs /
    simhash_near_pairs emit PAIRS; clustering them is what lets a corpus
    keep one canonical doc per duplicate group).

    Scale shape: each star round is one aggregation (map-side-combinable
    min per node — a 10^9-degree hub costs one partial min per partition,
    never a collected neighbor list) plus one join of the edge set
    against the |V|-row min table, keyed the same way. Each round's
    output is checkpointed by ``materialize`` (reliable when the session
    has a checkpoint directory, executor-local otherwise) so the iterated
    plan's lineage stays O(1) per round instead of doubling. Convergence =
    consecutive rounds produce the identical edge multiset (count + two
    independent hash XOR-folds); at the fixed point the edge set is a
    star forest centered on component minima. The fingerprint rides the
    SAME job that materializes the checkpoint (``observe`` metrics), so
    each round is exactly ONE Spark action — at toy scale the round cost
    is pure job latency, and halving the action count halves it.

    ``local_contraction`` (default on): collapse each partition's edges to
    an equivalent local star forest first (``_contract_partitions``) — same
    final components for any partitioning, but chain-shaped inputs lose
    most of their distributed round depth before the first star round, and
    the contraction exchange replaces the pre-round ``distinct()``.

    Raises ``RuntimeError`` if not converged after ``max_iterations`` —
    a wrong clustering is never returned silently.
    """
    # lazy checkpoint: BOTH consumers of the raw edge set (the node
    # universe below and the star-round seed) read one materialization —
    # without it the final nodes.join() re-executes the caller's whole
    # pair-producing lineage (shingling, LSH, jaccard verify) a second
    # time after the rounds have converged.
    e0, _ = materialize(edges.select(
        F.col(src_col).cast("long").alias("src"),
        F.col(dst_col).cast("long").alias("dst"),
    ), lazy=True)
    nodes = (
        e0.select("src").union(e0.select("dst")).distinct()
        .withColumnRenamed("src", "node")
    )
    cur = e0.filter(F.col("src") != F.col("dst"))
    # _contract_partitions replaces the pre-round distinct(): its output is
    # per-partition duplicate-free and connectivity-equivalent, so the star
    # rounds start from a contracted graph (fewer edges, shallower chains)
    # for the same one-exchange price the distinct() was already paying.
    cur = _contract_partitions(cur) if local_contraction else cur.distinct()

    fingerprint = (
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0))
        .alias("h1"),
        F.coalesce(F.bit_xor(F.hash("dst", "src")), F.lit(0)).alias("h2"),
    )
    cur, sig = materialize(cur, *fingerprint)
    converged = sig["n"] == 0
    for _ in range(max_iterations):
        if converged:
            break
        nxt, nsig = materialize(_small_star(_large_star(cur)), *fingerprint)
        converged = nsig == sig
        cur, sig = nxt, nsig
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations"
        )
    assign = (
        cur.select(
            F.greatest("src", "dst").alias("node"),
            F.least("src", "dst").alias("component"),
        )
        .groupBy("node")
        .agg(F.min("component").alias("component"))
    )
    return nodes.join(assign, "node", "left").select(
        "node", F.coalesce("component", F.col("node")).alias("component")
    )


def crawl_depth(edges: DataFrame, seeds: DataFrame,
                max_depth: int = 6,
                src_col: str = "src", dst_col: str = "dst",
                seed_col: str = "url") -> DataFrame:
    """(url, depth) — BFS hop distance from the seed list over the
    directed link graph, for every url reachable within ``max_depth``
    hops. THE crawl-horizon control: production crawlers cap depth (a
    page 40 clicks from any seed is a trap or a tarpit, and scoping
    policies like browsertrix's ``depth`` limit express exactly this),
    and the depth table joined onto the frontier is how a scheduler
    enforces it or decays priority with distance.

    Level-synchronous frontier BFS: round d joins ONLY the new frontier
    (urls first reached at depth d-1) against the edge table, anti-joins
    the already-known set, and assigns depth d — each url is emitted
    exactly once at its MINIMUM distance, so the output is exact BFS
    depth regardless of partitioning or edge order. Rounds stop when
    the frontier empties or ``max_depth`` is reached (truncation is the
    point — it is the crawl horizon, not an error). Urls unreachable
    from the seeds are absent from the output (a left join onto the
    page table classifies them as out-of-horizon).

    Scale shape: per round, one equi-join keyed on the source url and
    one anti-join against the known set — both shuffle the FRONTIER
    (one BFS level, typically orders of magnitude smaller than the
    graph), never the whole reachable set at once; at 10^10 edges,
    pre-bucket the edge table by ``src_col`` so the per-round join is
    co-partitioned. Each frontier is checkpointed by ``materialize``
    (reliable when the session has a checkpoint directory,
    executor-local otherwise) with its count observed on the SAME
    action, so a round costs exactly one Spark action and the iterated
    lineage stays O(1) per round — the connected_components
    discipline."""
    count = F.count(F.lit(1)).alias("n")
    e0 = edges.select(F.col(src_col).cast("string").alias("_src"),
                      F.col(dst_col).cast("string").alias("_dst"))
    known = (seeds.select(F.col(seed_col).cast("string").alias("url"))
             .distinct().withColumn("depth", F.lit(0)))

    frontier, m = materialize(known, count)
    known = frontier
    for d in range(1, max_depth + 1):
        if m["n"] == 0:
            break
        nxt = (frontier.join(e0, frontier["url"] == e0["_src"])
               .select(F.col("_dst").alias("url")).distinct()
               .join(known, "url", "left_anti")
               .withColumn("depth", F.lit(d)))
        frontier, m = materialize(nxt, count)
        if m["n"]:
            known = known.union(frontier)
    return known


def resolve_chains(edges: DataFrame, src_col: str = "src",
                   dst_col: str = "dst", max_hops: int = 32) -> DataFrame:
    """(url, final_url, hops, unresolved) — follow single-hop pointer
    edges (url -> redirect target) to their terminal node for EVERY
    source url at once. THE redirect-chain collapse: an index of raw
    captures stores each 301/302 hop as its own row
    (``links.redirect_candidates`` emits them), but dedup, canonical
    alias tables, and link-graph construction all want the FINAL
    destination — warcio-ecosystem replayers (pywb's redirect-following
    lookup) walk these chains one url at a time; set-at-a-time is how a
    corpus does it.

    Semantics: ``final_url``/``hops`` are the terminal node and exact
    hop count for chains that terminate within ``max_hops``; everything
    else — redirect loops (a->b->a), self-redirects, and chains longer
    than ``max_hops`` — gets ``unresolved = true`` with NULL
    final_url/hops (the politeness answer: a crawler treats all three
    identically, per RFC 9110 §15.4's loop-detection note and every
    browser's ~20-redirect cap). A url that redirects to two different
    targets across captures is collapsed deterministically to the
    lexicographic max target first (last-writer-wins needs a capture
    timestamp the edge table may not have; determinism is the
    contract). Edges with a NULL side are dropped up front (an
    unparseable Location header is not a pointer) — so the invariant
    holds that ``final_url`` is non-NULL exactly when ``unresolved``
    is false.

    Algorithm: pointer doubling (path halving) — round k composes the
    current table with itself, so a row covers min(2^k, chain_len)
    hops; ceil(log2(max_hops)) + 1 rounds settle every chain within the
    cap, unlike one-hop-per-round walking whose round count is the
    longest chain. Exact hop counts ride the composition (hops_a +
    hops_b), so the output is order- and partitioning-independent.

    Scale shape: each round is ONE self left-join of the redirect
    table (|sources| rows — a few percent of the corpus; never
    page-cardinality) keyed reach-vs-source, with only the PENDING
    rows probing (1-hop chains dominate real redirect tables, so the
    probe side shrinks geometrically after round 1; settled rows stay
    join targets and union back unchanged), checkpointed by
    ``materialize`` (reliable when the session has a checkpoint
    directory, executor-local otherwise) so the iterated lineage stays
    O(1) per round, with the pending count observed on the SAME action
    (one Spark action per round — the connected_components discipline)
    for early exit. A hot
    terminal (millions of chains converging on one homepage) skews the
    probe side of the join; AQE's skew-join split handles it because
    the build side key (source url) is unique."""
    import math

    cur = (
        edges.select(F.col(src_col).cast("string").alias("u"),
                     F.col(dst_col).cast("string").alias("_r"))
        .filter(F.col("u").isNotNull() & F.col("_r").isNotNull())
        .groupBy("u").agg(F.max("_r").alias("reach"))
        .select("u", "reach", F.lit(1).cast("long").alias("hops"),
                F.lit(False).alias("done"))
    )

    pending = F.coalesce(
        F.sum(F.when(~F.col("done"), 1).otherwise(0)), F.lit(0)
    ).alias("pending")
    cur, m = materialize(cur, pending)
    rounds = max(1, math.ceil(math.log2(max(2, int(max_hops)))) + 1)
    for _ in range(rounds):
        if not m["pending"]:
            break
        j = cur.select(F.col("u").alias("_ju"),
                       F.col("reach").alias("_jreach"),
                       F.col("hops").alias("_jhops"),
                       F.col("done").alias("_jdone"))
        # only pending rows probe the join (after round 1 most rows are
        # done on real redirect tables — 1-hop chains dominate); done
        # rows still serve as join TARGETS through j
        pend = cur.filter(~F.col("done"))
        terminal = F.col("_ju").isNull()
        nxt = (
            pend.join(j, pend["reach"] == j["_ju"], "left")
            .select(
                "u",
                F.when(terminal, F.col("reach"))
                .otherwise(F.col("_jreach")).alias("reach"),
                F.when(terminal, F.col("hops"))
                .otherwise(F.col("hops") + F.col("_jhops")).alias("hops"),
                (terminal | F.col("_jdone")).alias("done"),
            )
            .unionByName(cur.filter(F.col("done")))
        )
        cur, m = materialize(nxt, pending)
    ok = F.col("done") & (F.col("hops") <= F.lit(int(max_hops)))
    return cur.select(
        F.col("u").alias("url"),
        F.when(ok, F.col("reach")).alias("final_url"),
        F.when(ok, F.col("hops")).alias("hops"),
        (~ok).alias("unresolved"),
    )


def link_reciprocity(edges: DataFrame, src_col: str = "src_host",
                     dst_col: str = "dst_host", *,
                     min_out: int = 5,
                     farm_threshold: float = 0.6) -> DataFrame:
    """Per-host link-reciprocity census over the host graph — the
    classic link-farm signal (Gyöngyi & Garcia-Molina's web-spam
    taxonomy; Fetterly et al.'s spam statistics): organic linking is
    overwhelmingly one-directional, while farms that trade links to
    inflate rank produce hosts whose out-neighborhoods point straight
    back. Feeds the frontier the same way `url_pattern_census` does —
    a site-level demotion signal per-page analysis can't see.

    Returns (host, out_hosts, in_hosts, reciprocal_hosts, reciprocity,
    farm): distinct out-/in-neighbor counts (self-loops dropped,
    multiplicities collapsed — link COUNT farms are `host_graph`
    weight's job), ``reciprocity`` = share of out-neighbors that link
    back, and ``farm`` fires at ``min_out`` distinct out-neighbors AND
    ``reciprocity >= farm_threshold`` (a two-host mutual link is
    normal; fifty mutual partners is a ring). Hosts with in-links only
    appear with out_hosts = 0 and NULL reciprocity.

    Scale shape: one distinct pass over the edge table, a self
    equi-join on the reversed pair key (left-semi — nothing widens),
    and three host-keyed aggregations joined at host cardinality; every
    shuffle after the first is neighbor-pair- or host-sized, never
    page- or link-cardinality."""
    d = (edges.select(F.col(src_col).cast("string").alias("s"),
                      F.col(dst_col).cast("string").alias("t"))
         .filter(F.col("s").isNotNull() & F.col("t").isNotNull()
                 & (F.col("s") != F.col("t")))
         .distinct())
    rev = d.select(F.col("t").alias("s"), F.col("s").alias("t"))
    recip = (d.join(rev, ["s", "t"], "left_semi")
             .groupBy("s").agg(F.count(F.lit(1)).alias("reciprocal_hosts")))
    out_deg = d.groupBy("s").agg(F.count(F.lit(1)).alias("out_hosts"))
    in_deg = (d.groupBy("t").agg(F.count(F.lit(1)).alias("in_hosts"))
              .withColumnRenamed("t", "s"))
    stats = (out_deg.join(in_deg, "s", "full_outer")
             .join(recip, "s", "left")
             .select(
                 F.col("s").alias("host"),
                 F.coalesce("out_hosts", F.lit(0)).alias("out_hosts"),
                 F.coalesce("in_hosts", F.lit(0)).alias("in_hosts"),
                 F.coalesce("reciprocal_hosts", F.lit(0))
                 .alias("reciprocal_hosts")))
    reciprocity = F.when(
        F.col("out_hosts") > 0,
        F.round(F.col("reciprocal_hosts")
                / F.col("out_hosts").cast("double"), 8))
    return stats.select(
        "host", "out_hosts", "in_hosts", "reciprocal_hosts",
        reciprocity.alias("reciprocity"),
        ((F.col("out_hosts") >= int(min_out))
         & F.coalesce(reciprocity >= float(farm_threshold), F.lit(False))
         ).alias("farm"),
    )


def collapse_aliases(
    captures: DataFrame,
    edges: DataFrame,
    url_col: str = "url",
    max_hops: int = 32,
) -> DataFrame:
    """(canonical_url, n_alias_urls, n_captures) — capture dedup through
    the ALIAS GRAPH: redirect targets and ``rel=canonical`` declarations
    both say "this url is really that one"; union them into one pointer
    table (``links.redirect_candidates`` rows + ``canonical_link`` rows
    — same (src, dst) shape), resolve every chain to its terminal with
    ``resolve_chains``, and fold the capture index onto the finals.
    This is the canonicalization stage large index pipelines run before
    content dedup: a utm-tagged url whose page declares a canonical,
    which 301s to the https host, collapses three aliases into one row
    here instead of three near-duplicates downstream.

    Semantics ride on ``resolve_chains``: loops, self-pointers and
    over-``max_hops`` chains come back unresolved and KEEP THEIR OWN
    URL (a capture is never dropped — an unresolvable alias chain just
    fails to merge); urls with no alias edge map to themselves.  A url
    with both a redirect and a canonical edge collapses
    deterministically (lexicographic max target, resolve_chains'
    multi-target rule).

    Scale shape: the alias resolution works on |alias sources| rows
    (a few percent of the corpus); the capture fold is one equi join
    against that table plus a two-stage aggregation — (canonical, url)
    partial counts, then the canonical rollup — so no count_distinct
    expand and nothing page-cardinality shuffles twice."""
    aliases = resolve_chains(edges, max_hops=max_hops).filter(
        ~F.col("unresolved")
    ).select(F.col("url").alias(url_col), "final_url")
    canon = F.coalesce(F.col("final_url"), F.col(url_col))
    per_url = (
        captures.join(aliases, url_col, "left")
        .groupBy(canon.alias("canonical_url"), F.col(url_col).alias("u"))
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return per_url.groupBy("canonical_url").agg(
        F.count(F.lit(1)).cast("int").alias("n_alias_urls"),
        F.sum("_n").alias("n_captures"),
    )
