"""Frontier/crawl parity: the Spark engine must reproduce the single-process
oracle crawler's fetch ordering + URL-seen set exactly, at any partitioning
(BASELINE.json:2,6 correctness gate)."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from warcio_spark.plans import crawl as crawlmod
from warcio_spark.plans import reference_crawler as oracle
from warcio_spark.plans.frontier import (
    PolitenessConfig,
    fetch_order,
    prepare_candidates,
    schedule_round,
)

CFG = PolitenessConfig(slot_seconds=60, default_crawl_delay=5.0,
                       max_host_budget=100, salt_buckets=4)
OCFG = oracle.OracleConfig(slot_seconds=60, default_crawl_delay=5.0,
                           max_host_budget=100)


def make_candidates(n=800):
    """Deterministic candidates with dup urls, Zipf hosts, URL edge cases."""
    cands = []
    for i in range(n):
        h = 0 if i % 10 < 3 else (1 if i % 10 < 5 else 2 + (i * 7) % 37)
        host = f"host{h}.example.com"
        variant = i % 11
        if variant == 0:
            url = f"HTTP://{host.upper()}/p/{i}"
        elif variant == 1:
            url = f"http://{host}:80/p/{i}"
        elif variant == 2:
            url = f"http://{host}/a/../p/{i}"
        elif variant == 3:
            url = f"http://{host}/p/{i - 3 if i >= 3 else i}"  # dup of i-3
        else:
            url = f"http://{host}/p/{i}?q={i % 5}"
        cands.append(
            {"url": url, "priority": float((i * 13) % 100) / 2, "seq": i}
        )
    return cands


def make_robots():
    robots = {}
    for h in list(range(40)):
        host = f"host{h}.example.com"
        robots[host] = {
            "allowed": h % 13 != 1,
            "crawl_delay": 2.0 + (h % 4) * 3.0,
        }
    return robots


def robots_df(spark, robots):
    rows = [
        (host, r["allowed"], r["crawl_delay"]) for host, r in robots.items()
    ]
    return spark.createDataFrame(
        rows, "host string, allowed boolean, crawl_delay double"
    )


def spark_schedule(spark, cands, seen_canon, robots, partitions):
    raw = spark.createDataFrame(
        [(c["url"], c["priority"], c["seq"]) for c in cands],
        "url string, priority double, seq long",
    ).repartition(partitions)
    seen = (
        spark.createDataFrame([(u,) for u in seen_canon], "url_canon string")
        .select(F.xxhash64("url_canon").alias("url_hash"))
        if seen_canon
        else None
    )
    prepped = prepare_candidates(raw, seen, robots_df(spark, robots), CFG)
    out = fetch_order(schedule_round(prepped, CFG))
    return [
        (r.fetch_order, r.url_canon, r.host_rank, r.fetch_ts_offset)
        for r in out.orderBy("fetch_order").collect()
    ]


@pytest.mark.parametrize("partitions", [1, 7])
def test_schedule_round_matches_oracle(spark, partitions):
    cands = make_candidates()
    robots = make_robots()
    seen = {oracle.canonicalize_url(c["url"]) for c in cands[::9]}

    want = [
        (c["fetch_order"], c["url_canon"], c["host_rank"], c["fetch_ts_offset"])
        for c in oracle.schedule(cands, seen, robots, OCFG)
    ]
    got = spark_schedule(spark, cands, seen, robots, partitions)
    assert got == want
    assert len(got) > 50


def test_schedule_respects_budget_and_politeness(spark):
    cands = make_candidates()
    robots = make_robots()
    picked = oracle.schedule(cands, set(), robots, OCFG)
    per_host = {}
    for c in picked:
        per_host.setdefault(c["host"], []).append(c)
    for host, items in per_host.items():
        budget = OCFG.budget(items[0]["crawl_delay"])
        assert len(items) <= budget
        # token-bucket offsets strictly increase per host
        offs = [c["fetch_ts_offset"] for c in sorted(items, key=lambda x: x["host_rank"])]
        assert offs == sorted(offs)
    # denied hosts never scheduled
    for c in picked:
        assert robots[c["host"]]["allowed"]


@pytest.mark.parametrize("shuffle", [1, 16], ids=lambda s: f"shuffle{s}")
@pytest.mark.parametrize("partitions", [2, 9])
def test_multi_round_crawl_matches_oracle(spark, partitions, shuffle,
                                          tmp_path):
    """Same fetch log and seen set as the oracle at any input partitioning
    and any shuffle parallelism (1 vs 16 partitions: N vs 16N)."""
    cands = make_candidates(300)
    robots = make_robots()

    want_log, want_seen = oracle.crawl(
        cands, robots, crawlmod.oracle_outlinks, rounds=3, cfg=OCFG
    )

    seeds = spark.createDataFrame(
        [(c["url"], c["priority"], c["seq"]) for c in cands],
        "url string, priority double, seq long",
    ).repartition(partitions)
    state_dir = str(tmp_path / f"crawl_{partitions}")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
    try:
        crawlmod.crawl(spark, seeds, robots_df(spark, robots), state_dir,
                       rounds=3, cfg=CFG)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    got = [
        (r.round, r.fetch_order, r.url_canon)
        for r in crawlmod.fetch_log(spark, state_dir)
        .orderBy("round", "fetch_order")
        .collect()
    ]
    assert got == sorted(want_log, key=lambda t: (t[0], t[1]))

    state = crawlmod.RoundState(state_dir)
    got_seen = {
        r.url_canon
        for r in state.read(spark, state.last_round(), "seen").collect()
    }
    assert got_seen == want_seen


def test_crawl_resume_is_exact(spark, tmp_path):
    """Stop after round 2, resume for 2 more — identical to 4 straight."""
    cands = make_candidates(300)
    robots = make_robots()
    seeds = spark.createDataFrame(
        [(c["url"], c["priority"], c["seq"]) for c in cands],
        "url string, priority double, seq long",
    )
    rdf = robots_df(spark, robots)

    d_full = str(tmp_path / "full")
    crawlmod.crawl(spark, seeds, rdf, d_full, rounds=4, cfg=CFG)

    d_resume = str(tmp_path / "resume")
    crawlmod.crawl(spark, seeds, rdf, d_resume, rounds=2, cfg=CFG)
    crawlmod.crawl(spark, seeds, rdf, d_resume, rounds=2, cfg=CFG, resume=True)

    a = [
        (r.round, r.fetch_order, r.url_canon)
        for r in crawlmod.fetch_log(spark, d_full).orderBy("round", "fetch_order").collect()
    ]
    b = [
        (r.round, r.fetch_order, r.url_canon)
        for r in crawlmod.fetch_log(spark, d_resume).orderBy("round", "fetch_order").collect()
    ]
    assert a == b
    assert len({r for r, _, _ in a}) == 4
    # no compaction yet: every round's scheduled file is a seen delta, its
    # fetch_round parsed from the file's round=N directory
    st = crawlmod.RoundState(d_resume)
    _, deltas = st.read_seen_parts(spark, st.last_round())
    assert sorted(
        (r.url_canon, r.fetch_round) for r in deltas.collect()
    ) == sorted((u, r) for r, _, u in b)


def test_mega_host_skew_budget_exact(spark):
    """A single mega-host with 50k candidates: the salted two-phase window
    must return exactly the same top-budget set as the oracle."""
    cands = [
        {"url": f"http://mega.example.com/p/{i}",
         "priority": float((i * 17) % 997) / 10, "seq": i}
        for i in range(50_000)
    ] + [
        {"url": f"http://tiny{i}.example.com/", "priority": 1.0, "seq": 100_000 + i}
        for i in range(20)
    ]
    robots = {"mega.example.com": {"allowed": True, "crawl_delay": 1.0}}
    cfg32 = PolitenessConfig(slot_seconds=60, default_crawl_delay=5.0,
                             max_host_budget=40, salt_buckets=8)
    ocfg = oracle.OracleConfig(slot_seconds=60, default_crawl_delay=5.0,
                               max_host_budget=40)
    want = [
        (c["fetch_order"], c["url_canon"])
        for c in oracle.schedule(cands, set(), robots, ocfg)
    ]
    raw = spark.createDataFrame(
        [(c["url"], c["priority"], c["seq"]) for c in cands],
        "url string, priority double, seq long",
    ).repartition(16)
    prepped = prepare_candidates(raw, None, robots_df(spark, robots), cfg32)
    got = [
        (r.fetch_order, r.url_canon)
        for r in fetch_order(schedule_round(prepped, cfg32))
        .orderBy("fetch_order").collect()
    ]
    assert got == want
    mega = [u for _, u in got if "mega" in u]
    assert len(mega) == 40  # budget cap exact under skew


def test_not_seen_is_exact_anti_join(spark):
    """not_seen removes exactly the seen hashes, in one LeftAnti join with
    no Python node. The keyed inputs are checkpointed first: keying has its
    own Python branch (the canonicalizer's split-union), and an anti-join
    over that union would be pushed into each branch."""
    from warcio_spark.plans.frontier import not_seen, with_frontier_keys

    def universe(n):
        return with_frontier_keys(
            spark.range(0, n, 1, 8).select(
                F.concat(F.lit("http://h"), F.pmod("id", F.lit(37)).cast("string"),
                         F.lit(".com/p/"), F.col("id").cast("string")).alias("url"),
                F.lit(1.0).alias("priority"),
                F.col("id").alias("seq"),
            )
        )

    cands = universe(30_000).localCheckpoint()
    seen = universe(9_000).select("url_hash").localCheckpoint()
    got = not_seen(cands, seen).select("url_hash")
    rows = [r.url_hash for r in got.collect()]
    want = ({r.url_hash for r in cands.select("url_hash").collect()}
            - {r.url_hash for r in seen.collect()})
    assert len(rows) == 21_000
    assert set(rows) == want

    plan = got._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # the final plan, not the initial one too
    plan = plan.toString()
    assert plan.count("LeftAnti") == 1
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


def test_crawl_resume_across_compaction_boundary(spark, tmp_path):
    """compact_every=2: resume after a compaction round and after a
    delta-only round both reproduce the straight-through crawl exactly,
    and the seen deltas are the rounds' scheduled files, with fetch_round
    taken from each file's round directory."""
    import os

    cands = make_candidates(300)
    robots = make_robots()
    seeds = spark.createDataFrame(
        [(c["url"], c["priority"], c["seq"]) for c in cands],
        "url string, priority double, seq long",
    )
    rdf = robots_df(spark, robots)

    d_full = str(tmp_path / "full")
    crawlmod.crawl(spark, seeds, rdf, d_full, rounds=4, cfg=CFG, compact_every=2)

    d_resume = str(tmp_path / "resume")
    crawlmod.crawl(spark, seeds, rdf, d_resume, rounds=3, cfg=CFG, compact_every=2)
    crawlmod.crawl(spark, seeds, rdf, d_resume, rounds=1, cfg=CFG,
                   compact_every=2, resume=True)

    a = [(r.round, r.fetch_order, r.url_canon)
         for r in crawlmod.fetch_log(spark, d_full)
         .orderBy("round", "fetch_order").collect()]
    b = [(r.round, r.fetch_order, r.url_canon)
         for r in crawlmod.fetch_log(spark, d_resume)
         .orderBy("round", "fetch_order").collect()]
    assert a == b

    st = crawlmod.RoundState(d_full)
    last = st.last_round()
    # full snapshots only on compaction rounds; no separate delta table
    for n in st.committed_rounds():
        rd = st.round_dir(n)
        assert not os.path.exists(os.path.join(rd, "seen_delta"))
        assert os.path.isdir(os.path.join(rd, "seen")) == (n % 2 == 0)
        # lineage (from the Parquet footers) sums to the round's fetches
        m = st.read_metrics(n)
        rows = sum(p["rows"] for p in m["scheduled_partition_lineage"])
        assert rows == m["n_scheduled"] == sum(1 for r, _, _ in a if r == n) > 0
        # the deltas are exactly the fetches after the base snapshot
        base_round = n - n % 2
        _, deltas = st.read_seen_parts(spark, n)
        want = sorted((u, r) for r, _, u in a if base_round < r <= n)
        got = sorted(
            (r.url_canon, r.fetch_round)
            for r in deltas.select("url_canon", "fetch_round").collect()
        ) if deltas is not None else []
        assert got == want
    # merged view has no duplicates and matches the tracked total
    seen = st.read_seen(spark, last)
    assert seen.count() == seen.select("url_hash").distinct().count()
    assert seen.count() == st.read_metrics(last)["n_seen"]


def test_fetch_order_boundaries_and_tracker_match_default(spark):
    """Precomputed boundaries + persist_tracker (the crawl fast path) and
    the zero-argument path produce the same global rank as a naive global
    window."""
    from pyspark.sql import Window

    from warcio_spark.plans.frontier import sample_order_boundaries

    df = spark.range(0, 20_000, 1, 8).select(
        (F.pmod(F.xxhash64("id"), F.lit(97)) / 10.0).alias("priority"),
        F.col("id").alias("seq"),
        F.concat(F.lit("http://h/"), F.col("id").cast("string")).alias("url_canon"),
    )
    w = Window.orderBy(F.desc("priority"), F.asc("seq"), F.asc("url_canon"))
    want = [(r.fetch_order, r.url_canon) for r in df.withColumn(
        "fetch_order", F.row_number().over(w).cast("long")
    ).orderBy("fetch_order").collect()]

    got_default = [(r.fetch_order, r.url_canon)
                   for r in fetch_order(df).orderBy("fetch_order").collect()]
    assert got_default == want

    bounds = sample_order_boundaries(df, 8)
    tracker = []
    got_fast = [(r.fetch_order, r.url_canon)
                for r in fetch_order(df, boundaries=bounds, persist_tracker=tracker)
                .orderBy("fetch_order").collect()]
    assert got_fast == want
    assert len(tracker) == 1
    for d in tracker:
        d.unpersist(blocking=True)

    # degenerate distribution: every priority equal -> one range, still exact
    flat = df.withColumn("priority", F.lit(1.0))
    w2 = Window.orderBy(F.desc("priority"), F.asc("seq"), F.asc("url_canon"))
    want2 = [(r.fetch_order, r.url_canon) for r in flat.withColumn(
        "fetch_order", F.row_number().over(w2).cast("long")
    ).orderBy("fetch_order").collect()]
    got2 = [(r.fetch_order, r.url_canon)
            for r in fetch_order(flat).orderBy("fetch_order").collect()]
    assert got2 == want2


def test_fetch_order_null_priority_ranks_last(spark):
    """NULL priorities must sort exactly like a bare desc window (NULLS
    LAST, then seq/url tiebreak) — the range-id expression routes them to
    the final range instead of letting `NULL < boundary` land them in
    range 0."""
    from pyspark.sql import Window

    from warcio_spark.plans.frontier import sample_order_boundaries

    rows = [
        ("u%03d" % i, float(i % 13) if i % 5 else None, i)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "url_canon string, priority double, seq long")
    bounds = sample_order_boundaries(df, 8)
    got = [
        r.url_canon
        for r in fetch_order(df, boundaries=bounds)
        .orderBy("fetch_order").collect()
    ]
    w = Window.orderBy(
        F.desc("priority"), F.asc("seq"), F.asc("url_canon")
    )
    want = [
        r.url_canon
        for r in df.withColumn("fo", F.row_number().over(w))
        .orderBy("fo").collect()
    ]
    assert got == want


def test_recrawl_ttl_matches_oracle(spark, tmp_path):
    """Freshness semantics: with recrawl_ttl, urls age out of the seen-set
    and are re-enqueued + refetched — engine fetch log must match the
    oracle crawler exactly, including refetch rounds and ordering."""
    cands = make_candidates(200)
    robots = make_robots()

    want_log, _ = oracle.crawl(cands, robots, crawlmod.oracle_outlinks,
                               rounds=5, cfg=OCFG, recrawl_ttl=2)
    # the scenario actually exercises refetching
    canons = [t[2] for t in want_log]
    assert len(canons) > len(set(canons)), "no url was ever refetched"

    seeds = spark.createDataFrame(
        [(c["url"], c["priority"], c["seq"]) for c in cands],
        "url string, priority double, seq long",
    ).repartition(4)
    state_dir = str(tmp_path / "crawl_ttl")
    crawlmod.crawl(spark, seeds, robots_df(spark, robots), state_dir,
                   rounds=5, cfg=CFG, recrawl_ttl=2)

    got = [
        (r.round, r.fetch_order, r.url_canon)
        for r in crawlmod.fetch_log(spark, state_dir)
        .orderBy("round", "fetch_order")
        .collect()
    ]
    assert got == sorted(want_log, key=lambda t: (t[0], t[1]))


def test_recrawl_resume_is_exact(spark, tmp_path):
    """Freshness + checkpointing: stop after round 2, resume for 2 more —
    identical fetch log to 4 straight rounds (the due-set derives from the
    committed seen snapshots, so resume is exact by construction)."""
    cands = make_candidates(150)
    seeds = spark.createDataFrame(
        [(c["url"], c["priority"], c["seq"]) for c in cands],
        "url string, priority double, seq long",
    ).repartition(3)
    rdf = robots_df(spark, make_robots())

    d_full = str(tmp_path / "ttl_full")
    d_res = str(tmp_path / "ttl_res")
    crawlmod.crawl(spark, seeds, rdf, d_full, rounds=4, cfg=CFG,
                   recrawl_ttl=2)
    crawlmod.crawl(spark, seeds, rdf, d_res, rounds=2, cfg=CFG,
                   recrawl_ttl=2)
    crawlmod.crawl(spark, seeds, rdf, d_res, rounds=2, cfg=CFG,
                   recrawl_ttl=2, resume=True)

    full = [
        (r.round, r.fetch_order, r.url_canon)
        for r in crawlmod.fetch_log(spark, d_full)
        .orderBy("round", "fetch_order").collect()
    ]
    res = [
        (r.round, r.fetch_order, r.url_canon)
        for r in crawlmod.fetch_log(spark, d_res)
        .orderBy("round", "fetch_order").collect()
    ]
    assert full == res
    canons = [t[2] for t in full]
    assert len(canons) > len(set(canons))  # refetches crossed the boundary


def test_recrawl_survives_drained_frontier(spark, tmp_path):
    """With recrawl, an idle round must COMMIT and keep ticking so fetched
    urls age toward their ttl — a drained frontier (no outlinks) still
    refetches once urls age out, matching the oracle exactly."""
    cands = [
        {"url": f"http://host{i}.example.com/only/{i}",
         "priority": 10.0 + i, "seq": i}
        for i in range(3)
    ]

    def no_outlinks_oracle(c):
        return []

    def no_outlinks_engine(scheduled):
        return scheduled.select("url", "priority", "seq").limit(0)

    want_log, _ = oracle.crawl(cands, {}, no_outlinks_oracle, rounds=5,
                               cfg=OCFG, recrawl_ttl=2)
    rounds_seen = {t[0] for t in want_log}
    assert rounds_seen == {1, 3, 5}, rounds_seen  # refetch every ttl rounds

    seeds = spark.createDataFrame(
        [(c["url"], c["priority"], c["seq"]) for c in cands],
        "url string, priority double, seq long",
    )
    state_dir = str(tmp_path / "drained")
    crawlmod.crawl(spark, seeds, None, state_dir, rounds=5, cfg=CFG,
                   outlinks_fn=no_outlinks_engine, recrawl_ttl=2)
    got = [
        (r.round, r.fetch_order, r.url_canon)
        for r in crawlmod.fetch_log(spark, state_dir)
        .orderBy("round", "fetch_order").collect()
    ]
    assert got == sorted(want_log, key=lambda t: (t[0], t[1]))


def test_recrawl_across_compaction_matches_oracle(spark, tmp_path):
    """The incremental due-set (fetch_round-partitioned base snapshot,
    pruned to stale partitions, plus post-compaction deltas) must
    reproduce the oracle exactly when compaction lands mid-recrawl —
    including exact resume across both boundaries."""
    cands = make_candidates(200)
    robots = make_robots()
    want_log, _ = oracle.crawl(cands, robots, crawlmod.oracle_outlinks,
                               rounds=7, cfg=OCFG, recrawl_ttl=2)
    canons = [t[2] for t in want_log]
    assert len(canons) > len(set(canons)), "no url was ever refetched"

    seeds = spark.createDataFrame(
        [(c["url"], c["priority"], c["seq"]) for c in cands],
        "url string, priority double, seq long",
    ).repartition(4)
    rdf = robots_df(spark, robots)

    d_full = str(tmp_path / "ttl_compact")
    crawlmod.crawl(spark, seeds, rdf, d_full, rounds=7, cfg=CFG,
                   recrawl_ttl=2, compact_every=2)
    st = crawlmod.RoundState(d_full)
    base_path, _deltas = st.seen_paths(st.last_round())
    assert base_path is not None, "compaction never produced a snapshot"
    assert any(
        d.startswith("fetch_round=") for d in os.listdir(base_path)
    ), "snapshot is not partitioned by fetch_round"

    got = [
        (r.round, r.fetch_order, r.url_canon)
        for r in crawlmod.fetch_log(spark, d_full)
        .orderBy("round", "fetch_order").collect()
    ]
    assert got == sorted(want_log, key=lambda t: (t[0], t[1]))

    # resume leg: 4 rounds, then 3 more, crossing compaction AND ttl
    d_res = str(tmp_path / "ttl_compact_res")
    crawlmod.crawl(spark, seeds, rdf, d_res, rounds=4, cfg=CFG,
                   recrawl_ttl=2, compact_every=2)
    crawlmod.crawl(spark, seeds, rdf, d_res, rounds=3, cfg=CFG,
                   recrawl_ttl=2, compact_every=2, resume=True)
    res = [
        (r.round, r.fetch_order, r.url_canon)
        for r in crawlmod.fetch_log(spark, d_res)
        .orderBy("round", "fetch_order").collect()
    ]
    assert res == got


def test_recrawl_due_prunes_snapshot_partitions(spark, tmp_path):
    """recrawl_due's scan of the compacted snapshot must carry a
    fetch_round partition filter — the property that caps its cost at
    O(stale + delta) instead of O(total seen) at 10^10 keys."""
    cands = make_candidates(120)
    seeds = spark.createDataFrame(
        [(c["url"], c["priority"], c["seq"]) for c in cands],
        "url string, priority double, seq long",
    )
    d = str(tmp_path / "prune")
    crawlmod.crawl(spark, seeds, None, d, rounds=6, cfg=CFG,
                   recrawl_ttl=3, compact_every=2)
    st = crawlmod.RoundState(d)
    last = st.last_round()
    due = crawlmod.recrawl_due(spark, st, last, last + 1, 3, 95.0)
    plan = due._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "fetch_round" in plan, plan[:2000]
    # and the due-set itself matches the full-aggregation definition
    seen = st.read_seen(spark, last)
    want = {
        (r.url_canon, r._s0)
        for r in seen.groupBy("url_hash", "url_canon")
        .agg(F.max("fetch_round").alias("_lf"), F.min("seq").alias("_s0"))
        .filter(F.col("_lf") <= last + 1 - 3)
        .collect()
    }
    got = {
        (r.url, r.seq - crawlmod.RECRAWL_SEQ_BASE)
        for r in due.collect()
    }
    assert got == {(c, s % (1 << 40)) for c, s in want}


def test_concurrent_writer_fails_fast(spark, tmp_path):
    """A second crawl() against a leased state_dir errors cleanly (no
    partial writes), the state stays resumable, and a stale lease from a
    crashed writer is taken over."""
    import json
    import time as _time

    seeds = spark.createDataFrame(
        [(c["url"], c["priority"], c["seq"]) for c in make_candidates(60)],
        "url string, priority double, seq long",
    )
    d = str(tmp_path / "leased")
    crawlmod.crawl(spark, seeds, None, d, rounds=2, cfg=CFG)
    assert not os.path.exists(os.path.join(d, "_LEASE"))  # released

    holder = crawlmod.acquire_lease(d, ttl_sec=3600)
    before = crawlmod.RoundState(d).committed_rounds()
    with pytest.raises(crawlmod.CrawlLeaseError):
        crawlmod.crawl(spark, seeds, None, d, rounds=2, cfg=CFG, resume=True)
    assert crawlmod.RoundState(d).committed_rounds() == before  # untouched

    crawlmod.release_lease(d, holder)
    crawlmod.crawl(spark, seeds, None, d, rounds=2, cfg=CFG, resume=True)
    assert crawlmod.RoundState(d).last_round() == 4

    # crashed writer: heartbeat older than ttl => takeover succeeds
    with open(os.path.join(d, "_LEASE"), "w") as f:
        json.dump({"token": "dead", "pid": 0, "ts": _time.time() - 9999}, f)
    crawlmod.crawl(spark, seeds, None, d, rounds=1, cfg=CFG, resume=True,
                   lease_ttl_sec=60)
    assert crawlmod.RoundState(d).last_round() == 5
    assert not os.path.exists(os.path.join(d, "_LEASE"))


def test_lease_fencing_detects_takeover(tmp_path):
    """If our lease is stolen mid-stall, renew_lease (called before every
    round commit) must abort rather than write over the thief's state."""
    import json
    import time as _time

    d = str(tmp_path / "fence")
    token = crawlmod.acquire_lease(d, ttl_sec=3600)
    with open(os.path.join(d, "_LEASE"), "w") as f:
        json.dump({"token": "thief", "pid": 1, "ts": _time.time()}, f)
    with pytest.raises(crawlmod.CrawlLeaseError):
        crawlmod.renew_lease(d, token)


_SECOND_CRAWL_DRIVER = r"""
import sys

sys.path.insert(0, sys.argv[2])
from pyspark.sql import SparkSession

from warcio_spark.plans import crawl as crawlmod

spark = (
    SparkSession.builder.master("local[1]")
    .appName("lease-race-second-writer")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()
)
seeds = spark.createDataFrame(
    [("http://race.example/x", 50.0, 0)],
    "url string, priority double, seq long",
)
try:
    crawlmod.crawl(spark, seeds, None, sys.argv[1], rounds=1, resume=True)
except crawlmod.CrawlLeaseError:
    print("LEASE_DENIED")
    sys.exit(7)
sys.exit(0)
"""

_STEAL_RACER = r"""
import sys

sys.path.insert(0, sys.argv[2])
from warcio_spark.plans import crawl as crawlmod

try:
    token = crawlmod.acquire_lease(sys.argv[1], ttl_sec=0.5)
    print("WIN " + token)
except crawlmod.CrawlLeaseError:
    print("LOSE")
"""


def test_lease_race_real_second_process(spark, tmp_path):
    """True cross-process concurrency for the writer lease
    (plans/crawl.py acquire/renew/release): a REAL second python process
    running crawl() against a leased state_dir exits with CrawlLeaseError
    before touching any round state, and two racing processes stealing
    the same stale lease produce at most one winner."""
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    seeds = spark.createDataFrame(
        [(c["url"], c["priority"], c["seq"]) for c in make_candidates(40)],
        "url string, priority double, seq long",
    )
    d = str(tmp_path / "xproc")
    crawlmod.crawl(spark, seeds, None, d, rounds=2, cfg=CFG)
    st = crawlmod.RoundState(d)
    before_rounds = st.committed_rounds()
    before_log = {
        (r.url, r.seq)
        for r in st.read(spark, before_rounds[-1], "scheduled")
        .select("url", "seq").collect()
    }

    holder = crawlmod.acquire_lease(d, ttl_sec=3600)
    try:
        proc = subprocess.run(
            [_sys.executable, "-c", _SECOND_CRAWL_DRIVER, d, repo],
            capture_output=True, text=True, timeout=300,
        )
        assert proc.returncode == 7, (proc.stdout, proc.stderr)
        assert "LEASE_DENIED" in proc.stdout
    finally:
        crawlmod.release_lease(d, holder)
    # first crawl's committed state is byte-for-byte untouched
    assert crawlmod.RoundState(d).committed_rounds() == before_rounds
    after_log = {
        (r.url, r.seq)
        for r in st.read(spark, before_rounds[-1], "scheduled")
        .select("url", "seq").collect()
    }
    assert after_log == before_log


def test_lease_stale_steal_race_two_processes(tmp_path):
    """Two real processes race the stale-steal path concurrently: at most
    one returns success (the settle-and-confirm re-read), and the loser
    raises CrawlLeaseError instead of silently double-owning."""
    import json as _json
    import subprocess
    import sys as _sys
    import time as _time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    d = str(tmp_path / "steal")
    os.makedirs(d)
    with open(os.path.join(d, "_LEASE"), "w") as f:
        _json.dump({"token": "dead", "pid": 0, "ts": _time.time() - 9999}, f)

    procs = [
        subprocess.Popen(
            [_sys.executable, "-c", _STEAL_RACER, d, repo],
            stdout=subprocess.PIPE, text=True,
        )
        for _ in range(2)
    ]
    outs = [p.communicate(timeout=120)[0].strip() for p in procs]
    wins = [o for o in outs if o.startswith("WIN")]
    assert len(wins) <= 1, outs
    assert len(wins) + outs.count("LOSE") == 2, outs
    if wins:
        # the surviving lease on disk carries the winner's token
        with open(os.path.join(d, "_LEASE")) as f:
            assert _json.load(f)["token"] == wins[0].split()[1]


def test_lease_fencing_after_cross_process_steal(tmp_path):
    """Steal-after-ttl observed from the victim's side, cross-process: a
    second process takes over our expired lease; our next renew_lease
    (the pre-commit fence) must abort."""
    import subprocess
    import sys as _sys
    import time as _time

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    d = str(tmp_path / "fencex")
    token = crawlmod.acquire_lease(d, ttl_sec=3600)
    _time.sleep(0.6)  # let the heartbeat age past the thief's 0.5s ttl
    proc = subprocess.run(
        [_sys.executable, "-c", _STEAL_RACER, d, repo],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.stdout.startswith("WIN"), (proc.stdout, proc.stderr)
    with pytest.raises(crawlmod.CrawlLeaseError):
        crawlmod.renew_lease(d, token)
    # and release of our stale token must NOT delete the thief's lease
    crawlmod.release_lease(d, token)
    assert os.path.exists(os.path.join(d, "_LEASE"))
