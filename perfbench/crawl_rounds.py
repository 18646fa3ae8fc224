"""The crawl loop's layers: ``plans.crawl.crawl()`` from a fresh state
directory for several rounds with ``default_outlinks``, run once in the
traced run of the ``frontier_round`` workload.

The round count reaches ``compact_every`` once (a full seen snapshot is
rewritten) and passes ``recrawl_ttl``, so the last round re-enqueues URLs
that came due. Seeds sit on the same 97 hosts as ``demo_robots`` and the
outlink generator, with a mega-host skew; they are a parquet file written
before the crawl starts.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from core import Check, dir_bytes
from stats import median

N_SEEDS = {"full": 20_000, "tiny": 300}
ROUNDS = 3
COMPACT_EVERY = 2
RECRAWL_TTL = 2
RECRAWL_PRIORITY = 95.0

#: traced Spark layers (one job group each)
LAYERS = ("plans.crawl.crawl", "plans.crawl.recrawl_due")


def seed_rows(spark, n: int, seed: int):
    """Seed candidates (url, priority, seq): 30% on host0, 15% on host1,
    the rest over hosts 2..96."""
    s = F.lit(seed)
    r = F.pmod(F.xxhash64(F.col("id") + 1, s), F.lit(100))
    hostnum = (
        F.when(r < 30, F.lit(0))
        .when(r < 45, F.lit(1))
        .otherwise(F.pmod(F.xxhash64(F.col("id") + 7, s), F.lit(95)) + 2)
    )
    return spark.range(0, n, 1, 8).select(
        F.concat(
            F.lit("http://host"), hostnum.cast("string"),
            F.lit(".example.com/seed/"), F.lit(str(seed)), F.lit("/"),
            F.col("id").cast("string"),
        ).alias("url"),
        (F.pmod(F.xxhash64(F.col("id") + 13, s), F.lit(1000)) / 10.0).alias(
            "priority"),
        F.col("id").alias("seq"),
    )


def commit_times(state_dir: str, rounds: int) -> list:
    """Wall-clock commit time of each round, from its ``_COMMIT`` marker."""
    out = []
    for n in range(1, rounds + 1):
        with open(os.path.join(state_dir, "round={0}".format(n),
                               "_COMMIT")) as f:
            out.append(float(f.read()))
    return out


def lineage_skew(lineage) -> float:
    rows = [p["rows"] for p in lineage]
    mid = median(rows) if rows else 0
    return max(rows) / mid if mid > 0 else 1.0


def trace_crawl(ctx, tracer, robots, cfg) -> tuple:
    """Run one traced crawl and return ``(per-layer metrics, checks)``.

    Per-round figures come from the metrics crawl() commits and from the
    ``_COMMIT`` markers: a round's wall time runs from the previous commit
    (or the call) to its own commit; ``commit_s`` is that minus the
    ``wall_sec`` crawl() measures up to the round's scheduling action, so it
    covers the snapshot writes. Two replays on the committed snapshot give
    the recrawl due-set read and, from the within-batch dedup, the
    seen-set's prune ratio."""
    from warcio_spark.plans.crawl import (
        FRONTIER_KEYED_COLS,
        RoundState,
        crawl,
        recrawl_due,
    )
    from warcio_spark.plans.frontier import (
        dedup_candidates,
        with_frontier_keys,
    )

    spark = ctx.spark
    seed_rows(spark, N_SEEDS[ctx.scale], ctx.seed).write.mode(
        "overwrite").parquet(ctx.path("crawl", "seeds"))
    seeds = spark.read.parquet(ctx.path("crawl", "seeds"))
    state_dir = ctx.path("crawl", "state")
    start = time.time()
    summary = tracer.call("plans.crawl.crawl", lambda: crawl(
        spark, seeds, robots, state_dir, rounds=ROUNDS, cfg=cfg,
        resume=False, compact_every=COMPACT_EVERY, recrawl_ttl=RECRAWL_TTL,
        recrawl_priority=RECRAWL_PRIORITY))
    rounds = summary["rounds"]
    commits = commit_times(state_dir, len(rounds))
    walls = [b - a for a, b in zip([start] + commits[:-1], commits)]
    state = RoundState(state_dir)

    def due(n):
        return recrawl_due(spark, state, n - 1, n, RECRAWL_TTL,
                           RECRAWL_PRIORITY)

    tracer.force_counted("plans.crawl.recrawl_due", due(ROUNDS))
    deduped = cands = 0
    for r in rounds[1:]:  # round 1 starts from an empty seen-set
        n = r["round"]
        frontier = state.read(spark, n - 1, "frontier")
        if n > RECRAWL_TTL:
            frontier = frontier.unionByName(
                with_frontier_keys(due(n)).select(*FRONTIER_KEYED_COLS))
        deduped += dedup_candidates(frontier).count()
        cands += r["n_candidates"]
    scheduled = sum(r["n_scheduled"] for r in rounds)
    metrics = {
        "plans.crawl.urls_per_s":
            scheduled / tracer.wall("plans.crawl.crawl"),
        "plans.crawl.round_wall_s": median(walls),
        "plans.crawl.partition_skew": median(
            [lineage_skew(r["scheduled_partition_lineage"]) for r in rounds]),
        "plans.crawl.commit_s": median(
            [w - r["wall_sec"] for w, r in zip(walls, rounds)]),
        "plans.crawl.snapshot_bytes_per_url":
            dir_bytes(state_dir) / rounds[-1]["n_seen"],
        "plans.crawl.not_seen_pruned_ratio": 1.0 - cands / deduped,
    }
    return metrics, check_crawl(spark, seeds, robots, cfg, state_dir)


def check_crawl(spark, seeds, robots, cfg, state_dir: str) -> list:
    """The crawl gate: every round committed with a contiguous fetch order,
    compaction and recrawl happened, and the fetch log and seen-set equal
    those of the single-process oracle crawler on the same seeds."""
    from warcio_spark.plans import reference_crawler as oracle
    from warcio_spark.plans.crawl import RoundState, fetch_log, oracle_outlinks

    state = RoundState(state_dir)
    got_log = [
        (r["round"], r["fetch_order"], r["url_canon"])
        for r in fetch_log(spark, state_dir)
        .orderBy("round", "fetch_order").collect()
    ]
    got_seen = {
        r.url_canon for r in state.read_seen(spark, state.last_round())
        .select("url_canon").distinct().collect()
    }
    per_round: dict = {}
    for rnd, fo, _ in got_log:
        per_round.setdefault(rnd, []).append(fo)
    canon = [c for _, _, c in got_log]

    want_log, want_seen = oracle.crawl(
        [r.asDict() for r in seeds.orderBy("seq").collect()],
        {r.host: {"allowed": r.allowed, "crawl_delay": r.crawl_delay}
         for r in robots.collect()},
        oracle_outlinks, rounds=ROUNDS,
        cfg=oracle.OracleConfig(cfg.slot_seconds, cfg.default_crawl_delay,
                                cfg.max_host_budget),
        recrawl_ttl=RECRAWL_TTL, recrawl_priority=RECRAWL_PRIORITY)
    return [
        Check("crawl.rounds_committed",
              state.committed_rounds() == list(range(1, ROUNDS + 1))
              and all(fos == list(range(1, len(fos) + 1))
                      for fos in per_round.values()),
              "rounds {0}".format(state.committed_rounds())),
        Check("crawl.compacted",
              os.path.isdir(os.path.join(state.round_dir(COMPACT_EVERY),
                                         "seen")), ""),
        Check("crawl.recrawled", len(canon) > len(set(canon)),
              "{0} fetches, {1} distinct".format(len(canon), len(set(canon)))),
        Check("crawl.oracle_fetch_order",
              got_log == sorted(want_log, key=lambda t: (t[0], t[1])),
              "{0} engine vs {1} oracle fetches".format(len(got_log),
                                                         len(want_log))),
        Check("crawl.oracle_seen_set", got_seen == want_seen,
              "{0} vs {1} urls".format(len(got_seen), len(want_seen))),
    ]
