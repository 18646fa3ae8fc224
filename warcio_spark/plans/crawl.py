"""Batch-incremental crawl loop with checkpointed rounds (north rule §2.9).

Each round is one atomic commit: schedule -> fetch(simulated) -> expand
outlinks -> merge seen -> persist. State lives in parquet "snapshots" behind
a thin shim (``RoundState``) with the Iceberg semantics the north rule needs
— atomic round commit (a _COMMIT marker written last) and exact resume from
the last committed round. Swap the shim for an Iceberg catalog on a real
cluster; the plan shapes don't change.

A round writes what it fetched once: the ``scheduled`` table is the round's
driving action, its files are the round's seen delta, and its Parquet
footers give the per-partition lineage (rows per writing task) — the
observability hook BASELINE.json:14 asks for, at no extra Spark job.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from warcio_spark.plans.frontier import (
    PolitenessConfig,
    fetch_order,
    prepare_candidates,
    sample_order_boundaries,
    schedule_round,
    with_frontier_keys,
)

FRONTIER_COLS = ["url", "priority", "seq"]
# checkpointed frontiers persist their canonical keys so later rounds skip
# re-canonicalizing the carried-over majority (prepare_candidates detects it)
FRONTIER_KEYED_COLS = ["url", "priority", "seq", "url_canon", "url_hash", "host"]
# fetch_round + the scheduled seq ride along in the seen-set so freshness
# (recrawl_ttl) can age urls out and re-enqueue them deterministically
SEEN_COLS = ["url_hash", "url_canon", "fetch_round", "seq"]
SEEN_SCHEMA = "url_hash long, url_canon string, fetch_round int, seq long"
# a round's seen delta is its scheduled table, fetch_round its round=N dir
DELTA_SCHEMA = "url_hash long, url_canon string, seq long"
_DELTA_ROUND_RX = r"/round=(\d+)/scheduled/[^/]+$"
RECRAWL_SEQ_BASE = 1 << 50  # mirrored in reference_crawler.py


class CrawlLeaseError(RuntimeError):
    """Another live writer holds this state_dir's lease — a second
    concurrent ``crawl()`` would silently corrupt snapshots, so it fails
    fast here instead."""


def _lease_path(state_dir: str) -> str:
    return os.path.join(state_dir, "_LEASE")


def acquire_lease(state_dir: str, ttl_sec: float) -> str:
    """Single-writer guard for the parquet-snapshot shim (the shim-level
    analog of Iceberg's optimistic-concurrency commit conflict): create
    ``_LEASE`` with O_EXCL, or take over a lease whose heartbeat is older
    than ``ttl_sec`` (a crashed writer). Returns the holder token; a live
    competing lease raises ``CrawlLeaseError``."""
    import uuid

    os.makedirs(state_dir, exist_ok=True)
    path = _lease_path(state_dir)
    token = uuid.uuid4().hex
    payload = json.dumps(
        {"token": token, "pid": os.getpid(), "ts": time.time()}
    )
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as f:
            f.write(payload)
        return token
    except FileExistsError:
        pass
    try:
        with open(path) as f:
            cur = json.load(f)
    except Exception:
        cur = {}
    age = time.time() - float(cur.get("ts", 0))
    if age < ttl_sec:
        raise CrawlLeaseError(
            "state dir {0} is leased by pid {1} ({2:.0f}s ago; ttl {3:.0f}s) "
            "— a second concurrent crawl() would corrupt snapshots. Wait, "
            "or remove {4} if that writer is known dead.".format(
                state_dir, cur.get("pid"), age, ttl_sec, path
            )
    )
    # stale lease: steal via atomic replace, then settle and re-read to
    # confirm we won. The randomized settle delay shrinks the window where
    # two stealers each replace-then-read their own token and both declare
    # victory: after the delay, whichever replace landed LAST is what both
    # re-read, so at most one sees its own token (best-effort — renew_lease
    # fencing before each commit is the authoritative guard).
    import random

    tmp = path + "." + token
    with open(tmp, "w") as f:
        f.write(payload)
    os.replace(tmp, path)
    time.sleep(random.uniform(0.05, 0.2))
    with open(path) as f:
        if json.load(f).get("token") == token:
            return token
    raise CrawlLeaseError(
        "lost the race taking over a stale lease on {0}".format(state_dir)
    )


def renew_lease(state_dir: str, token: str) -> None:
    """Heartbeat + fencing check before each round commit: if the lease no
    longer carries our token (stolen after a long stall), abort BEFORE
    writing — the thief owns the state now."""
    path = _lease_path(state_dir)
    try:
        with open(path) as f:
            cur = json.load(f)
    except Exception:
        cur = {}
    if cur.get("token") != token:
        raise CrawlLeaseError(
            "lease on {0} was taken over by pid {1} — aborting without "
            "committing".format(state_dir, cur.get("pid"))
        )
    tmp = path + "." + token
    with open(tmp, "w") as f:
        f.write(json.dumps(
            {"token": token, "pid": os.getpid(), "ts": time.time()}
        ))
    os.replace(tmp, path)


def release_lease(state_dir: str, token: str) -> None:
    """Release only our own lease. Claim-by-rename instead of
    read-check-delete: atomically rename the lease aside, inspect it, and
    either delete it (ours) or rename it back (a competitor's fresh lease
    that replaced ours between our last renew and this release) — so a
    competitor's lease can't be deleted in the check-to-remove window."""
    path = _lease_path(state_dir)
    claimed = path + ".release." + token
    try:
        os.rename(path, claimed)
    except OSError:
        return  # no lease on disk — nothing to release
    try:
        with open(claimed) as f:
            is_ours = json.load(f).get("token") == token
    except Exception:
        is_ours = False
    if is_ours:
        try:
            os.remove(claimed)
        except OSError:
            pass
    else:
        # not ours: put the competitor's lease back (best-effort; if the
        # competitor re-created path meanwhile, theirs is fresher — drop)
        if os.path.exists(path):
            try:
                os.remove(claimed)
            except OSError:
                pass
        else:
            try:
                os.rename(claimed, path)
            except OSError:
                pass


@dataclass
class RoundState:
    """Parquet-snapshot shim:
    state_dir/round=N/{scheduled, frontier[, seen]} + metrics.json,
    committed by writing _COMMIT last.

    The seen-set is APPEND-ONLY: a round's seen delta is its own
    ``scheduled`` table, read back as (url_hash, url_canon, seq) with
    fetch_round taken from the round=N path (disjoint from all prior seen
    WHEN recrawl is off; with ``recrawl_ttl`` a refetched url appears once
    per fetch and readers aggregate by url — the per-round write is
    proportional to this round's fetches either way, never to the whole
    10^10-key history). Every ``compact_every`` rounds a full ``seen``
    snapshot is rewritten — folding refetch history to one row per url —
    so the merged read never unions more than compact_every delta files:
    the shim-level equivalent of Iceberg MERGE + compaction. Expiring a
    round from the delta window is whole-round file pruning.

    Sizing ``compact_every`` (measured, BENCH/BASELINE.md round-5
    recrawl stress): the incremental due-set read costs
    O(stale partitions + delta rows); its edge over a full-seen groupBy
    (3.3x at 2M stale of 32M seen) erodes as accumulated delta rows
    approach the stale backlog (cost grew 0.67s -> 1.18s from 2 to 32
    pending 50k-row deltas), and vanishes when the stale fraction
    approaches 1 (pruning reads everything anyway). Keep compact_every
    small enough that expected delta rows between compactions stay well
    under the per-round due count; compact promptly after bulk TTL
    changes that mark most of the corpus stale."""

    state_dir: str

    def round_dir(self, n: int) -> str:
        return os.path.join(self.state_dir, f"round={n}")

    def committed_rounds(self):
        if not os.path.isdir(self.state_dir):
            return []
        out = []
        for d in os.listdir(self.state_dir):
            if d.startswith("round=") and os.path.exists(
                os.path.join(self.state_dir, d, "_COMMIT")
            ):
                out.append(int(d.split("=", 1)[1]))
        return sorted(out)

    def last_round(self) -> int:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else 0

    def write_scheduled(self, n: int, scheduled: DataFrame) -> list:
        """Write round n's scheduled table — the round's driving action —
        and return its per-partition lineage ``[{pid, rows}]`` from the
        Parquet footers: ``part-NNNNN`` is the writing task's partition
        id, and zero-row files (Spark writes one for an empty result) are
        skipped, as a ``groupBy(spark_partition_id)`` would."""
        import pyarrow.parquet as pq

        d = os.path.join(self.round_dir(n), "scheduled")
        scheduled.write.mode("overwrite").parquet(d)
        rows: dict = {}
        for name in os.listdir(d):
            m = re.match(r"part-(\d+)-", name)
            if m:
                pid = int(m.group(1))
                rows[pid] = rows.get(pid, 0) + pq.read_metadata(
                    os.path.join(d, name)
                ).num_rows
        return [{"pid": p, "rows": r} for p, r in sorted(rows.items()) if r]

    def write_round(self, spark: SparkSession, n: int, frontier: DataFrame,
                    metrics: dict, seen_full: DataFrame | None = None):
        """Finish round n after ``write_scheduled``: the compacted seen
        snapshot (compaction rounds), the frontier, metrics, _COMMIT."""
        d = self.round_dir(n)
        seen_dir = os.path.join(d, "seen")
        if seen_full is not None:  # compaction round
            # partitioned by fetch_round: the compacted snapshot IS the
            # last-fetch table (one row per url, max round, min seq), and
            # the layout makes both recrawl reads prune — the blocking
            # filter (fetch_round > n-ttl) and the due-set's stale scan
            # (fetch_round <= n-ttl) each touch only their partitions
            # static overwrite pinned per-write: under a session-level
            # partitionOverwriteMode=dynamic, a resume=False rerun over an
            # old state dir would leave stale fetch_round partitions from
            # the previous run alongside this one's
            seen_full.write.partitionBy("fetch_round").mode(
                "overwrite"
            ).option("partitionOverwriteMode", "static").parquet(seen_dir)
        elif os.path.isdir(seen_dir):
            # resume=False rerun over an old state dir: a stale snapshot
            # from the previous run at a non-compaction round of THIS run
            # would otherwise shadow the rewritten deltas
            shutil.rmtree(seen_dir)
        frontier.write.mode("overwrite").parquet(os.path.join(d, "frontier"))
        with open(os.path.join(d, "metrics.json"), "w") as f:
            json.dump(metrics, f)
        with open(os.path.join(d, "_COMMIT"), "w") as f:
            f.write(str(time.time()))

    def read(self, spark: SparkSession, n: int, what: str,
             schema=None) -> DataFrame:
        """One table of round n; a known ``schema`` skips inference."""
        if what == "seen":
            return self.read_seen(spark, n)
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(os.path.join(self.round_dir(n), what))

    def seen_paths(self, n: int) -> tuple[str | None, list]:
        """(latest full-snapshot path <= n or None, the ``scheduled``
        paths of the rounds after it — the seen deltas)."""
        rounds = [r for r in self.committed_rounds() if r <= n]
        base = max(
            (r for r in rounds
             if os.path.isdir(os.path.join(self.round_dir(r), "seen"))),
            default=None,
        )
        base_path = (
            os.path.join(self.round_dir(base), "seen")
            if base is not None else None
        )
        deltas = [
            os.path.join(self.round_dir(r), "scheduled")
            for r in rounds if base is None or r > base
        ]
        return base_path, deltas

    def read_seen_parts(
        self, spark: SparkSession, n: int
    ) -> tuple[DataFrame | None, DataFrame | None]:
        """(compacted base snapshot, merged deltas since it) at round n —
        the two tiers the incremental recrawl due-set needs separately;
        either is None when absent. Both reads carry an explicit schema,
        so neither runs an inference job. On the base, fetch_round is the
        partition column (the data column, or null, on legacy flat
        snapshots); null fetch_round/seq from snapshots older than those
        columns read as 0: age unknown => stale, due at once. The deltas
        are the rounds' scheduled files in one scan, fetch_round parsed
        from each file's round=N directory."""
        base_path, delta_paths = self.seen_paths(n)
        base = None
        if base_path is not None:
            base = spark.read.schema(SEEN_SCHEMA).parquet(base_path).select(
                "url_hash", "url_canon",
                F.coalesce("fetch_round", F.lit(0)).alias("fetch_round"),
                F.coalesce("seq", F.lit(0).cast("long")).alias("seq"),
            )
        deltas = None
        if delta_paths:
            fetch_round = F.regexp_extract(
                F.col("_metadata.file_path"), _DELTA_ROUND_RX, 1
            ).cast("int")
            deltas = spark.read.schema(DELTA_SCHEMA).parquet(
                *delta_paths
            ).select(
                "url_hash", "url_canon", fetch_round.alias("fetch_round"),
                "seq",
            )
        return base, deltas

    def read_seen(self, spark: SparkSession, n: int) -> DataFrame:
        """Merged seen view at round n: latest full snapshot <= n plus the
        deltas after it. Duplicate-free without recrawl; with recrawl_ttl
        a url carries one row per fetch until the next compaction."""
        base, deltas = self.read_seen_parts(spark, n)
        parts = [p for p in (base, deltas) if p is not None]
        if not parts:
            return spark.createDataFrame([], SEEN_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read_metrics(self, n: int) -> dict:
        with open(os.path.join(self.round_dir(n), "metrics.json")) as f:
            return json.load(f)


def recrawl_due(spark: SparkSession, state: RoundState, as_of_round: int,
                current_round: int, ttl: int,
                priority: float) -> DataFrame:
    """Urls whose last fetch is >= ttl rounds old, as frontier candidates
    (url, priority, seq) — WITHOUT aggregating the full seen-set.

    The compacted snapshot is already the last-fetch table (one row per
    url: max fetch_round, min historical seq) and is partitioned by
    fetch_round, so the stale side is a partition-PRUNED scan of only the
    fetch_round <= current-ttl partitions. Post-compaction deltas (at
    most compact_every rounds of fetches) are unioned in raw and the
    max/min aggregation runs over stale ∪ deltas only.

    Exactness: a url fresh in the base (fetch_round > cutoff) cannot be
    due — every delta fetch happens at a strictly later round than the
    base, so its global last-fetch is >= its base round > cutoff; the
    union therefore covers exactly the due candidates, and a stale base
    row refetched recently in a delta aggregates to last_fetch > cutoff
    and drops out. Per-round cost is O(stale + delta) — the due backlog
    plus recent fetches — never O(total seen), the difference between a
    workable and an impossible round at 10^10 keys.
    """
    base, deltas = state.read_seen_parts(spark, as_of_round)
    cutoff = current_round - ttl
    cand = None
    if base is not None:
        cand = base.filter(F.col("fetch_round") <= cutoff)
    if deltas is not None:
        cand = deltas if cand is None else cand.unionByName(deltas)
    if cand is None:
        return spark.createDataFrame([], "url string, priority double, seq long")
    return (
        cand.groupBy("url_hash", "url_canon")
        .agg(F.max("fetch_round").alias("_lf"), F.min("seq").alias("_s0"))
        .filter(F.col("_lf") <= cutoff)
        .select(
            F.col("url_canon").alias("url"),
            F.lit(float(priority)).alias("priority"),
            (F.lit(RECRAWL_SEQ_BASE) + F.pmod("_s0", F.lit(1 << 40))).alias(
                "seq"
            ),
        )
    )


def default_outlinks(scheduled: DataFrame) -> DataFrame:
    """Deterministic synthetic link expansion (JVM expressions only), mirrored
    arithmetic-for-arithmetic by ``reference_crawler``-side
    ``oracle_outlinks``: a fetched url with sequence s emits (s % 3) children.

    Child seqs are bounded at 2^45 (inside the link namespace): an
    unbounded s*8 per generation overflows a long within a few recrawl
    generations of a 2^50-range refetch seq — and the mod keeps the
    engine expression and the bignum oracle on identical values.
    """
    k = F.pmod("seq", F.lit(3))
    j = F.explode(F.sequence(F.lit(1), k))  # empty when k == 0
    base = scheduled.filter(F.pmod("seq", F.lit(3)) > 0).select(
        "seq", "priority", j.alias("j")
    )
    return base.select(
        F.concat(
            F.lit("http://host"),
            F.pmod(F.col("seq") * 7 + F.col("j") * 13, F.lit(97)).cast("string"),
            F.lit(".example.com/doc/"),
            F.col("seq").cast("string"),
            F.lit("/"),
            F.col("j").cast("string"),
        ).alias("url"),
        (F.pmod(F.col("seq") * 31 + F.col("j") * 17, F.lit(1000)) / 10.0).alias(
            "priority"
        ),
        (
            F.lit(10_000_000)
            + F.pmod(F.col("seq") * 8, F.lit(1 << 45))
            + F.col("j")
        ).alias("seq"),
    )


def oracle_outlinks(c: dict) -> list:
    """The same expansion for the single-process oracle crawler."""
    s = c["seq"]
    out = []
    for j in range(1, (s % 3) + 1):
        out.append(
            {
                "url": "http://host{0}.example.com/doc/{1}/{2}".format(
                    (s * 7 + j * 13) % 97, s, j
                ),
                "priority": ((s * 31 + j * 17) % 1000) / 10.0,
                "seq": 10_000_000 + (s * 8) % (1 << 45) + j,
            }
        )
    return out


def crawl(spark: SparkSession, seeds: DataFrame, robots: DataFrame | None,
          state_dir: str, rounds: int, cfg: PolitenessConfig | None = None,
          outlinks_fn=default_outlinks, resume: bool = True,
          compact_every: int = 8, recrawl_ttl: int | None = None,
          recrawl_priority: float = 95.0,
          lease_ttl_sec: float = 3600.0) -> dict:
    """Run (or resume) a checkpointed crawl. Returns summary metrics.

    seeds: DataFrame(url, priority, seq). Each round:
      1. prepare: canonicalize+hash+dedup, anti-join seen, robots broadcast
      2. schedule: salted politeness top-k, global fetch order
      3. expand: outlinks of fetched urls -> new candidates
      4. commit: the scheduled table (written first, as the round's one
         driving action; it doubles as the round's seen delta) + frontier
         snapshot, atomically (full seen snapshot rewritten only every
         ``compact_every`` rounds). Expansion, the carried-over frontier
         and compaction read the committed scheduled table back.

    Metrics cost no extra Spark job: the candidate count and host
    cardinality are DataFrame observations on the scheduled write;
    ``n_scheduled`` and ``scheduled_partition_lineage`` (rows per writing
    task) come from the written files' Parquet footers; ``wall_sec`` runs
    through that write. The seen total is prev + n_scheduled — exact
    distinct-url count while recrawl is off (deltas disjoint); with
    ``recrawl_ttl`` it counts cumulative FETCH events (refetches recount).
    fetch_order's range boundaries are sampled ONCE per crawl() call and
    reused every round — no per-round sampling or count actions.

    ``recrawl_ttl`` cost note: the due-set (``recrawl_due``) reads the
    fetch_round-partitioned compacted snapshot — the incrementally
    maintained last-fetch table — pruned to stale partitions, plus the
    post-compaction deltas: O(due backlog + recent fetches) per round,
    never a scan or shuffle of the full 10^10-key seen-set. Enabling
    recrawl_ttl on a state dir written BEFORE the seen-set carried
    fetch_round makes every pre-migration url due at once (age unknown
    => stale, at ``recrawl_priority``): expect one full-recrawl wave,
    rate-limited by per-host budgets, before steady-state freshness.
    """
    if recrawl_ttl is not None and recrawl_ttl < 1:
        raise ValueError("recrawl_ttl must be >= 1 (or None to disable)")
    cfg = cfg or PolitenessConfig()
    state = RoundState(state_dir)
    lease = acquire_lease(state_dir, lease_ttl_sec)
    try:
        return _crawl_leased(
            spark, seeds, robots, state, rounds, cfg, outlinks_fn, resume,
            compact_every, recrawl_ttl, recrawl_priority, lease,
        )
    finally:
        release_lease(state_dir, lease)


def _crawl_leased(spark, seeds, robots, state, rounds, cfg, outlinks_fn,
                  resume, compact_every, recrawl_ttl, recrawl_priority,
                  lease) -> dict:
    state_dir = state.state_dir

    start_round = state.last_round() if resume else 0
    if start_round:
        seen = state.read_seen(spark, start_round)
        frontier = state.read(spark, start_round, "frontier")
        n_seen_total = state.read_metrics(start_round).get("n_seen")
        if n_seen_total is None:
            n_seen_total = seen.count()
    else:
        seen = spark.createDataFrame([], SEEN_SCHEMA)
        frontier = seeds.select(*FRONTIER_COLS)
        n_seen_total = 0

    # one-off quantile sample; reused across every round (boundaries only
    # affect range balance, never the fetch order itself)
    order_bounds = sample_order_boundaries(frontier)

    summary = {"rounds": [], "started_at_round": start_round + 1}
    for n in range(start_round + 1, start_round + rounds + 1):
        t0 = time.perf_counter()
        obs_c = Observation()
        obs_s = Observation()
        frontier_in, seen_in = frontier, seen
        if recrawl_ttl and n > recrawl_ttl:
            # freshness: a url blocks re-fetching only while its last fetch
            # is younger than ttl rounds; aged-out urls are re-enqueued
            # every round with a deterministic seq until refetched
            # (mirrored by reference_crawler.crawl(recrawl_ttl=...)).
            # Both reads prune on the snapshot's fetch_round partitions:
            # the blocking filter pushes into the partitioned base scan,
            # and recrawl_due touches only stale partitions + deltas.
            seen_in = seen.filter(F.col("fetch_round") > n - recrawl_ttl)
            due = recrawl_due(
                spark, state, n - 1, n, recrawl_ttl, recrawl_priority
            )
            frontier_in = frontier.unionByName(
                with_frontier_keys(due).select(*FRONTIER_KEYED_COLS)
                if "url_hash" in frontier.columns
                else due.select(*FRONTIER_COLS)
            )
        cands = (
            prepare_candidates(frontier_in, seen_in, robots, cfg)
            .observe(obs_c, F.count(F.lit(1)).alias("n_candidates"))
            .cache()
        )
        scheduled = schedule_round(cands, cfg).observe(
            obs_s, F.approx_count_distinct("host").alias("n_hosts_approx")
        )
        tracker: list = []
        scheduled = fetch_order(
            scheduled, boundaries=order_bounds, persist_tracker=tracker
        )
        # fence before the round's first write
        renew_lease(state_dir, lease)
        lineage = state.write_scheduled(n, scheduled)
        for df in tracker:
            df.unpersist()
        n_scheduled = sum(p["rows"] for p in lineage)
        if n_scheduled == 0 and not recrawl_ttl:
            # drained frontier, nothing will ever become eligible again
            cands.unpersist()
            shutil.rmtree(state.round_dir(n))
            break
        # under recrawl an idle round still COMMITS (empty delta): rounds
        # must keep ticking so fetched urls age toward their ttl
        n_seen_total += n_scheduled
        scheduled = state.read(spark, n, "scheduled", scheduled.schema)

        # robots-denied urls leave the frontier for good (same rule in the
        # oracle crawler); unscheduled eligible candidates carry over WITH
        # their canonical keys (no re-canonicalization next round)
        remaining = (
            cands.filter(F.col("allowed"))
            .join(scheduled.select("url_hash"), "url_hash", "left_anti")
            .select(*FRONTIER_KEYED_COLS)
        )
        expanded = with_frontier_keys(
            outlinks_fn(scheduled).select(*FRONTIER_COLS)
        ).select(*FRONTIER_KEYED_COLS)
        next_frontier = remaining.unionByName(expanded)

        compacting = compact_every > 0 and n % compact_every == 0

        def _obs(o, key, fallback):
            # AQE empty-relation propagation can prune an observe node out
            # of an idle round's plan entirely; Observation.get then fails
            # on a result that never fired
            try:
                return int(o.get[key])
            except Exception:
                return int(fallback())

        metrics = {
            "round": n,
            "n_candidates": _obs(obs_c, "n_candidates", cands.count),
            "n_scheduled": n_scheduled,
            "n_hosts_approx": _obs(obs_s, "n_hosts_approx", lambda: 0),
            "n_seen": n_seen_total,
            "compacted": compacting,
            "wall_sec": round(time.perf_counter() - t0, 3),
            "scheduled_partition_lineage": lineage,
        }
        seen_full = None
        if compacting:
            # compaction folds refetch history to one row per url (latest
            # fetch round, smallest historical seq) — a no-op when deltas
            # are disjoint (recrawl off)
            seen_full = (
                seen.unionByName(scheduled.select(
                    "url_hash", "url_canon",
                    F.lit(n).alias("fetch_round"), "seq",
                ))
                .groupBy("url_hash", "url_canon")
                .agg(
                    F.max("fetch_round").alias("fetch_round"),
                    F.min("seq").alias("seq"),
                )
                .select(*SEEN_COLS)
            )
        state.write_round(spark, n, next_frontier, metrics,
                          seen_full=seen_full)
        summary["rounds"].append(metrics)
        cands.unpersist()
        # read back from the snapshot so every round's inputs are exactly the
        # committed state (resume-equivalence by construction)
        seen = state.read_seen(spark, n)
        frontier = state.read(spark, n, "frontier", next_frontier.schema)

    summary["last_round"] = state.last_round()
    return summary


def fetch_from_pages(scheduled: DataFrame, pages: DataFrame) -> DataFrame:
    """The fetch-simulator stage: scheduled urls joined to the pages table
    (the Common-Crawl-style corpus, BASELINE input_hint) with byte-identical
    text extraction from the raw html payload.

    Join key = canonical url on both sides; at 100 TB the pages table is
    bucketed by url_hash (sources.storage.write_bucketed_table) so this is
    a co-located join with NO exchange — demonstrated in
    tests/test_spark_ingest.py::test_bucketed_fetch_join_has_no_exchange.
    """
    from warcio_spark import functions as WF

    page_side = with_frontier_keys(pages.select("url", "warc_ts", "html")).select(
        F.col("url_hash"),
        F.col("url").alias("page_url"),
        F.col("warc_ts"),
        F.col("html"),
    )
    fetched = scheduled.join(page_side, "url_hash", "left")
    # one Arrow hop yields text AND the response metadata a crawler acts
    # on (status, Location) — redirect following costs no extra decode
    meta = WF.parse_http_response(F.col("html"), F.col("page_url"))
    return (
        fetched.withColumn("__meta", meta)
        .withColumn("text", F.col("__meta.text"))
        .withColumn("http_status", F.col("__meta.status"))
        .withColumn("redirect_location", F.col("__meta.location"))
        .drop("__meta")
    )


def fetch_log(spark: SparkSession, state_dir: str) -> DataFrame:
    """The crawl's full fetch log: (round, fetch_order, url_canon) — the
    parity surface vs the oracle crawler."""
    state = RoundState(state_dir)
    logs = None
    for n in state.committed_rounds():
        df = state.read(spark, n, "scheduled").select(
            F.lit(n).alias("round"), "fetch_order", "url_canon"
        )
        logs = df if logs is None else logs.unionByName(df)
    return logs
