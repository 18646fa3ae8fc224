"""``frontier_round``: one prepare -> schedule -> fetch_order round over a
skewed candidate frontier, forced through a noop sink.

Inputs follow the frontier distribution of the repository's bench
harness, salted by the seed: a Zipf mega-host (30% of URLs on host0, 15% on
host1, the rest over 95 hosts), 8% messy URLs that the JVM tier of
canonicalization repairs and 2% percent-encoded URLs that only the Python
kernel normalizes, so all three canonicalization tiers run. Candidates and
a seen-set holding 30% of them are parquet files written during set-up.
"""

from __future__ import annotations

import hashlib
import time

from pyspark.sql import functions as F

import crawl_rounds
from core import Check, force
from eventlog import operator_skew
from stats import median

N_URLS = {"full": 150_000, "tiny": 4_000}
#: warm-up rounds after the first, cold one. A session is JIT-bound at
#: first: the compiler threads spend about 17 s of CPU in the first round,
#: 5 s in the third and still about 1 s per round at round fifteen, on the
#: cores the rounds run on, and round times fall by about a third over the
#: first ten or so rounds. Timing starts after the ninth round; more
#: warm-up would cost run time the benchmark's budget does not have. The
#: last warm-up round is collected: it is the digest the gate compares with
#: the first.
WARM_ROUNDS = 8
#: warm-up rounds of a traced run, which also runs the traced prefixes and
#: a cold crawl: the full warm-up would take it near the run time limit in
#: the host's slow periods. Its untraced and traced rounds are compared at
#: the same, earlier point of the warm-up.
TRACE_WARM_ROUNDS = 1
SEEN_SHARE = 0.3


def universe(df, seed: int):
    """Candidate rows (url, priority, seq) for the ids of ``df``."""
    s = F.lit(seed)
    r = F.pmod(F.xxhash64(F.col("id") + 1, s), F.lit(100))
    hostnum = (
        F.when(r < 30, F.lit(0))
        .when(r < 45, F.lit(1))
        .otherwise(F.pmod(F.xxhash64(F.col("id") + 7, s), F.lit(95)) + 2)
    )
    q = F.pmod(F.xxhash64(F.col("id") + 3, s), F.lit(7)).cast("string")
    clean = F.concat(
        F.lit("http://host"), hostnum.cast("string"),
        F.lit(".example.com/p/"), F.col("id").cast("string"), F.lit("?q="), q,
    )
    messy = F.concat(
        F.lit("HTTP://Host"), hostnum.cast("string"),
        F.lit(".Example.COM:80/a/../p/"), F.col("id").cast("string"),
        F.lit("?q="), q,
    )
    pct = F.concat(
        F.lit("http://host"), hostnum.cast("string"),
        F.lit(".example.com/p%41/"), F.col("id").cast("string"),
        F.lit("?q=%2f"), q,
    )
    return df.select(
        F.when(F.pmod("id", F.lit(50)) == 0, pct)
        .when(F.pmod("id", F.lit(10)) == 0, messy)
        .otherwise(clean)
        .alias("url"),
        (F.pmod(F.xxhash64(F.col("id") + 13, s), F.lit(1000)) / 10.0).alias(
            "priority"),
        F.col("id").alias("seq"),
    )


class FrontierRound:
    name = "frontier_round"
    #: figures printed on every run and reported per layer when traced
    NAMED = (("frontier_urls_per_s", "1/s"),)

    def __init__(self, ctx):
        self.ctx = ctx
        self.n = N_URLS[ctx.scale]

    def setup(self):
        from warcio_spark.plans.frontier import (
            PolitenessConfig,
            demo_robots,
            sample_order_boundaries,
            with_frontier_keys,
        )

        spark, ctx = self.ctx.spark, self.ctx
        universe(spark.range(0, self.n, 1, 2 * ctx.cores),
                 ctx.seed).write.mode("overwrite").parquet(
                     ctx.path("frontier", "cands"))
        self.cands = spark.read.parquet(ctx.path("frontier", "cands"))
        # the seen-set: the keys of the first SEEN_SHARE of the candidates
        self.cands.filter(F.col("seq") < int(self.n * SEEN_SHARE)).transform(
            with_frontier_keys).select("url_hash").write.mode(
                "overwrite").parquet(ctx.path("frontier", "seen"))
        self.seen = spark.read.parquet(ctx.path("frontier", "seen"))
        self.robots = demo_robots(spark)
        # salt buckets scale with cores, as in the bench harness; the
        # scheduled output is invariant to the bucket count
        self.cfg = PolitenessConfig(slot_seconds=600, default_crawl_delay=1.0,
                                    max_host_budget=500,
                                    salt_buckets=4 * ctx.cores)
        # range boundaries are sampled once and reused per round, as crawl()
        # does
        self.bounds = sample_order_boundaries(self.cands)

    def _round(self, tracker):
        from warcio_spark.plans.frontier import (
            fetch_order,
            prepare_candidates,
            schedule_round,
        )

        return fetch_order(
            schedule_round(
                prepare_candidates(self.cands, self.seen, self.robots,
                                   self.cfg),
                self.cfg),
            boundaries=self.bounds, persist_tracker=tracker)

    def op(self) -> dict:
        tracker: list = []
        t0 = time.perf_counter()
        force(self._round(tracker))
        dt = time.perf_counter() - t0
        for df in tracker:
            df.unpersist(blocking=True)
        return {"round_s": dt}

    def summary(self, samples) -> dict:
        rounds = [s["round_s"] for s in samples]
        p50 = median(rounds)
        return {
            "work_per_s": self.n / p50,
            "op_s": rounds,
            "named": {
                "frontier_urls_per_s": (self.n / p50, "1/s", len(rounds)),
            },
        }

    # -- correctness gate (untimed) ------------------------------------

    def _ordered(self):
        tracker: list = []
        rows = (
            self._round(tracker)
            .select("fetch_order", "url_canon", "host", "crawl_delay",
                    "allowed")
            .orderBy("fetch_order").collect()
        )
        for df in tracker:
            df.unpersist(blocking=True)
        return rows

    def warmup(self, trace: bool = False):
        """The first round, collected: it pays codegen and Python worker
        start. Then ``WARM_ROUNDS`` more (``TRACE_WARM_ROUNDS`` in a traced
        run), the last of them collected too: the gate checks that its
        ordered output repeats the first's."""
        self.first = self._ordered()
        for _ in range((TRACE_WARM_ROUNDS if trace else WARM_ROUNDS) - 1):
            self.op()
        self.again = self._ordered()

    def check(self) -> list:
        from warcio_spark.plans.reference_crawler import OracleConfig

        first, again = self.first, self.again
        digest = [self.digest(rows) for rows in (first, again)]
        budget = OracleConfig(self.cfg.slot_seconds,
                              self.cfg.default_crawl_delay,
                              self.cfg.max_host_budget).budget
        per_host: dict = {}
        for r in again:
            per_host.setdefault(r.host, []).append(r)
        over = [h for h, rs in per_host.items()
                if len(rs) > budget(rs[0].crawl_delay)]
        return [
            Check("frontier.digest_repeats", digest[0] == digest[1],
                  "{0} vs {1}".format(digest[0][:12], digest[1][:12])),
            Check("frontier.order_contiguous",
                  [r.fetch_order for r in again]
                  == list(range(1, len(again) + 1)) and len(again) > 0,
                  "{0} rows".format(len(again))),
            Check("frontier.host_budget", not over,
                  "hosts over budget: {0}".format(over[:5])),
            Check("frontier.robots_denied_absent",
                  all(r.allowed for r in again), ""),
        ]

    @staticmethod
    def digest(rows) -> str:
        h = hashlib.sha256()
        for r in rows:
            h.update("{0}\t{1}\n".format(r.fetch_order, r.url_canon).encode())
        return h.hexdigest()

    # -- traced layers -------------------------------------------------

    LAYERS = (
        "kernels.urls.with_frontier_keys",
        "plans.frontier.dedup_candidates",
        "plans.frontier.not_seen",
        "plans.frontier.apply_robots",
        "plans.frontier.schedule_round",
        "plans.frontier.fetch_order",
    ) + crawl_rounds.LAYERS

    def trace(self, tracer, reps: int = 1) -> tuple:
        """Cumulative-prefix layer times: prefix k runs layers 1..k and is
        forced on its own, so layer k's own cost is prefix k minus prefix
        k-1, and the last prefix is the whole round. Then one traced crawl
        (``crawl_rounds``) with its own gate. One repetition by default:
        the traced run already costs about twice an untraced one. Returns
        (metrics, checks)."""
        from warcio_spark.plans.frontier import (
            apply_robots,
            dedup_candidates,
            fetch_order,
            not_seen,
            schedule_round,
            with_frontier_keys,
        )

        self.untraced_s, build_s = [], []
        for _ in range(reps):
            # an untraced round at the same point of the JVM's warm-up, to
            # compare the last prefix with
            self.untraced_s.append(self.op()["round_s"])
            tracker: list = []
            t0 = time.perf_counter()
            keyed = with_frontier_keys(self.cands)
            deduped = dedup_candidates(keyed)
            fresh = not_seen(deduped, self.seen)
            robots = apply_robots(fresh, self.robots, self.cfg)
            scheduled = schedule_round(robots, self.cfg)
            ordered = fetch_order(scheduled, boundaries=self.bounds,
                                  persist_tracker=tracker)
            build_s.append(time.perf_counter() - t0)
            for layer, df in zip(self.LAYERS, (keyed, deduped, fresh, robots,
                                               scheduled, ordered)):
                tracer.force_counted(layer, df)
            for df in tracker:
                df.unpersist(blocking=True)
        # the untraced round builds its DataFrames inside the timed call;
        # the prefixes are forced after the chain is built
        self.traced_round_s = (tracer.wall("plans.frontier.fetch_order")
                               + median(build_s))
        rows = tracer.rows
        metrics = {
            "plans.frontier.plan_build_s": median(build_s),
            "kernels.urls.with_frontier_keys_rows_in": float(self.n),
            "plans.frontier.not_seen_pruned_ratio":
                1.0 - rows["plans.frontier.not_seen"]
                / rows["plans.frontier.dedup_candidates"],
        }
        crawl_metrics, checks = crawl_rounds.trace_crawl(
            self.ctx, tracer, self.robots, self.cfg)
        metrics.update(crawl_metrics)
        return metrics, checks

    def traced_op_s(self, tracer) -> tuple:
        """(traced round: building the chain plus the last cumulative
        prefix, the untraced rounds run just before the prefixes)."""
        return self.traced_round_s, median(self.untraced_s)

    def log_metrics(self, stages, tracer) -> dict:
        """Task skew of the schedule's Window stages: the Zipf mega-host
        lands in one window partition."""
        skews = [
            operator_skew(stages, g, "Window")
            for g in tracer.groups["plans.frontier.schedule_round"]
        ]
        return {"plans.frontier.schedule_task_skew": median(skews)}
