"""Crawl frontier + fetch scheduler (the north rule, BASELINE.json:6,14).

A brand-new PySpark-native frontier — no reference code exists for this
layer (warcio delegates crawl state to callers); semantics are defined here
and mirrored exactly by the single-process oracle in
``warcio_spark.plans.reference_crawler`` for parity tests.

Scale design (10^10-URL frontier):

- seen-set: exact ``left_anti`` join on a 64-bit canonical-url hash — a
  broadcast join while the seen-set is small, a sort-merge join at scale.
  It is the only seen-set filter, and it runs entirely in the JVM.
- politeness queue: per-host windowed top-k with **salted pre-pruning**
  (``plans.prefix.group_top_k``): mega-hosts are first reduced per
  (host, salt) to ``budget`` rows, so the exact per-host window never sees
  more than S*budget rows of a hot host — the skew killer that makes
  host-partitioned windows survive Zipf hosts.
- robots: broadcast join on host (the rules table is tiny relative to the
  frontier).
- determinism: every emit is totally ordered by (priority desc, seq) with
  seq a stable input sequence number — N-core and 4N-core runs produce
  identical fetch orders (verified in tests at local[2] vs local[8]).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from warcio_spark import functions as WF
from warcio_spark.plans.prefix import group_top_k, range_rank


@dataclass(frozen=True)
class PolitenessConfig:
    slot_seconds: int = 60          # scheduling slot length
    default_crawl_delay: float = 5.0  # seconds between hits on one host
    max_host_budget: int = 100      # hard cap per host per round
    salt_buckets: int = 8           # pre-prune parallelism for hot hosts

    def budget_expr(self, crawl_delay_col):
        raw = F.floor(F.lit(self.slot_seconds) / F.greatest(
            F.coalesce(crawl_delay_col, F.lit(self.default_crawl_delay)),
            F.lit(0.001),
        ))
        return F.least(F.greatest(raw, F.lit(1)), F.lit(self.max_host_budget))


def with_frontier_keys(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Canonicalize (RFC 3986 + the reference's URI repairs) and key every
    candidate: url_canon, url_hash (xxhash64), host.

    Canonicalization is a JVM split-union (functions.with_canonical_url):
    already-canonical urls — the majority of a well-formed frontier — stay
    entirely inside whole-stage codegen, and only the rest cross the Arrow
    boundary into the Python kernel. Hashing and host extraction are pure
    JVM (xxhash64, try_parse_url) on the canonical form."""
    return (
        WF.with_canonical_url(df, url_col, "url_canon")
        .withColumn("url_hash", F.xxhash64("url_canon"))
        .withColumn("host", WF.url_host_expr(F.col("url_canon")))
    )


def dedup_candidates(cands: DataFrame) -> DataFrame:
    """Within-batch dedup: keep the lowest-(seq, url) candidate per canonical
    hash. min_by aggregation, NOT a window: the partial (map-side) min
    collapses duplicates before the shuffle, so the exchange carries one row
    per distinct url per input partition instead of every candidate."""
    cols = [c for c in cands.columns if c != "url_hash"]
    packed = F.struct(
        F.col("seq"), F.col("url"), *[F.col(c) for c in cols if c not in ("seq", "url")]
    )
    best = cands.groupBy("url_hash").agg(F.min(packed).alias("_best"))
    return best.select("url_hash", *[F.col("_best." + c).alias(c) for c in cols])


def not_seen(cands: DataFrame, seen: DataFrame) -> DataFrame:
    """Frontier-minus-seen (A6/J3): exact left_anti join on url_hash."""
    return cands.join(seen.select("url_hash"), "url_hash", "left_anti")


def apply_robots(cands: DataFrame, robots: DataFrame | None,
                 cfg: PolitenessConfig) -> DataFrame:
    """Broadcast robots rules per host: allow/deny + crawl_delay (J4).
    robots(host, allowed boolean, crawl_delay double). Hosts without a rule
    are allowed at the default delay."""
    if robots is None:
        return cands.withColumn(
            "crawl_delay", F.lit(cfg.default_crawl_delay)
        ).withColumn("allowed", F.lit(True))
    r = robots.select(
        F.col("host"),
        F.col("allowed"),
        F.coalesce(F.col("crawl_delay"), F.lit(cfg.default_crawl_delay)).alias(
            "crawl_delay"
        ),
    )
    out = cands.join(F.broadcast(r), "host", "left")
    return out.fillna(
        {"allowed": True, "crawl_delay": cfg.default_crawl_delay}
    )


def schedule_round(cands: DataFrame, cfg: PolitenessConfig | None = None) -> DataFrame:
    """Per-host politeness-aware priority top-k.

    Input columns: url, url_canon, url_hash, host, priority, seq,
    crawl_delay, allowed. Output adds host_rank (1..budget within host) and
    fetch_ts_offset (host_rank-1)*crawl_delay — the token-bucket emission
    time within the slot. Total order: (priority desc, seq asc, url_canon).
    The top-budget is ``plans.prefix.group_top_k`` salted by
    ``url_hash mod salt_buckets``: a Zipf mega-host's exact window sees at
    most salt_buckets*budget rows.
    """
    cfg = cfg or PolitenessConfig()
    ranked = group_top_k(
        cands.filter(F.col("allowed")),
        ["host"],
        [F.desc("priority"), F.asc("seq"), F.asc("url_canon")],
        cfg.budget_expr(F.col("crawl_delay")),
        F.pmod(F.col("url_hash"), F.lit(cfg.salt_buckets)),
        "host_rank",
    )
    return ranked.withColumn(
        "fetch_ts_offset",
        F.round((F.col("host_rank") - 1) * F.col("crawl_delay"), 3),
    )


def sample_order_boundaries(df: DataFrame, partitions: int | None = None,
                            relative_error: float = 0.001) -> list:
    """Priority split points for fetch_order's deterministic range
    assignment: one approxQuantile pass, returning up to ``partitions - 1``
    ascending boundaries. Compute ONCE per crawl (crawl() does) and reuse
    across rounds — boundaries only affect load balance, never correctness,
    so drifting priority distributions merely skew range sizes."""
    spark = df.sparkSession
    p = partitions or spark.sparkContext.defaultParallelism
    if p <= 1:
        return []
    probs = [i / p for i in range(1, p)]
    qs = df.stat.approxQuantile("priority", probs, relative_error)
    # dedupe (heavy ties produce equal quantiles; duplicates would just
    # create empty ranges, but keep the expression minimal)
    out, prev = [], None
    for q in qs:
        if q != prev:
            out.append(float(q))
        prev = q
    return out


def fetch_order(scheduled: DataFrame, *, boundaries: list | None = None,
                persist_tracker: list | None = None) -> DataFrame:
    """Global deterministic fetch sequence for a round — ONE job, no
    driver-side count action, no cache (plans.prefix.range_rank).

    A bare ``Window.orderBy`` funnels the whole round through ONE task; at
    10^8 hosts x budget that single partition materializes the entire round.
    Instead the round is split into order-aligned ranges by a PURE
    EXPRESSION on priority (rid = #boundaries above this priority, so
    higher-priority rows always land in lower-or-equal range ids and equal
    priorities share a range), ranked per range, and offset by the count of
    all preceding ranges (a counts branch of the SAME query that reuses
    the range exchange — verified in tests/test_frontier_parity).

    Identical to the global window for any boundaries because
    (priority desc, seq, url_canon) is a total order on the deduped round
    and the range id is a deterministic function of priority alone.
    ``boundaries``: ascending priority split points (sample_order_boundaries)
    — pass them to skip the default one-off quantile sampling action, e.g.
    once per crawl instead of once per round.

    ``persist_tracker``: with a list supplied, the post-shuffle ranged rows
    are persisted so the counts branch and the rank branch share ONE
    upstream computation; the persisted DataFrame is appended to the list
    and the CALLER unpersists it after materializing the result (crawl()
    and bench.py do). Without it, nothing is persisted.
    """
    if boundaries is None:
        boundaries = sample_order_boundaries(scheduled)
    if boundaries:
        # rid 0 = highest priorities; equal priorities -> same rid.
        # NULL priority must land in the LAST range: a bare desc window
        # orders NULLS LAST globally, and `NULL < b` is otherwise-0 in
        # every term, which would smuggle NULLs into rid 0 (the front).
        terms = None
        for b in boundaries:
            term = F.when(F.col("priority") < F.lit(float(b)), 1).otherwise(0)
            terms = term if terms is None else terms + term
        rid = F.when(
            F.col("priority").isNull(), F.lit(len(boundaries))
        ).otherwise(terms)
    else:
        rid = F.lit(0)
    return range_rank(
        scheduled, rid, len(boundaries) + 1,
        [F.desc("priority"), F.asc("seq"), F.asc("url_canon")],
        "fetch_order", persist_tracker=persist_tracker,
    )


def url_trap_signals(df: DataFrame, url_col: str = "url",
                     max_depth: int = 12, max_len: int = 512,
                     max_params: int = 12,
                     max_dup_segments: int = 2) -> DataFrame:
    """Crawl-trap heuristics (calendar pages, session-id mazes, cyclic
    path generators) as pure JVM expressions — the frontier hygiene gate
    every production crawler runs before enqueueing. Adds:
      path_depth    number of path segments
      url_len       total url length
      n_params      query parameters (0 without a query)
      dup_segments  repeated path segments (len - len(distinct))
      is_trap       any signal over its threshold
    Opt-in: compose BEFORE prepare_candidates (the oracle crawler models
    the politeness contract, not this heuristic)."""
    u = F.col(url_col)
    path = F.regexp_extract(u, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]+([^?#]*)", 1)
    segs = F.filter(
        F.split(path, "/"), lambda x: F.length(x) > 0
    )
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    n_params = F.when(F.length(query) > 0, F.size(F.split(query, "&"))).otherwise(
        F.lit(0)
    )
    out = df.select(
        "*",
        F.size(segs).alias("path_depth"),
        F.length(u).alias("url_len"),
        n_params.alias("n_params"),
        (F.size(segs) - F.size(F.array_distinct(segs))).alias("dup_segments"),
    )
    return out.withColumn(
        "is_trap",
        (F.col("path_depth") > max_depth)
        | (F.col("url_len") > max_len)
        | (F.col("n_params") > max_params)
        | (F.col("dup_segments") > max_dup_segments),
    )


def url_template(url) -> Column:
    """Collapse a url to its generative TEMPLATE: scheme+host kept,
    digit runs in the path become ``{N}``, hex-id runs of 8+ chars
    become ``{H}`` (matched first, so a long digit run reads as hex —
    deterministic either way), and the query is reduced to its SORTED
    parameter names (values dropped). Urls minted by the same generator
    — calendar pages, session-id mazes, faceted navigation — collapse
    to one template; the per-URL heuristics in ``url_trap_signals``
    cannot see this (each generated url looks individually tame).
    Pure codegen: three regexes + one split/HOF pass, no Python."""
    u = F.col(url) if isinstance(url, str) else url
    head = F.regexp_extract(
        u, r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]+)", 1)
    path = F.regexp_extract(
        u, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]+([^?#]*)", 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    npath = F.regexp_replace(
        F.regexp_replace(path, r"(?i)[0-9a-f]{8,}", "{H}"),
        r"[0-9]+", "{N}")
    params = F.filter(F.split(query, "&"), lambda x: F.length(x) > 0)
    keys = F.array_sort(F.transform(
        params, lambda x: F.element_at(F.split(x, "=", 2), 1)))
    qtpl = F.when(
        F.size(keys) > 0,
        F.concat(F.lit("?"), F.array_join(keys, "&"))).otherwise(F.lit(""))
    return F.concat(head, npath, qtpl)


def url_pattern_census(df: DataFrame, url_col: str = "url", *,
                       min_count: int = 100,
                       min_share: float = 0.5) -> DataFrame:
    """Corpus-level crawl-trap mining: census the frontier (or fetch
    log) by ``(host, url_template)`` and flag generator patterns — a
    template that accounts for ``min_share`` of a host's urls AND at
    least ``min_count`` urls absolutely is an infinite url space
    being enumerated (Heritrix's queue-budget / pathological-pattern
    practice, done set-at-a-time). Complements ``url_trap_signals``:
    that gate judges each url alone; this one sees the pattern only
    the population reveals.

    Returns (host, template, n_urls, sample_url, host_share,
    is_trap_pattern); join ``is_trap_pattern`` back onto candidates by
    (host, template) to demote or cap — the census table is
    template-cardinality, broadcastable.

    Scale shape: one hash aggregation on (host, template) — map-side
    combinable, the url table shuffles only its reduced per-partition
    partials — then a host window over the AGGREGATED table (template
    cardinality, not url cardinality). ``sample_url`` is min(url), so
    output is deterministic at any partitioning."""
    u = F.col(url_col)
    host = F.regexp_extract(
        u, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]+)", 1)
    agg = (df.select(host.alias("host"),
                     url_template(u).alias("template"),
                     u.alias("_u"))
           .groupBy("host", "template")
           .agg(F.count(F.lit(1)).alias("n_urls"),
                F.min("_u").alias("sample_url")))
    w = Window.partitionBy("host")
    out = agg.withColumn(
        "host_share",
        F.round(F.col("n_urls") / F.sum("n_urls").over(w), 6))
    return out.withColumn(
        "is_trap_pattern",
        (F.col("n_urls") >= F.lit(min_count))
        & (F.col("host_share") >= F.lit(float(min_share))))


def prepare_candidates(raw: DataFrame, seen: DataFrame | None,
                       robots: DataFrame | None,
                       cfg: PolitenessConfig | None = None) -> DataFrame:
    """Full candidate pipeline: keys -> within-batch dedup -> anti-join seen
    (``not_seen``) -> robots. ``robots`` may be the host-level table (host,
    allowed, crawl_delay) or the path-rule table (host, allow, disallow,
    crawl_delay) from robots_table_from_pages — detected by columns."""
    cfg = cfg or PolitenessConfig()
    # already-keyed input (a frontier snapshot that persisted its keys)
    # skips re-canonicalizing the whole carried-over frontier every round
    keyed = raw if "url_hash" in raw.columns else with_frontier_keys(raw)
    cands = dedup_candidates(keyed)
    if seen is not None:
        cands = not_seen(cands, seen)
    if robots is not None and "disallow" in robots.columns:
        return apply_robots_rules(cands, robots, cfg)
    return apply_robots(cands, robots, cfg)


def robots_table_from_pages(robots_pages: DataFrame, user_agent: str = "*",
                            default_crawl_delay: float = 5.0) -> DataFrame:
    """Build the broadcastable robots rules table from fetched robots.txt
    bodies: robots_pages(host string, body binary|string) ->
    (host, allow array<string>, disallow array<string>, crawl_delay,
    sitemaps array<string>). One Arrow hop per robots file — the table
    is tiny vs the frontier."""
    import pandas as pd
    from pyspark.sql import types as _T

    from warcio_spark.kernels.robots import parse_robots_txt
    from warcio_spark.kernels.textcodec import decode_fallback

    schema = _T.StructType(
        [
            _T.StructField("host", _T.StringType(), False),
            _T.StructField("allow", _T.ArrayType(_T.StringType()), True),
            _T.StructField("disallow", _T.ArrayType(_T.StringType()), True),
            _T.StructField("crawl_delay", _T.DoubleType(), True),
            _T.StructField("sitemaps", _T.ArrayType(_T.StringType()), True),
        ]
    )

    def run(batches):
        for pdf in batches:
            rows = []
            for host, body in zip(pdf["host"], pdf["body"]):
                text = decode_fallback(bytes(body)) if isinstance(body, (bytes, bytearray)) else (body or "")
                rules = parse_robots_txt(text, user_agent)
                rows.append(
                    {
                        "host": host,
                        "allow": rules["allow"],
                        "disallow": rules["disallow"],
                        "crawl_delay": rules["crawl_delay"],
                        "sitemaps": rules["sitemaps"],
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=["host", "allow", "disallow", "crawl_delay",
                         "sitemaps"])

    return robots_pages.select("host", "body").mapInPandas(run, schema)


def robots_sitemap_urls(rules: DataFrame) -> DataFrame:
    """The sitemaps.org discovery channel: (host, pos, sitemap_url) from
    the rules table's global ``Sitemap:`` lines, order-preserving. Fetch
    these urls, then feed the bodies to
    operators/links.seeds_from_sitemaps — closing the loop
    robots.txt -> sitemap -> seed candidates. Pure explode over the tiny
    per-host rules table; nothing here touches the frontier."""
    return rules.select(
        "host", F.posexplode("sitemaps").alias("pos", "sitemap_url"))


def apply_robots_rules(cands: DataFrame, rules: DataFrame,
                       cfg: PolitenessConfig) -> DataFrame:
    """Path-level robots filtering: broadcast the rules table, evaluate
    longest-match allow/deny per url path with JVM array expressions
    (no Python in the per-url hot path)."""
    raw_path = F.regexp_extract("url_canon", r"^[a-z][a-z0-9+.-]*://[^/]+(/.*)$", 1)
    path = F.when(F.length(raw_path) > 0, raw_path).otherwise(F.lit("/"))

    def best_len(patterns_col):
        # longest matching rule, JVM-side and EXACT (kernels/robots.py
        # semantics, byte-for-byte): plain prefixes — the overwhelming
        # majority of real robots rules — take a cheap startswith; '*'/'$'
        # patterns are compiled to the equivalent anchored regex and
        # evaluated with rlike. Specificity = pattern length ('$' counts).
        def score(acc, p):
            anchored = p.endswith("$")
            core = F.when(
                anchored, F.substring(p, F.lit(1), F.length(p) - 1)
            ).otherwise(p)
            plain = ~anchored & ~F.contains(p, F.lit("*"))
            # escape every non-alnum char (valid Java-regex literal escape),
            # then turn the escaped wildcard back into '.*'
            escaped = F.regexp_replace(core, r"([^A-Za-z0-9])", r"\\$1")
            rx = F.concat(F.lit("^"), F.replace(escaped, F.lit(r"\*"), F.lit(".*")))
            rx = F.when(
                anchored & ~core.endswith("*"), F.concat(rx, F.lit("$"))
            ).otherwise(rx)
            matched = F.when(plain, F.col("_path").startswith(core)).otherwise(
                F.rlike(F.col("_path"), rx)
            )
            spec = F.length(core) + F.when(anchored, F.lit(1)).otherwise(F.lit(0))
            return F.greatest(acc, F.when(matched, spec).otherwise(F.lit(-1)))

        empty = F.array().cast("array<string>")
        return F.aggregate(F.coalesce(patterns_col, empty), F.lit(-1), score)

    joined = (
        cands.withColumn("_path", path)
        .join(F.broadcast(rules), "host", "left")
    )
    allow_len = best_len(F.col("allow"))
    deny_len = best_len(F.col("disallow"))
    return (
        joined.withColumn(
            "allowed", (deny_len == -1) | (allow_len >= deny_len)
        )
        .withColumn(
            "crawl_delay",
            F.coalesce(F.col("crawl_delay"), F.lit(cfg.default_crawl_delay)),
        )
        .drop("_path", "allow", "disallow")
    )


def adaptive_crawl_delays(fetch_log: DataFrame, host_col: str = "host",
                          latency_col: str = "latency_s",
                          status_col: str = "status", *,
                          target_factor: float = 3.0,
                          min_delay: float = 1.0,
                          max_delay: float = 30.0,
                          throttle_statuses: tuple = (429, 503),
                          throttle_threshold: float = 0.1,
                          throttle_penalty: float = 2.0,
                          decimals: int = 3) -> DataFrame:
    """Latency-adaptive politeness: derive each host's crawl delay from
    its OBSERVED behavior instead of one global default — the adaptive
    crawl-rate practice of production crawlers. Per host:

    ``delay = clamp(target_factor * p50_latency, min_delay, max_delay)``
    ``       * (throttle_penalty if throttle_rate > threshold else 1)``
    re-clamped to ``max_delay``; ``throttle_rate`` is the share of
    fetches answered with ``throttle_statuses`` (429 Too Many Requests /
    503 per RFC 9110's Retry-After carriers; explicit Retry-After floors
    are ``functions.retry_after_seconds``'s job and compose downstream).

    A slow host signals limited capacity (delay scales with its median
    latency); a throttling host gets an extra multiplicative back-off.
    Hosts whose rows carry no latency measurements get the
    ``min_delay`` base (p50 of nothing = no evidence of slowness) —
    their throttle share, which needs no latency data, still applies.

    Returns (host, n_fetches, p50_latency, throttle_rate, crawl_delay)
    — feed ``crawl_delay`` into the rules table consumed by
    ``apply_robots_rules``/``schedule_round`` (observed behavior fills
    the gap where robots.txt declares no Crawl-delay).

    Scale shape: ONE hash aggregation on host (exact ``percentile`` is
    a partial-merge aggregate, not a sort), map-side-combinable; output
    is host-cardinality, broadcastable back into the frontier."""
    lat = F.col(latency_col).cast("double")
    st = F.col(status_col).cast("int")
    agg = fetch_log.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.percentile(lat, F.lit(0.5)).alias("p50_latency"),
        F.avg(
            F.when(st.isin(*[int(s) for s in throttle_statuses]), 1.0)
            .otherwise(0.0)
        ).alias("throttle_rate"),
    )
    base = F.least(
        F.greatest(F.lit(target_factor) * F.coalesce("p50_latency",
                                                     F.lit(0.0)),
                   F.lit(min_delay)),
        F.lit(max_delay),
    )
    penalized = F.when(
        F.col("throttle_rate") > throttle_threshold,
        base * throttle_penalty,
    ).otherwise(base)
    return agg.select(
        "host", "n_fetches", "p50_latency", "throttle_rate",
        F.round(F.least(penalized, F.lit(max_delay)), decimals)
        .alias("crawl_delay"),
    )


def delay_compliance(fetch_log: DataFrame, delays: DataFrame | None,
                     host_col: str = "host", ts_col: str = "fetch_ts",
                     delay_col: str = "crawl_delay", *,
                     default_delay: float = 1.0,
                     decimals: int = 6) -> DataFrame:
    """Politeness compliance audit over the FETCH LOG — the
    retroactive twin of the token-bucket gate, the way ``robots_audit``
    is the retroactive twin of ``apply_robots_rules``: did the crawler
    ACTUALLY keep each host's required spacing? Drift between the two
    (a bug in the scheduler, a second crawler writing the same log, a
    delay table updated after the fact) is what an operator review
    walks when a webmaster complains.

    Per host, inter-fetch gaps are consecutive differences of the
    time-sorted log (tie order is irrelevant — the gap multiset of a
    sorted multiset is unique; two same-second fetches audit as a gap
    of 0, a definite violation). ``delays`` carries (host,
    required_delay) — ``adaptive_crawl_delays`` output or the rules
    table; hosts absent from it (or with a NULL delay) audit against
    ``default_delay``, mirroring the no-robots default. Returns (host,
    n_fetches, required_delay_s, min_gap_s, n_violations,
    violation_rate, compliant); single-fetch hosts have no gaps and
    audit compliant with NULL min_gap/rate.

    Scale shape: one lag window on host + one host aggregation SHARING
    the same shuffle (the change_rate_table discipline), with the
    host-cardinality delay table broadcast onto the lagged rows before
    the count (violations need the per-gap comparison; the table is
    broadcastable by construction)."""
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy("_ts")
    rows = fetch_log.select(
        F.col(host_col).alias("host"),
        F.col(ts_col).cast("double").alias("_ts"),
    ).withColumn("_gap", F.col("_ts") - F.lag("_ts").over(w))
    if delays is not None:
        d = delays.select(
            F.col(host_col).alias("host"),
            F.col(delay_col).cast("double").alias("_req"))
        rows = rows.join(F.broadcast(d), "host", "left")
    else:
        rows = rows.withColumn("_req", F.lit(None).cast("double"))
    req = F.coalesce(F.col("_req"), F.lit(float(default_delay)))
    agg = rows.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.max(req).alias("required_delay_s"),
        F.min("_gap").alias("min_gap_s"),
        F.count(F.when(F.col("_gap") < req, F.lit(1)))
        .alias("n_violations"),
        F.count(F.col("_gap")).alias("_n_gaps"),
    )
    rate = F.when(
        F.col("_n_gaps") > 0,
        F.round(F.col("n_violations") / F.col("_n_gaps").cast("double"),
                int(decimals)))
    return agg.select(
        "host", "n_fetches", "required_delay_s", "min_gap_s",
        "n_violations", rate.alias("violation_rate"),
        (F.col("n_violations") == 0).alias("compliant"),
    )


def rank_host_budgets(host_scores: DataFrame, total_budget: int, *,
                      host_col: str = "host", score_col: str = "rank",
                      min_budget: int = 1,
                      max_budget: int = 1000) -> DataFrame:
    """Per-host fetch budgets proportional to host importance — the
    scheduling half of the graph→frontier feedback loop: feed
    ``plans/graph.host_rank`` (or ``host_hits`` authority) in, get the
    per-round budget each host deserves out, and hand it to the rules
    table / ``PolitenessConfig`` so ``schedule_round``'s windowed top-k
    spends the round's ``total_budget`` fetches where the link graph
    says the value is (the OPIC/PageRank-ordered crawling practice —
    Cho/Garcia-Molina/Page, public literature — instead of a flat
    per-host cap).

    ``host_budget = clamp(ceil(total_budget * score / sum(score)),
    min_budget, max_budget)`` — non-positive/NULL scores contribute
    nothing to the denominator and land at ``min_budget`` (a host the
    graph has no opinion on still gets a trickle, so discovery never
    starves); a degenerate all-zero score table yields ``min_budget``
    everywhere. ``ceil`` + the clamp mean budgets can sum slightly over
    ``total_budget`` — bounds, not an exact partition (the politeness
    window is the enforcement point, and an exact largest-remainder
    split would cost a global sort for no scheduling benefit).

    Scale shape: host_scores is host-cardinality (orders of magnitude
    smaller than the frontier); the score sum is ONE tiny aggregate job
    whose result is embedded as a literal — per-round scheduling
    METADATA, the bm25 corpus-scalars discipline — so the output plan
    is a pure projection (a constant-key attach would compile to the
    degenerate 1-row-broadcast nested-loop join the plan audit bans)."""
    s = F.col(score_col).cast("double")
    pos = F.when(s > 0, s).otherwise(F.lit(0.0))
    total = host_scores.agg(F.sum(pos)).first()[0]
    if not total or total <= 0:
        budget = F.lit(int(min_budget))
    else:
        raw = F.ceil(F.lit(float(total_budget)) * pos / F.lit(float(total)))
        budget = F.least(F.greatest(raw, F.lit(min_budget)),
                         F.lit(max_budget))
    return host_scores.select(F.col(host_col).alias("host"),
                              budget.cast("int").alias("host_budget"))


def rank_boosted_candidates(cands: DataFrame, host_scores: DataFrame, *,
                            alpha: float = 10.0, host_col: str = "host",
                            score_col: str = "rank",
                            priority_col: str = "priority",
                            decimals: int = 6) -> DataFrame:
    """Fold host importance into candidate priority — the ordering half
    of the graph→frontier feedback loop. Each candidate's priority is
    raised by ``alpha * score / max(score)`` (max-normalized so alpha
    is in PRIORITY units, independent of whether the score table is a
    PageRank vector, HITS authority, or a raw fetch count), rounded to
    ``decimals`` and exposed as ``rank_boost`` beside the rewritten
    ``priority`` so ``schedule_round`` / ``frontier_schedule`` consume
    the output unchanged and an audit can still separate the two terms.

    Candidates on hosts the score table has no opinion on (or a
    degenerate all-nonpositive table) get boost 0.0 — the frontier's
    own priority stands alone. Deterministic: equal inputs give equal
    boosts; the downstream total order's (priority, seq, url) tie-break
    discipline is untouched.

    Scale shape: host_scores broadcasts into a map-side hash join (it
    is host-cardinality); the max is ONE tiny aggregate job embedded as
    a literal (the rank_host_budgets / bm25 corpus-scalars discipline)
    — the candidate table never shuffles here and the plan carries a
    single BroadcastHashJoin, no nested loop."""
    s = F.col(score_col).cast("double")
    smax = host_scores.agg(F.max(s)).first()[0]
    scores = host_scores.select(F.col(host_col).alias("__rb_host"),
                                s.alias("__rb_score"))
    joined = cands.join(F.broadcast(scores),
                        cands[host_col] == F.col("__rb_host"), "left")
    if smax is None or smax <= 0:
        boost = F.lit(0.0)
    else:
        boost = F.when(
            F.col("__rb_score") > 0,
            F.round(F.lit(float(alpha)) * F.col("__rb_score")
                    / F.lit(float(smax)), decimals),
        ).otherwise(F.lit(0.0))
    return (joined
            .withColumn("rank_boost", boost)
            .withColumn(priority_col,
                        F.round(F.col(priority_col)
                                + F.col("rank_boost"), decimals))
            .drop("__rb_host", "__rb_score"))


def robots_audit(fetched: DataFrame, rules: DataFrame,
                 url_col: str = "url",
                 cfg: PolitenessConfig | None = None,
                 canonicalize: bool = True) -> DataFrame:
    """Compliance audit: re-evaluate every FETCHED url against the
    CURRENT rules table — the retroactive twin of ``apply_robots_rules``
    (which gates candidates before fetching). An ``allowed = false`` row
    is a url sitting in the archive that today's robots.txt denies:
    rules drift since fetch time, or a crawler bug — exactly what a
    takedown / compliance review walks.

    Urls are canonicalized first (the same split-union the frontier
    uses) so a messy log line — uppercase scheme, stray spaces — still
    reaches the right host's rules and the right path; for an audit the
    failure direction of skipping this is a false ALLOW. Pass
    ``canonicalize=False`` only when the input is the frontier's own
    url_canon output.

    Output: (url, host, allowed, crawl_delay) — ``url`` is returned AS
    GIVEN (the caller's key into their archive). Hosts absent from the
    rules table audit as allowed (no robots.txt = no restrictions, the
    RFC 9309 default), with the config's default crawl_delay.

    Scale shape: identical to the candidate gate — rules broadcast,
    longest-match evaluated with JVM array expressions per url, no
    shuffle of the fetch log at all (the canonical majority stays in
    codegen; only messy urls cross the Arrow hop)."""
    given = fetched.select(F.col(url_col).alias("_url_given"))
    if canonicalize:
        cands = WF.with_canonical_url(given, "_url_given", "url_canon")
    else:
        cands = given.withColumn("url_canon", F.col("_url_given"))
    cands = cands.withColumn(
        "host", WF.url_host_expr(F.col("url_canon")))
    out = apply_robots_rules(cands, rules, cfg or PolitenessConfig())
    return out.select(F.col("_url_given").alias("url"), "host",
                      "allowed", "crawl_delay")


# ---------------------------------------------------------------------------
# deterministic demo universe (for entry()/tests; no external data)
# ---------------------------------------------------------------------------


def demo_candidates(docs: DataFrame) -> DataFrame:
    """Deterministic candidate URLs derived from the documents table."""
    return docs.select(
        F.concat(
            F.lit("http://host"),
            F.pmod("doc_id", F.lit(97)).cast("string"),
            F.lit(".example.com/doc/"),
            F.col("doc_id").cast("string"),
            F.lit("?src="),
            F.col("source"),
        ).alias("url"),
        (F.pmod(F.col("doc_id") * 7919, F.lit(1000)) / 10.0).alias("priority"),
        F.col("doc_id").alias("seq"),
    )


def demo_robots(spark: SparkSession) -> DataFrame:
    """Deterministic robots table: every 13th host denied; delays vary."""
    hosts = spark.range(0, 97).select(
        F.concat(F.lit("host"), F.col("id").cast("string"), F.lit(".example.com")).alias("host"),
        (F.pmod("id", F.lit(13)) != 0).alias("allowed"),
        (F.lit(2.0) + F.pmod("id", F.lit(4)) * 2.0).alias("crawl_delay"),
    )
    return hosts


def demo_round(spark: SparkSession, docs: DataFrame,
               cfg: PolitenessConfig | None = None) -> DataFrame:
    """One full scheduling round over the demo universe: the flagship query.

    seen = every 5th doc url (simulating prior rounds); robots deny every
    13th host; politeness budgets from per-host crawl delays.
    """
    cfg = cfg or PolitenessConfig()
    raw = demo_candidates(docs)
    seen = with_frontier_keys(
        demo_candidates(docs.filter(F.pmod("doc_id", F.lit(5)) == 0))
    ).select("url_hash")
    cands = prepare_candidates(raw, seen, demo_robots(spark), cfg)
    return fetch_order(schedule_round(cands, cfg)).select(
        "fetch_order", "url", "url_canon", "host", "priority", "seq",
        "host_rank", "fetch_ts_offset",
    )
