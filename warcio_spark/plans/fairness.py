"""Crawl fairness report: how evenly the fetch budget was spent across
hosts.

A polite crawler's fetch log should spread over the frontier's hosts,
not sink into a handful of mega-sites; schedulers watch concentration
metrics to catch that drift (a trap or a skew bug shows up here before
it shows up anywhere else).  This computes the three standard ones over
the per-host fetch counts:

- **Gini coefficient** — 0 = perfectly even, ->1 = all fetches on one
  host; the rank-weighted form ``G = 2*sum(i*x_i)/(n*sum(x)) -
  (n+1)/n`` over counts sorted ascending;
- **HHI** (Herfindahl-Hirschman) — ``sum(share^2)``, the
  concentration index antitrust uses; 1/n for even, 1.0 for monopoly;
- **max_share** — the single heaviest host's fraction.

Scale shape: one shuffle for the host aggregation; the global rank the
Gini needs comes from ``plans.prefix.with_global_row_number`` (sampled
split points into ``range_rank`` — NO unpartitioned window, no
data-bearing single-partition stage even at 10^8 hosts); the final fold
is a map-combinable single-row aggregate.  The rank key breaks count ties by
host, which leaves the Gini unchanged (equal values commute in the
rank-weighted sum) while keeping the plan deterministic at any
parallelism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from warcio_spark.plans.prefix import with_global_row_number


def fetch_fairness(log: DataFrame, host_col: str = "host") -> DataFrame:
    """One-row fairness summary of a fetch log.

    ``log``: anything with a host column, one row per fetch.  Returns
    (n_hosts, total_fetches, gini, hhi, max_share), ratios rounded to 6
    places.  Empty log -> empty result (no hosts, no evidence).
    """
    counts = log.groupBy(F.col(host_col).alias("host")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # unique, order-consistent rank key: count ascending, host tie-break
    keyed = counts.withColumn(
        "__k",
        F.concat(
            F.lpad(F.col("n").cast("string"), 19, "0"),
            F.lit("|"),
            F.col("host"),
        ),
    )
    # with_global_row_number is 0-based; the Gini rank form wants 1..n
    ranked = with_global_row_number(keyed, "__k", out_col="__rank")
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_hosts"),
        F.sum("n").alias("total_fetches"),
        F.sum((F.col("__rank") + 1) * F.col("n")).alias("_w"),
        F.max("n").alias("_max"),
        F.sum(F.col("n") * F.col("n")).alias("_sq"),
    )
    n, s = F.col("n_hosts"), F.col("total_fetches")
    gini = (
        F.lit(2.0) * F.col("_w") / (n * s) - (n + 1).cast("double") / n
    )
    return agg.select(
        n.cast("int").alias("n_hosts"),
        s.alias("total_fetches"),
        F.round(gini, 6).alias("gini"),
        F.round(F.col("_sq").cast("double") / (s * s), 6).alias("hhi"),
        F.round(F.col("_max").cast("double") / s, 6).alias("max_share"),
    ).filter(F.col("n_hosts") > 0)
