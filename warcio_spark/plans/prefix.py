"""Skew-safe ranking — the scale-correct alternative to an unpartitioned
``Window.orderBy`` (which Spark executes on ONE task; fine for a 400-row
frontier, a wall at 10^10 rows) and to a per-group window over a
Zipf-skewed key (one mega-host or en-heavy stratum on one reducer).

- ``range_rank``: global row number or running sum over an
  order-consistent range id — one data shuffle, range offsets computed
  inside the plan, no driver-side action. ``fetch_order`` gives it a
  priority CASE as the id; ``with_global_cumsum`` /
  ``with_global_row_number`` give it TeraSort-style sampled split points
  (driver-side literals bounded by parallelism, never by data).
- ``group_top_k``: exact per-group top-k through a (group, bucket) prune.

A range id is a deterministic function of the KEY, not of physical
partitioning, so every job in a plan recomputes it consistently —
correctness needs no persist; ``persist_tracker`` is a performance knob.

Reference scope: warcio has no distributed ranking primitive — this
underpins the crawl scheduler and the training-pipeline layer (shard
assignment, ZipNum block numbering, quotas), not a warcio surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from warcio_spark.plans.graph import persist_into

_RID = "__prefix_range"
_N = "__prefix_n"
_OFF = "__prefix_off"
_B = "__topk_bucket"
_R = "__topk_rank"
_K = "__topk_k"


def range_rank(
    df: DataFrame,
    rid: Column,
    n_ranges: int,
    order: list,
    out_col: str,
    *,
    value: Column | None = None,
    persist_tracker: list | None = None,
) -> DataFrame:
    """``df`` plus ``out_col``: the 1-based global row number in
    (``rid``, ``order``) order or, with ``value``, the inclusive running
    sum of ``value`` in that order.

    ``rid`` is an integer expression in ``[0, n_ranges)`` that agrees
    with the order: every row of range r comes before every row of range
    r+1. Identical to a bare global window for any ``rid`` of that kind
    when ``order`` is total within a range. ``value`` must be non-NULL
    (a range's leading NULLs would sum to NULL).

    ``persist_tracker``: with a list supplied, the post-exchange ranged
    rows are persisted so the counts branch and the rank branch share ONE
    upstream computation (both resolve to the same InMemoryRelation in
    the single driving job — no extra action); the CALLER unpersists
    after materializing the result. Without it the counts branch reuses
    the range exchange (ReusedExchange); same result, no cache.
    """
    ranged = df.withColumn(_RID, rid).repartition(max(2, n_ranges), _RID)
    ranged = persist_into(ranged, persist_tracker)
    size = F.count(F.lit(1)) if value is None else F.sum(value)
    counts = ranged.groupBy(_RID).agg(size.alias(_N))
    # single-partition, but over at most n_ranges rows
    w_off = Window.orderBy(_RID).rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        _RID, F.coalesce(F.sum(_N).over(w_off), F.lit(0)).alias(_OFF)
    )
    w = Window.partitionBy(_RID).orderBy(*order)
    local = (
        F.row_number().over(w) if value is None
        else F.sum(value).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    )
    return (
        ranged.join(F.broadcast(offs), _RID)
        .withColumn(out_col, local + F.col(_OFF))
        .drop(_RID, _OFF)
    )


def group_top_k(
    df: DataFrame,
    by: list,
    order: list,
    k: int | Column,
    bucket: Column,
    out_col: str,
) -> DataFrame:
    """Rows of ``df`` among the first ``k`` of their group (columns
    ``by``) in ``order``, plus ``out_col`` = their 1-based rank in the
    group. ``k`` is an int or a Column constant within each group (a
    per-host budget, a per-stratum quota).

    Phase 1 ranks inside (group, ``bucket``) slices and keeps each
    slice's first k; phase 2 ranks the <= #buckets*k survivors per
    group. Both phases use the SAME order, and a row outside its slice's
    first k has k rows of its own group ahead of it, so the composition
    is exactly the single-window per-group top-k — while a mega-group's
    exact window never sees more than #buckets*k rows. ``order`` must be
    total within a group (tie-break on a unique key) for the result to
    be deterministic; ``bucket`` is any expression of the row that
    spreads a group (e.g. ``pmod(xxhash64(id), 32)``).
    """
    df = df.withColumn(_B, bucket)
    if isinstance(k, Column):
        df = df.withColumn(_K, k)
        k = F.col(_K)
    w_slice = Window.partitionBy(*by, _B).orderBy(*order)
    w_group = Window.partitionBy(*by).orderBy(*order)
    return (
        df.withColumn(_R, F.row_number().over(w_slice))
        .filter(F.col(_R) <= k)
        .drop(_R, _B)
        .withColumn(out_col, F.row_number().over(w_group))
        .filter(F.col(out_col) <= k)
        .drop(_K)
    )


def _split_points(df: DataFrame, order_col: str, n: int) -> list:
    """Up to ``n - 1`` split points from a seeded sample. ANY choice of
    points yields a CORRECT bucketing — ``bucket = #points <= key`` is
    monotone in the key, so bucket ranges are always order-consistent;
    sample quality only affects balance. Sample size is bounded by
    ``n * 64`` rows regardless of corpus size."""
    total = df.count()
    if total == 0:
        return []
    frac = min(1.0, (n * 64) / total * 1.2)
    keys = sorted(
        r[0]
        for r in df.select(order_col).sample(fraction=frac, seed=7).collect()
        if r[0] is not None
    )
    if not keys:
        return []
    pts = {keys[min(len(keys) - 1, i * len(keys) // n)] for i in range(1, n)}
    return sorted(pts)


def _bucket_expr(order_col: str, pts: list) -> Column:
    """#split-points <= key, as a small-literal-array HOF — stays inside
    whole-stage codegen, no join, no Python."""
    if not pts:
        return F.lit(0)
    arr = F.array(*[F.lit(p) for p in pts])
    key = F.col(order_col)
    return F.size(F.filter(arr, lambda b: b <= key))


def _sampled_rank(df, order_col, out_col, value, num_partitions,
                  persist_tracker):
    """``range_rank`` over sampled split points of ``order_col``. The
    source is what gets persisted: the count/sample passes and the final
    plan all read it."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    staged = persist_into(df, persist_tracker)
    pts = _split_points(staged, order_col, n)
    return range_rank(staged, _bucket_expr(order_col, pts), len(pts) + 1,
                      [F.asc(order_col)], out_col, value=value)


def with_global_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cum",
    *,
    exclusive: bool = False,
    num_partitions: int | None = None,
    persist_tracker: list | None = None,
) -> DataFrame:
    """``df`` plus ``out_col`` = running sum of ``value_col`` over the
    total order given by ``order_col``; a NULL value counts as 0.

    ``order_col`` MUST be a unique, non-null key (doc_id, a packed
    sortable string, ...): ties have no defined running-sum order, and
    uniqueness is what makes the result partitioning-invariant — the
    same prefix sums come back whatever ``num_partitions`` is or
    wherever the sampled split points land.

    ``exclusive=True`` gives the sum of strictly-earlier rows (0 for the
    first row) — the natural form for "offset where this row starts".

    With ``persist_tracker`` (a list, the ``plans.graph.persist_into``
    contract) ``df`` is persisted so the two sampling passes and the
    final plan share one materialization; the CALLER unpersists after
    materializing the result. Without it nothing is persisted — still
    correct, just re-scans the source per pass. Building the result runs
    only the sampling passes (a count and a sample collect).
    """
    v = F.coalesce(F.col(value_col), F.lit(0))
    out = _sampled_rank(df, order_col, out_col, v, num_partitions,
                        persist_tracker)
    cum = F.col(out_col) - v if exclusive else F.col(out_col)
    return out.withColumn(out_col, cum.cast("long"))


def with_global_row_number(
    df: DataFrame,
    order_col: str,
    out_col: str = "rn",
    *,
    num_partitions: int | None = None,
    persist_tracker: list | None = None,
) -> DataFrame:
    """``df`` plus a 0-based dense global row number in ``order_col``
    order (the first row is 0). Same uniqueness contract on
    ``order_col`` and same persist rule as ``with_global_cumsum``."""
    out = _sampled_rank(df, order_col, out_col, None, num_partitions,
                        persist_tracker)
    return out.withColumn(out_col, F.col(out_col) - 1)
