"""Distributed global prefix sums — the scale-correct alternative to an
unpartitioned ``Window.orderBy`` (which Spark executes on ONE task,
moving the whole table through a single partition; fine for a 400-row
frontier, a wall at 10^10 rows).

TeraSort-style two-phase scan: sample order-consistent split points
(driver-side literals, bounded by parallelism — never by data), bucket
every row with a pure-codegen boundary expression, take a per-bucket
running sum under the ONE hash exchange the window itself inserts, and
lift each bucket by the exclusive total of earlier buckets (a
#buckets-row aggregate folded back as a literal map). Total: one data
shuffle, no single-partition stage, no driver-side state that grows
with the corpus.

Because the bucket id is a deterministic function of the KEY (not of
physical partitioning), every job in the plan recomputes it
consistently — correctness needs no persist; ``persist_tracker`` is a
pure performance knob that keeps the count/sample/totals passes off
the source scan.

Reference scope: the reference library (warcio) has no distributed
prefix primitive — this underpins the repo's training-pipeline layer
(shard assignment, ZipNum block numbering), not a warcio surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from warcio_spark.plans.graph import persist_into

_BKT = "__prefix_bucket"


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
    total order given by ``order_col``.

    ``order_col`` MUST be a unique, non-null key (doc_id, a packed
    sortable string, ...): ties have no defined running-sum order, and
    uniqueness is what makes the result partitioning-invariant — the
    same prefix sums come back whatever ``num_partitions`` is or
    wherever the sampled split points land.

    ``exclusive=True`` gives the sum of strictly-earlier rows (0 for the
    first row) — the natural form for "offset where this row starts".

    With ``persist_tracker`` (a list, the ``plans.graph.persist_into``
    contract) the narrow (key, value, bucket)
    projection is persisted so the count/sample/totals passes and the
    final plan share one materialization; the CALLER unpersists after
    materializing the result. Without it nothing is persisted — still
    correct (the bucket id is a pure function of the key), just
    re-scans the source per pass.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    staged = persist_into(df, persist_tracker)
    pts = _split_points(staged, order_col, n)
    bucketed = staged.withColumn(_BKT, _bucket_expr(order_col, pts))
    totals = {
        r[_BKT]: r["t"]
        for r in bucketed.groupBy(_BKT).agg(F.sum(value_col).alias("t")).collect()
    }
    entries: list[Column] = []
    acc = 0
    for b in range(len(pts) + 1):
        entries.extend([F.lit(b), F.lit(acc)])
        acc += totals.get(b, 0) or 0
    offset = F.element_at(F.create_map(*entries), F.col(_BKT))
    # the window's required clustering on the bucket column inserts the
    # plan's ONE data exchange; no separate repartition needed
    w = (
        Window.partitionBy(_BKT)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = offset + F.sum(value_col).over(w)
    if exclusive:
        cum = cum - F.col(value_col)
    return bucketed.withColumn(out_col, cum.cast("long")).drop(_BKT)


def with_global_row_number(
    df: DataFrame,
    order_col: str,
    out_col: str = "rn",
    *,
    num_partitions: int | None = None,
    persist_tracker: list | None = None,
) -> DataFrame:
    """``df`` plus a 0-based dense global row number in ``order_col``
    order — ``with_global_cumsum`` of the constant 1, exclusive, so the
    first row is 0. Same uniqueness contract on ``order_col``."""
    one = "__prefix_one"
    out = with_global_cumsum(
        df.withColumn(one, F.lit(1)),
        order_col,
        one,
        out_col,
        exclusive=True,
        num_partitions=num_partitions,
        persist_tracker=persist_tracker,
    )
    return out.drop(one)
