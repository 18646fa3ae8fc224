"""Shared pieces of the workloads: run context, forcing, timing, tracing."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from stats import median


@dataclass
class Context:
    """What a workload needs: the session, its own scratch directory, the
    input seed, the size preset and the core count."""

    spark: object
    work: str
    seed: int
    scale: str  # "full" or "tiny"
    cores: int

    def path(self, *parts) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p


def force(df) -> None:
    """Materialize every row through a noop sink (no driver collect)."""
    df.write.format("noop").mode("overwrite").save()


def measure(op, seconds: float) -> list:
    """Call ``op`` back to back (closed loop, one caller) until ``seconds``
    have passed; the call running at the deadline completes. Returns the
    per-call sample dicts."""
    samples = []
    t_end = time.perf_counter() + seconds
    while not samples or time.perf_counter() < t_end:
        samples.append(op())
    return samples


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fns in os.walk(path):
        for f in fns:
            total += os.path.getsize(os.path.join(dp, f))
    return total


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


@dataclass
class Tracer:
    """Times layer calls and tags each call's Spark jobs with a job group,
    ``<layer>@<rep>``, so the event log can be split by layer afterwards.
    Layer metrics from the log are merged in by ``run.py`` once the session
    has stopped."""

    spark: object
    walls: dict = field(default_factory=dict)  # layer -> [seconds]
    rows: dict = field(default_factory=dict)  # layer -> rows out
    groups: dict = field(default_factory=dict)  # layer -> [group ids]

    def call(self, layer: str, fn):
        """Run ``fn()`` as one call of ``layer``; returns its result."""
        sc = self.spark.sparkContext
        group = "{0}@{1}".format(layer, len(self.groups.get(layer, ())))
        sc.setJobGroup(group, layer)
        try:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        self.walls.setdefault(layer, []).append(dt)
        self.groups.setdefault(layer, []).append(group)
        return out

    def force_counted(self, layer: str, df) -> int:
        """Force ``df`` as one call of ``layer`` and return its row count,
        observed inside the same job (no extra action)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation()
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        self.call(layer, lambda: force(observed))
        n = int(obs.get["rows"])
        self.rows[layer] = n
        return n

    def wall(self, layer: str) -> float:
        return median(self.walls[layer])
