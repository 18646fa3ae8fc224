#!/usr/bin/env python3
"""Benchmark driver for warcio_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--scale full|tiny]

Run from the root of a source tree. One process, one ``local[<cores>]``
Spark session, one closed-loop caller. The run generates its inputs from
the seed, sets up and warms up (timed as ``setup_s``), calls the workload's
operation back to back for ``--seconds``, runs the untimed correctness
gate, and with ``--trace 1`` also a traced pass whose per-layer figures
come from the Spark event log. Human-readable lines come first; the last
line of standard output is the JSON result. The exit code is 0 only when
every gate check passed; 2 means the source tree is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import median, summarize  # noqa: E402

WORKLOADS = ("frontier_round", "warc_roundtrip")

#: end-to-end metrics every workload reports (see README.md for what
#: ``work_per_s`` counts on each workload)
END_TO_END = (
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("work_per_s", "1/s"),
)

#: per traced Spark layer: wall time, rows out, then event-log figures
LAYER_FIELDS = (
    ("_s", "s"),
    ("_rows_out", "count"),
    ("_task_s", "s"),
    ("_task_skew", "ratio"),
    ("_shuffle_bytes", "B"),
    ("_spill_bytes", "B"),
    ("_py_hops", "count"),
)

#: per-layer figures that are not per-Spark-layer
EXTRA_LAYER_METRICS = (
    ("kernels.urls.with_frontier_keys_rows_in", "count"),
    ("plans.frontier.plan_build_s", "s"),
    ("plans.frontier.not_seen_pruned_ratio", "ratio"),
    ("plans.frontier.schedule_task_skew", "ratio"),
    ("plans.crawl.urls_per_s", "1/s"),
    ("plans.crawl.round_wall_s", "s"),
    ("plans.crawl.partition_skew", "ratio"),
    ("plans.crawl.commit_s", "s"),
    ("plans.crawl.snapshot_bytes_per_url", "B"),
    ("plans.crawl.not_seen_pruned_ratio", "ratio"),
    ("kernels.parse.records_per_s_1t", "1/s"),
    ("kernels.build.records_per_s_1t", "1/s"),
    ("operators.writer.bytes_per_page_byte", "ratio"),
    ("sources.warc.payload_decode_s", "s"),
    ("sources.warc.selected_byte_ratio", "ratio"),
    ("trace.op_p50_s", "s"),
    ("trace.overhead_ratio", "ratio"),
)


def workload_class(name: str):
    if name == "frontier_round":
        from frontier_round import FrontierRound
        return FrontierRound
    from warc_roundtrip import WarcRoundtrip
    return WarcRoundtrip


def per_layer_metrics() -> list:
    """(name, unit) of every per-layer metric, over all workloads."""
    out = []
    for name in WORKLOADS:
        wl = workload_class(name)
        for layer in wl.LAYERS:
            out.extend((layer + suffix, unit) for suffix, unit in LAYER_FIELDS)
        out.extend(wl.NAMED)
    return out + list(EXTRA_LAYER_METRICS)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def shutdown(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and the Python workers it forked have exited."""
    from pyspark import SparkContext

    from host import descendants

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(
            os.path.exists("/proc/{0}".format(p)) for p in pids):
        time.sleep(0.1)


def layer_table(wl, tracer, stages) -> dict:
    from eventlog import layer_metrics

    by_group = layer_metrics(stages)
    out = {}
    for layer in wl.LAYERS:
        groups = [by_group.get(g, {}) for g in tracer.groups.get(layer, ())]
        out[layer + "_s"] = tracer.wall(layer)
        out[layer + "_rows_out"] = float(tracer.rows.get(layer, 0))
        for field in ("task_s", "task_skew", "shuffle_bytes", "spill_bytes",
                      "py_hops"):
            vals = [g[field] for g in groups if field in g]
            out[layer + "_" + field] = float(median(vals)) if vals else 0.0
    return out


def run(args) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "warcio_spark", "__init__.py")):
        print("perfbench: no warcio_spark package under {0}; run from the "
              "root of a source tree".format(root), file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # Python workers inherit the environment of the JVM this process starts
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    work = os.path.join(root, ".perfbench_work", "run-{0}".format(os.getpid()))
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])

    try:
        result = measure_run(args, work)
    finally:
        import host

        host.stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    return report(args, result)


def measure_run(args, work):
    """Set up, measure, gate and (with --trace 1) trace one workload; the
    session is stopped before returning."""
    import host
    from core import Context, Tracer, measure

    host.require_memory()
    canary = {"before": host.load_canary()}
    sampler = host.RssSampler().start()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = host.make_session(work, event_log=bool(args.trace))
        session_s = time.perf_counter() - t0
        ctx = Context(spark, work, args.seed, args.scale, host.cores())
        wl = workload_class(args.workload)(ctx)
        t1 = time.perf_counter()
        wl.setup()
        inputs_s = time.perf_counter() - t1
        t2 = time.perf_counter()
        # first calls pay codegen, JIT compilation and Python worker start
        wl.warmup(trace=bool(args.trace))
        warmup_s = time.perf_counter() - t2
        setup_s = time.perf_counter() - t0

        samples = measure(wl.op, args.seconds)
        checks = wl.check()
        if args.trace:
            tracer = Tracer(spark)
            extra, trace_checks = wl.trace(tracer)
            checks += trace_checks
            traced_s, untraced_s = wl.traced_op_s(tracer)
    finally:
        if spark is not None:
            shutdown(spark)
        peak_mb = sampler.stop()
    canary["after"] = {"loadavg_1m": os.getloadavg()[0]}

    summary = wl.summary(samples)
    op = summarize(summary["op_s"])
    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
        "work_per_s": summary["work_per_s"],
    }
    layers = {}
    if args.trace:
        from eventlog import event_files, parse_stages, read_events

        stages = parse_stages(read_events(event_files(
            os.path.join(work, "events"))))
        layers = dict.fromkeys((n for n, _ in per_layer_metrics()), 0.0)
        layers.update(layer_table(wl, tracer, stages))
        layers.update(extra)
        layers.update(wl.log_metrics(stages, tracer))
        layers.update((k, v) for k, (v, _, _) in summary["named"].items())
        layers["trace.op_p50_s"] = op["median"]
        layers["trace.overhead_ratio"] = traced_s / untraced_s - 1.0
    return {
        "canary": canary, "cores": ctx.cores, "session_s": session_s,
        "inputs_s": inputs_s, "warmup_s": warmup_s, "samples": samples,
        "checks": checks, "summary": summary, "op": op, "e2e": e2e,
        "layers": layers,
    }


def report(args, r: dict) -> int:
    """Print the human-readable lines, then the JSON result line."""
    checks, summary, op, e2e = r["checks"], r["summary"], r["op"], r["e2e"]
    failed = sum(1 for c in checks if not c.ok)
    attempted = len(r["samples"]) + len(checks)
    print(json.dumps({"load_canary": r["canary"]}))
    print("workload {0} seed {1} cores {2}: session {3:.2f}s, inputs "
          "{4:.2f}s, warm-up {5:.2f}s".format(
              args.workload, args.seed, r["cores"], r["session_s"],
              r["inputs_s"], r["warmup_s"]))
    for c in checks:
        print("check {0}: {1} {2}".format(c.name, "ok" if c.ok else "FAILED",
                                          c.detail))
    units = dict(END_TO_END)
    for name, value in e2e.items():
        print("{0} = {1:.6g} {2}".format(name, value, units[name]))
    tail = {k: v for k, v in op.items() if k not in ("median", "n")}
    print("op samples n={0} {1} {2}".format(
        op["n"], [round(x, 3) for x in summary["op_s"]], tail or ""))
    for name, (value, unit, n) in summary["named"].items():
        print("{0} = {1:.6g} {2} (median of {3})".format(name, value, unit, n))
    print("ops_failed_ratio = {0:.6g} ratio ({1} of {2})".format(
        failed / attempted, failed, attempted))

    if args.trace:
        lunits = dict(per_layer_metrics())
        metrics = {k: {"value": r["layers"][k], "unit": lunits[k]}
                   for k in lunits}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args)
    except Exception:
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
