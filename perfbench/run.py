"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the workload's seeded inputs
(cached under ``.perfbench/cache``), starts a Spark session sized to
the host, sets up three times (reporting the median as ``setup_s``),
warms up, runs operations back to back for ``--seconds``, checks
every output and prints one JSON object as its last line: the
end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. The full
record (host, every sample, every layer figure, the spans) goes to
``.perfbench/results``. ``--workload all`` runs every workload in
turn, each in its own process.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")

SETUP_ROUNDS = 3   # all in one process; setup_s is the median of all but
                   # the first, which also launches the JVM
MIN_OPS = 2        # a run measures at least this many operations (a
                   # traced run alternates untraced and traced ones); it
                   # warms up for at least as long as it then measures,
                   # and with at least the workload's warmup_ops

# end-to-end metrics (--trace 0): name -> unit
END_TO_END = {
    "setup_s": "s",
    "latency_s_p50": "s",
}

# per-layer metrics (--trace 1): name -> unit. Workload-specific layer
# times are in the record and on stdout; see perfbench/README.md.
PER_LAYER = {
    "jvm.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "operators.pip_join.prepare_cold_s": "s",
    "operators.pip_join.covering_rows": "count",
    "operators.pip_join.boundary_cells": "count",
    "operators.pip_join.hits": "count",
    "operators.pip_join.refine_candidates": "count",
    "operators.knn.jobs_per_query": "count",
    "operators.knn.tasks_per_query": "count",
    "plans.incremental.dirty_tiles": "count",
    "plans.incremental.recompute_ratio": "ratio",
    "sources.catalog.bytes_written": "bytes",
    "sources.catalog.files_written": "count",
    "operators.images_ops.verified_rows": "count",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.executor_noncpu_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def run_all(args) -> int:
    """Every workload in its own process; prints each one's output and
    a combined result whose metric names are prefixed by workload."""
    from perfbench.workloads import WORKLOADS

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(out.stdout)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            print(f"perfbench: {name} exited with {out.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))
    return 0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(wl, ctx, seconds: float, tracer, alternate: bool,
            min_ops: int = MIN_OPS):
    """Closed loop, one client: operations back to back for
    ``seconds`` (and at least ``min_ops`` of them). With
    ``alternate`` every second operation is traced, so the warm-up
    trend the JVM still shows falls on both kinds alike. Returns
    (ops, attempted, failed)."""
    ops, attempted, failed = [], 0, 0
    t_end = time.perf_counter() + seconds
    i = 0
    while attempted < min_ops or time.perf_counter() < t_end:
        attempted += 1
        tracer.enabled = alternate and i % 2 == 1
        try:
            with tracer.span("op"):
                o = wl.op(ctx, i)
        except Exception:  # one failed operation must not end the run
            traceback.print_exc(file=sys.stderr)
            failed += 1
        else:
            o.extra["traced"] = tracer.enabled
            ops.append(o)
            failed += not o.ok
        i += 1
    tracer.enabled = alternate
    return ops, attempted, failed


def span_layers(tracer, spans_metrics, n_ops: int) -> dict:
    """Per-op means of the operations and the instrumented calls inside
    them: inclusive and self time per span name, plus the Spark stage
    metrics of their jobs (peak memory is the maximum)."""
    from perfbench.trace import STAGE_FIELDS, self_times

    selfs = self_times(tracer.spans)
    by_id = {s.id: s for s in tracer.spans}

    def in_op(s):  # the layer splits call the same functions outside any op
        while s.name != "op":
            if s.parent is None:
                return False
            s = by_id[s.parent]
        return True

    total: dict[str, float] = {}
    peak: dict[str, float] = {}
    for s in tracer.spans:
        if not in_op(s):
            continue
        base = f"span.{s.name}"
        for key, v in ((f"{base}.s", s.end - s.start), (f"{base}.self_s", selfs[s.id]),
                       (f"{base}.calls", 1)):
            total[key] = total.get(key, 0) + v
        for f in STAGE_FIELDS:
            v = spans_metrics[s.id][f]
            if f == "peak_exec_mem_bytes":
                peak[f"{base}.{f}"] = max(peak.get(f"{base}.{f}", 0), v)
            else:
                total[f"{base}.{f}"] = total.get(f"{base}.{f}", 0) + v
    return {k: v / n_ops for k, v in total.items()} | peak


def bench(args) -> int:
    from perfbench import gen, host, stats
    from perfbench.trace import Tracer, instrument, span_stage_metrics, stage_metrics
    from perfbench.workloads import WORKLOADS, Ctx, prepare_polygons

    from osmnightwatch_spark.operators import pip_join as PJ
    from osmnightwatch_spark.session import get_spark

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {', '.join(WORKLOADS)} or all", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tmp = tempfile.gettempdir()
    work = os.path.join(STATE, "work", run_id)
    os.makedirs(work, exist_ok=True)
    cache = gen.InputCache(os.path.join(STATE, "cache"))

    t_start = t0 = time.perf_counter()
    inputs = cache.get(wl.name, args.seed, wl.size_key(),
                       lambda p: wl.build_inputs(p, args.seed))
    tracer = Tracer(run_id, enabled=False)
    kwargs = host.session_kwargs(tmp)
    ctx = Ctx(None, tracer, inputs, work)
    wl.load(ctx)
    inputs_s = time.perf_counter() - t0
    load_at_start = host.loadavg()

    rounds = []
    spark = None
    try:
        for r in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{wl.name}", **kwargs)
            t1 = time.perf_counter()
            PJ._BUILD_CACHE.clear()  # cold: the engine memoizes prepared sets
            prepared = prepare_polygons()
            t2 = time.perf_counter()
            ctx.spark, tracer.sc = spark, spark.sparkContext
            wl.setup(ctx)
            rounds.append({"setup_s": time.perf_counter() - t0,
                           "get_spark_s": t1 - t0, "prepare_cold_s": t2 - t1})
            if r < SETUP_ROUNDS - 1:
                wl.teardown(ctx)
                spark.stop()
        # let caches fill and the JIT settle: the JVM keeps getting
        # faster for several operations after the cold first one
        t0 = time.perf_counter()
        warm, _, warm_failed = measure(wl, ctx, args.seconds, tracer, False,
                                       wl.warmup_ops)
        warmup_s = time.perf_counter() - t0
        warm_failures = ["warm-up operation failed"] * warm_failed

        t_measure = time.perf_counter()
        layers: dict = {}
        restore = instrument(tracer, instrument_targets()) if args.trace else None
        try:
            with host.RssSampler(spark) as rss:
                ops, attempted, failed = measure(wl, ctx, args.seconds, tracer,
                                                 bool(args.trace))
            if args.trace:
                layers = wl.layers(ctx, [o for o in ops if o.extra["traced"]])
        finally:
            if restore is not None:
                restore()
        t_finish = time.perf_counter()
        failures = warm_failures + wl.finish(ctx)
        failed += len(failures)
        hwm = host.jvm_hwm_mb(spark)
        if args.trace:
            by_desc = stage_metrics(spark.sparkContext, f"pb/{run_id}/")
            spans_metrics = span_stage_metrics(tracer, by_desc)
        host_info = host.describe(ROOT, spark)
        wl.teardown(ctx)
        t_stop = time.perf_counter()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    t_end = time.perf_counter()

    lat = [o.latency_s for o in ops]
    p50 = stats.median(lat)
    tail = stats.tail(lat)
    rows = ops[0].rows if ops else 0
    record = {
        "workload": wl.name, "why": wl.why, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "run_id": run_id,
        "host": host_info, "load_at_start": load_at_start, "load_at_end": host.loadavg(),
        "inputs_s": inputs_s, "setup_rounds": rounds, "warmup_s": warmup_s,
        "warmup_latencies_s": [o.latency_s for o in warm],
        "jvm_peak_rss_mb": rss.peak_mb, "jvm_hwm_mb": hwm,
        "phases_s": {"inputs": inputs_s, "setup": t_measure - t_start - inputs_s,
                     "measure": t_finish - t_measure, "finish": t_stop - t_finish,
                     "stop": t_end - t_stop, "total": t_end - t_start},
        "latencies_s": lat, "tail": tail, "attempted": attempted, "failed": failed,
        "failures": failures, "extra": [o.extra for o in ops],
    }
    metrics = {
        "setup_s": stats.median([r["setup_s"] for r in rounds[1:]]),
        "latency_s_p50": p50,
    }
    # the rate is rows / p50, the same measurement as latency_s_p50, so
    # it is printed but not bounded; below 20 samples the tail is the
    # maximum, too unsteady to bound
    extra = wl.extras(ctx) | {wl.rate: rows / p50, "latency_s_tail": tail["value"]}
    if any("bytes_written" in o.extra for o in ops):
        extra["write_amp"] = (sum(o.extra["bytes_written"] for o in ops)
                              / sum(o.extra["input_bytes"] for o in ops))
    record["metrics"] = metrics | extra
    record["failed_ratio"] = failed / attempted

    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    if args.trace:
        per_op = span_layers(tracer, spans_metrics,
                             sum(s.name == "op" for s in tracer.spans))
        layer, named = layer_metrics(per_op, layers, ops, rounds, prepared, rss.peak_mb)
        record["layers"] = layer | named
        record["layers_per_span"] = per_op
        tracer.dump(os.path.join(STATE, "results", f"{run_id}.spans.jsonl"))
        out = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
        for k, v in sorted(named.items()):
            print(f"layer {wl.name} {k} {v!r}")
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
        for k, v in sorted(extra.items()):
            print(f"extra {wl.name} {k} {v!r}")
    for k, m in out.items():
        print(f"metric {wl.name} {k} {m['value']!r} {m['unit']}")
    print(f"tail {wl.name} p{tail['percentile']} of {tail['n']} samples, {tail['beyond']} beyond")
    with open(os.path.join(STATE, "results", f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for msg in failures:
        print(f"perfbench: check failed: {msg}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


def layer_metrics(per_op: dict, splits: dict, ops, rounds: list[dict],
                  prepared, rss_mb: float) -> tuple[dict, dict]:
    """(the per-layer metrics every workload reports, the layer times
    that exist on this workload only). Counts of a layer the workload
    never reaches are 0. Set-up layer times are medians over the same
    rounds as ``setup_s``; the first round's, which include the JVM
    launch, are kept as ``*_first_s``."""
    warm = rounds[1:]
    from osmnightwatch_spark.operators.pip_join import BOUNDARY
    from perfbench import stats

    g = per_op.get
    traced = [o.latency_s for o in ops if o.extra["traced"]]
    untraced = [o.latency_s for o in ops if not o.extra["traced"]]
    layer = dict.fromkeys(PER_LAYER, 0) | {
        "jvm.peak_rss_mb": rss_mb,
        "session.get_spark_s": stats.median([r["get_spark_s"] for r in warm]),
        "operators.pip_join.prepare_cold_s": stats.median([r["prepare_cold_s"] for r in warm]),
        "operators.pip_join.covering_rows": len(prepared.covering),
        "operators.pip_join.boundary_cells": int((prepared.covering["kind"] == BOUNDARY).sum()),
        "operators.knn.jobs_per_query": g("span.operators.knn.knn_join.jobs", 0),
        "operators.knn.tasks_per_query": g("span.operators.knn.knn_join.tasks", 0),
        "sources.catalog.bytes_written": sum(o.extra.get("bytes_written", 0) for o in ops) / len(ops),
        "sources.catalog.files_written": sum(o.extra.get("files_written", 0) for o in ops) / len(ops),
        "spark.jobs_per_op": g("span.op.jobs"),
        "spark.tasks_per_op": g("span.op.tasks"),
        "trace.overhead_s": stats.median(traced) - stats.median(untraced),
    } | {f"spark.{f}": g(f"span.op.{f}") for f in (
        "executor_run_s", "executor_cpu_s", "executor_noncpu_s", "shuffle_bytes",
        "peak_exec_mem_bytes")}
    layer.update({k: v for k, v in splits.items() if k in PER_LAYER})
    named = {k: v for k, v in splits.items() if k not in PER_LAYER} | {
        "session.get_spark_first_s": rounds[0]["get_spark_s"],
        "operators.pip_join.prepare_cold_first_s": rounds[0]["prepare_cold_s"],
    }
    for k, span in {
        "operators.pip_join.plan_s": "operators.pip_join.pip_join",
        "operators.pip_join.prepare_warm_s": "operators.pip_join.PreparedPolygons.build",
        "operators.knn.call_s": "operators.knn.knn_join",
        "operators.knn.collect_s": "operators.knn.collect",
        "sources.catalog.read_s": "sources.catalog.Table.read",
        "sources.catalog.commit_s": "sources.catalog.Table.commit",
    }.items():
        if g(f"span.{span}.s") is not None:
            named[k] = g(f"span.{span}.s")
    # flagship calls flagship_points: count the outer call only
    plan = g("span.plans.pipeline.flagship.s") or g("span.plans.pipeline.flagship_points.s")
    if plan is not None:
        named["plans.pipeline.plan_s"] = plan
    return layer, named


def instrument_targets():
    from osmnightwatch_spark.operators import images_ops, knn, pip_join
    from osmnightwatch_spark.plans import incremental, pipeline
    from osmnightwatch_spark.sources import catalog
    from osmnightwatch_spark.streaming import cdc

    return [
        (pip_join, "pip_join", "operators.pip_join.pip_join"),
        (pip_join.PreparedPolygons, "build", "operators.pip_join.PreparedPolygons.build"),
        (knn, "knn_join", "operators.knn.knn_join"),
        (pipeline, "flagship", "plans.pipeline.flagship"),
        (pipeline, "flagship_points", "plans.pipeline.flagship_points"),
        (pipeline, "flagship_checkpointed", "plans.pipeline.flagship_checkpointed"),
        (incremental, "incremental_tile_rollup", "plans.incremental.incremental_tile_rollup"),
        (cdc, "compact_changeset", "streaming.cdc.compact_changeset"),
        (cdc, "apply_changeset", "streaming.cdc.apply_changeset"),
        (images_ops, "decode_verify", "operators.images_ops.decode_verify"),
        (catalog.Table, "commit", "sources.catalog.Table.commit"),
        (catalog.Table, "read", "sources.catalog.Table.read"),
        (catalog, "run_stage", "sources.catalog.run_stage"),
    ]


def main(argv=None) -> int:
    args = parse_args(argv)
    # this directory holds modules named like the standard library's
    # (trace, stats): import them as perfbench.* from the checkout root
    sys.path[:] = [ROOT] + [p for p in sys.path
                            if os.path.abspath(p or ".") != os.path.dirname(os.path.abspath(__file__))]
    if args.workload == "all":
        return run_all(args)
    # every file the run writes (Spark scratch, JVM and Python temp
    # files) stays inside the checkout
    tmp = os.path.join(STATE, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    tempfile.tempdir = tmp
    try:
        try:
            import osmnightwatch_spark  # noqa: F401
            import pyspark  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
            return 2
        return bench(args)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
