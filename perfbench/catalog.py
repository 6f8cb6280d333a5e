"""``catalog_sf0.1``: the registered batch queries, one client, closed loop.

One Spark session runs a fixed sample of ``workload.QUERIES`` over the
generated sf0.1 tables (``tables.py``), in an order shuffled by the
benchmark seed, each query built and then forced with the one-row
``bit_xor(xxhash64(struct(*)))`` collect that ``bench.py`` uses, which
evaluates every output column. The forced value is the query's result
hash and is compared with the hash recorded in ``catalog_hashes.json``.

The sample is the first ``--seconds / 2`` queries (a query takes about
two seconds) of a fixed shuffle of the registry, so that every run, on
the parent and on a change, executes the same queries: drawing it from
the run's seed would make the medians move with the draw rather than
with the code.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

from common import StatusApi, Tracer, hd_median, log as _log, median, operator_totals
from tables import ensure_tables

HERE = os.path.dirname(os.path.abspath(__file__))
HASHES = os.path.join(HERE, "catalog_hashes.json")
SAMPLE_SEED = 20261017
SETUPS = 3
# Run untimed after the set-up: the first queries in a fresh JVM pay
# its warm-up (class loading, JIT, codegen), and the seed-shuffled
# order would otherwise hand that cost to a different query each run.
WARMUP = ("q1_pricing_summary", "doc_text_features")


def sample(names, n: int) -> list[str]:
    """The first ``n`` names of a fixed shuffle of the registry, leaving
    out the warm-up queries."""
    order = sorted(n for n in names if n not in WARMUP)
    random.Random(SAMPLE_SEED).shuffle(order)
    return order[:n]


def _warm_python_workers(spark, n: int) -> None:
    """Start the Python worker pool and import pandas in every worker."""

    def gen(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        yield from batches

    df = spark.range(n, numPartitions=n)
    df.mapInPandas(gen, df.schema).count()


def _force(df):
    """The one-row hash of every output column of every row."""
    from pyspark.sql import functions as F

    forced = df.agg(F.bit_xor(F.xxhash64(F.struct(*df.columns))).alias("h"))
    return forced, forced.collect()[0][0]


def _phases(forced) -> dict[str, tuple[float, float]]:
    """Catalyst phase (start, end) in epoch seconds from the JVM tracker."""
    tracker = forced._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = tracker.get(phase)
        if opt.isDefined():
            summary = opt.get()
            out[phase] = (summary.startTimeMs() / 1000.0, summary.endTimeMs() / 1000.0)
    return out


def run(ctx) -> dict:
    from cdc_pipeline_spark import workload
    from cdc_pipeline_spark.plans import inspect

    table_dir = ensure_tables(ctx.work_dir)
    with open(HASHES) as fh:
        reference = json.load(fh)
    recorded = {n: h for n, h in reference["hashes"].items() if n not in reference["nondeterministic"]}
    names = sample(workload.QUERIES, max(1, ctx.seconds // 2))
    order = list(names)
    random.Random(ctx.seed).shuffle(order)
    tracer: Tracer = ctx.tracer
    counter = ctx.counter

    setup_s, create_s = [], []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = ctx.new_session("perfbench-catalog")
        t1 = time.perf_counter()
        _warm_python_workers(spark, ctx.cpus)
        setup_s.append(time.perf_counter() - t0)
        create_s.append(t1 - t0)
    _log(f"set-ups {', '.join(f'{t:.2f}' for t in setup_s)} s")
    for name in WARMUP:
        _force(workload.QUERIES[name](spark, table_dir))
    _log("warm-up done")
    if counter:
        counter.install()

    records, failures = [], []
    pass_start = time.perf_counter()
    for pos, name in enumerate(order, 1):
        spark.sparkContext.setJobGroup(name, name)
        rec = {"position": pos, "name": name}
        calls0 = counter.calls if counter else 0
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            df = workload.QUERIES[name](spark, table_dir)
            t1 = time.perf_counter()
            w1 = time.time()
            calls1 = counter.calls if counter else 0
            forced, got = _force(df)
            t2 = time.perf_counter()
            w2 = time.time()
            rec.update(build_s=t1 - t0, total_s=t2 - t0, hash=got, ok=name in recorded and got == recorded[name])
            if ctx.trace:
                rec["py4j_calls"] = calls1 - calls0
                rec["phases"] = _phases(forced)
                plan = inspect.executed_plan(forced)
                rec["exchanges"] = inspect.count_op(plan, "Exchange")
                rec["bnlj"] = inspect.count_op(plan, "BroadcastNestedLoopJoin")
                rec["wall"] = (w0, w1, w2)
        except Exception as exc:  # a failing query is a counted failure, not a crash
            rec.update(total_s=time.perf_counter() - t0, ok=False, error=repr(exc)[:300])
        if not rec["ok"]:
            failures.append(name)
        records.append(rec)
    catalog_wall = time.perf_counter() - pass_start
    _log(f"pass {catalog_wall:.2f} s")
    spark.sparkContext.setJobGroup("", "")
    if counter:
        counter.uninstall()

    ok_times = [r["total_s"] for r in records if r["ok"]]
    metrics = {
        "setup_s": (median(setup_s), "s"),
        "result_p50_s": (hd_median(ok_times) if ok_times else catalog_wall, "s"),
        "result_mean_s": (statistics.fmean(ok_times) if ok_times else catalog_wall, "s"),
        "rate_per_s": (len(ok_times) / catalog_wall, "1/s"),
    }
    layers: dict[str, float] = {}
    if ctx.trace:
        layers = _trace_layers(spark, records, tracer, create_s)
    spark.stop()
    notes = {"order": order, "failed_queries": failures, "catalog_wall_s": catalog_wall,
             "queries": [{k: v for k, v in r.items() if k not in ("wall", "phases")} for r in records]}
    return {"attempted": len(records), "failed": len(failures), "correct": not failures,
            "metrics": metrics, "layers": layers, "notes": notes}


def _trace_layers(spark, records, tracer: Tracer, create_s) -> dict[str, float]:
    """Per-query layer record + spans: build, Catalyst phases, jobs, collect."""
    api = StatusApi(spark)
    jobs = api.jobs()
    stages = api.stages()
    by_group: dict[str, list[dict]] = {}
    for j in jobs:
        by_group.setdefault(j.get("jobGroup") or "", []).append(j)
    totals = {k: 0.0 for k in ("build_s", "py4j_calls", "analysis_s", "optimization_s", "planning_s",
                               "exchanges", "bnlj", "jobs", "stages", "tasks", "exec_s",
                               "executor_run_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes")}
    for rec in records:
        if "wall" not in rec:
            continue
        ops = operator_totals(by_group.get(rec["name"], []), stages)
        w0, w1, w2 = rec["wall"]
        root = tracer.add(rec["name"], "query", w0, w2, None, position=rec["position"])
        build = tracer.add("build", "workload", w0, w1, root)
        collect = tracer.add("collect", "collect", w1, w2, root)
        for phase, (lo, hi) in rec["phases"].items():
            tracer.add(phase, "plans", lo, hi, collect if lo >= w1 else build)
            rec[f"{phase}_s"] = hi - lo
        for lo, hi in ops.pop("intervals"):
            tracer.add("job", "operators", lo, hi, collect if lo >= w1 else build)
        rec.update({k: v for k, v in ops.items()})
        for key in totals:
            totals[key] += rec.get(key, 0.0)
    layers = {"session.create_s": median(create_s), "workload.build_s": totals["build_s"],
              "workload.py4j_calls": totals["py4j_calls"]}
    for key in ("analysis_s", "optimization_s", "planning_s", "exchanges", "bnlj"):
        layers[f"plans.{key}"] = totals[key]
    for key in ("jobs", "stages", "tasks", "exec_s", "executor_run_s", "gc_s",
                "shuffle_read_bytes", "shuffle_write_bytes"):
        layers[f"operators.{key}"] = totals[key]
    return layers

