#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see NOTES.md for why each):

* ``catalog_sf0.1`` — a fixed sample of the registered batch queries
  over generated sf0.1 tables, one client, closed loop;
* ``cdc_live`` — seeded CDC traffic at the ``high`` preset, open loop,
  through Avro decode, six streaming pipelines, the kv sink, two
  WebSocket clients and a REST reader, then a burst at the ``extreme``
  rate drained by the same pipelines.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (which also writes the span
file under ``perfbench/_work/traces``). Inputs are generated from the
seed and cached under ``perfbench/_work``. The exit code is 0 only when
every output matched its reference.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("catalog_sf0.1", "cdc_live")

# Every per-layer metric, printed on every traced run; a layer a
# workload does not exercise reads 0.
PER_LAYER = (
    "session.create_s",
    "workload.build_s", "workload.py4j_calls",
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s", "plans.exchanges", "plans.bnlj",
    "operators.jobs", "operators.stages", "operators.tasks", "operators.exec_s",
    "operators.executor_run_s", "operators.gc_s", "operators.shuffle_read_bytes",
    "operators.shuffle_write_bytes",
    "sources.decode_rows_per_s", "sources.decode_dropped_rows",
    "streaming.latestOffset_ms", "streaming.getBatch_ms", "streaming.queryPlanning_ms",
    "streaming.addBatch_ms", "streaming.walCommit_ms", "streaming.commitOffsets_ms",
    "streaming.triggerExecution_ms", "streaming.batches", "streaming.rows_per_batch",
    "streaming.state_rows", "streaming.state_memory_bytes", "streaming.rows_dropped_by_watermark",
    "streaming.input_lag_s",
    "sinks.write_s", "sinks.writes", "sinks.publishes", "sinks.payload_bytes",
    "sinks.fresh_snapshot_p50_s", "sinks.fresh_snapshot_p90_s",
    "serving.fanout_s", "serving.frames", "serving.frame_bytes", "serving.fetch_s",
    "serving.rest_read_p50_s", "serving.rest_read_p99_s",
    "generator.late_max_s", "generator.rows",
    "jvm.heap_after_gc_peak_mb",
    "self.query_s", "self.workload_s", "self.plans_s", "self.operators_s", "self.collect_s",
    "self.trigger_s", "self.streaming_s", "self.sinks_s", "self.serving_s",
)
UNITS = {"_per_s": "1/s", "_ms": "ms", "_s": "s", "_bytes": "bytes", "_mb": "MB"}
# Cores per workload unless SPARK_GRAFT_CPUS is set. The CDC pipelines
# run on one: at the live rate six queries on four cores keep the load
# near twice the core count, and their latency then follows every
# change in the CPU time the host grants (see NOTES.md).
DEFAULT_CPUS = {"catalog_sf0.1": min(4, os.cpu_count() or 1), "cdc_live": 1}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


class Context:
    """What a workload needs from the command line and the environment."""

    def __init__(self, args, root: str) -> None:
        from common import Py4jCounter, Tracer

        self.root = root
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.tracer = Tracer(self.trace)
        self.counter = Py4jCounter() if self.trace else None
        self.work_dir = os.path.join(HERE, "_work")
        self.tmp_dir = os.path.join(self.work_dir, "tmp", str(os.getpid()))
        self.gc_log = os.path.join(self.tmp_dir, "gc.log")
        self.cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or DEFAULT_CPUS[args.workload])
        self.master = f"local[{self.cpus}]"

    def new_session(self, app: str):
        from cdc_pipeline_spark.session import create_spark_session

        spark = create_spark_session(
            app_name=app,
            master=self.master,
            shuffle_partitions=self.cpus,
            extra_conf={
                "spark.ui.enabled": "true" if self.trace else "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": self.tmp_dir,
                # a fixed heap size: a growing heap makes peak RSS depend
                # on when the collector chose to expand it; the GC log
                # gives the live heap (jvm.heap_after_gc_peak_mb)
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.tmp_dir} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']}"
                    f" -Xlog:gc:file={self.gc_log}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark


def prepare_environment(ctx: Context) -> None:
    """Python workers must import the package; temp files, spill and the
    format-mirror queries must stay inside the checkout."""
    os.makedirs(ctx.tmp_dir, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ctx.root, HERE, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = ctx.tmp_dir
    os.environ["SPARK_LOCAL_DIRS"] = ctx.tmp_dir
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if args.seconds < 1:
        parser.error("--seconds must be at least 1")

    # a terminated run still leaves through the ``finally`` below, which
    # stops the JVM and the Python workers
    signal.signal(signal.SIGTERM, lambda signum, _frame: sys.exit(128 + signum))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cdc_pipeline_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout holding cdc_pipeline_spark/", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    ctx = Context(args, root)
    prepare_environment(ctx)

    from common import RssSampler, calibration, cpu_times, heap_after_gc_peak_mb, stop_processes

    loadavg_start, cpu_start = os.getloadavg(), cpu_times()
    try:
        with RssSampler() as rss:
            if args.workload == "catalog_sf0.1":
                import catalog

                out = catalog.run(ctx)
            else:
                import cdc

                out = cdc.run(ctx)
        if ctx.trace:
            out["layers"]["jvm.heap_after_gc_peak_mb"] = heap_after_gc_peak_mb(ctx.gc_log)
    finally:
        stop_processes()
        shutil.rmtree(ctx.tmp_dir, ignore_errors=True)
    metrics = dict(out["metrics"])
    metrics["rss_peak_mb"] = (rss.peak_mb, "MB")
    if ctx.trace:
        # kept beside the layers so traced and untraced runs can be
        # compared: the difference is the tracing overhead
        out["notes"]["end_to_end"] = {name: value for name, (value, _) in metrics.items()}
        layers = dict(out["layers"])
        for layer, secs in ctx.tracer.self_times().items():
            layers[f"self.{layer}_s"] = secs
        metrics = {name: (float(layers.get(name, 0.0)), unit_of(name)) for name in PER_LAYER}
        trace_path = os.path.join(ctx.work_dir, "traces", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "notes": out["notes"],
                       "layers": layers, "spans": [s.__dict__ for s in ctx.tracer.spans]}, fh, default=str)
        print(f"perfbench: spans written to {os.path.relpath(trace_path, root)}", file=sys.stderr)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "calibration": calibration(loadavg_start, cpu_start, ctx.master), "notes": out["notes"]},
                     default=str))
    result = {
        "correct": bool(out["correct"]),
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    t0 = time.time()
    code = main()
    print(f"perfbench: finished in {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(code)
