#!/usr/bin/env python3
"""Record the catalogue's reference result hashes.

    python3 perfbench/record_hashes.py

Run from the root of a checkout. Runs every registered query twice,
each time in a fresh process and Spark session, over the generated
sf0.1 tables, forced the way ``catalog.py`` forces them, and writes
``perfbench/catalog_hashes.json``: the hash of each query, the queries
that failed, and the queries whose two runs disagree
(nondeterministic; ``catalog.py`` counts them as failed). Re-record
only when a change is meant to alter query results, and say so.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def one_pass(out_path: str) -> None:
    sys.path[:0] = [HERE, os.getcwd()]
    import run

    args = argparse.Namespace(workload="catalog_sf0.1", seed=0, seconds=1, trace=0)
    ctx = run.Context(args, os.getcwd())
    run.prepare_environment(ctx)
    from pyspark.sql import functions as F

    from cdc_pipeline_spark import workload
    from common import stop_processes
    from tables import ensure_tables

    table_dir = ensure_tables(ctx.work_dir)
    spark = ctx.new_session("perfbench-record")
    out: dict[str, object] = {}
    for name in sorted(workload.QUERIES):
        try:
            df = workload.QUERIES[name](spark, table_dir)
            out[name] = df.agg(F.bit_xor(F.xxhash64(F.struct(*df.columns)))).collect()[0][0]
        except Exception as exc:  # recorded, so the benchmark counts it as failed
            out[name] = {"error": repr(exc)[:500]}
        print(f"record: {name} {out[name]}", file=sys.stderr, flush=True)
    spark.stop()
    stop_processes()
    with open(out_path, "w") as fh:
        json.dump(out, fh)


def main() -> int:
    if len(sys.argv) == 3 and sys.argv[1] == "--pass":
        one_pass(sys.argv[2])
        return 0
    runs = []
    for i in range(2):
        path = os.path.join(HERE, "_work", f"record-pass{i}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        subprocess.run([sys.executable, os.path.abspath(__file__), "--pass", path], check=True)
        with open(path) as fh:
            runs.append(json.load(fh))
    first, second = runs
    hashes = {n: h for n, h in first.items() if not isinstance(h, dict)}
    doc = {
        "hashes": hashes,
        "failed": sorted(n for n, h in first.items() if isinstance(h, dict)),
        "nondeterministic": sorted(n for n in hashes if second.get(n) != hashes[n]),
    }
    with open(os.path.join(HERE, "catalog_hashes.json"), "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({k: v for k, v in doc.items() if k != "hashes"}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
