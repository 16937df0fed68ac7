#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload, untraced and traced, on
a 200-company corpus in one Spark session. Prints one line per run and
exits non-zero if any run fails a check.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

import run

#: per-layer metrics that must be non-zero because the workload drives
#: that layer; every other layer may read 0
MUST_MOVE = {
    "full_load": [
        "ingest.s", "store.insert_s", "store.optimize_s", "store.bytes_written",
        "store.write_bytes_per_quad",
        "parser.s", "compiler.build_s", "compiler.checkpoint_s",
        "engine.update_s", "exec.jobs", "exec.run_s",
    ],
    "delta_apply": [
        "ingest.s", "store.apply_delta_s", "store.rows_rewritten_per_delta_quad",
        "store.bytes_written", "store.write_bytes_per_quad", "exec.jobs", "exec.run_s",
    ],
    "read_mix": [
        "parser.s", "compiler.build_s", "compiler.catalyst_s",
        "engine.select_s", "exec.jobs", "exec.run_s",
    ],
}


def problems(workload: str, trace: int, out: dict) -> list[str]:
    end_to_end, per_layer = run.metric_units()
    expected = per_layer if trace else end_to_end
    found = []
    if not out["correct"] or out["failed"] or out["attempted"] < 1:
        found.append(f"correct={out['correct']} failed={out['failed']}")
    if set(out["metrics"]) != set(expected):
        found.append(f"metric names {sorted(out['metrics'])}")
    for name, m in out["metrics"].items():
        if m["unit"] != expected.get(name):
            found.append(f"{name} unit {m['unit']}")
    must = MUST_MOVE[workload] if trace else list(end_to_end)
    found += [f"{n} is {out['metrics'][n]['value']}" for n in must if not out["metrics"][n]["value"] > 0]
    return found


def main() -> int:
    sys.path.insert(0, run.ROOT)
    import spark_env

    work = os.path.join(run.ROOT, ".bench_work", f"smoke-{os.getpid()}")
    spark = spark_env.start(work, run.ROOT)
    failed = 0
    try:
        for workload in MUST_MOVE:
            for trace in (0, 1):
                args = argparse.Namespace(
                    workload=workload, seed=7, seconds=0, trace=trace, companies=200
                )
                out = run.run(spark, args, os.path.join(work, f"{workload}-{trace}"))
                found = problems(workload, trace, out)
                failed += bool(found)
                print(f"smoke {workload} trace={trace}: {'; '.join(found) or 'ok'}", flush=True)
    finally:
        spark_env.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
