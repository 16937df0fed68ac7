#!/usr/bin/env python3
"""Layered benchmark of the knowledge-graph engine.

    python3 perfbench/run.py --workload full_load --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. One run starts ``local[N]`` Spark,
makes the inputs and computes the expected answers without the engine,
builds the workload's starting state ``SETUP_REPS`` times (the median is
``setup_s``; the builds also warm the JVM), runs the workload's
``warmup`` untimed iterations, then iterates for ``--seconds`` seconds
(at least ``MIN_ITERATIONS`` times), checking every result. The last
stdout line is one JSON object:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3
MIN_ITERATIONS = 2
#: companies in the volume corpus (plus n/2 ldap orgs and n/6 users)
COMPANIES = 2000


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name → unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    p.add_argument("--workload", required=True, choices=["full_load", "read_mix", "delta_apply"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.set_defaults(companies=COMPANIES)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "knowledge_graph_etl_spark")):
        print("perfbench: run from a checkout that holds knowledge_graph_etl_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import spark_env

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    t0 = time.perf_counter()
    spark = spark_env.start(work, ROOT)
    print(f"phase session_s={time.perf_counter() - t0:.2f}", flush=True)
    try:
        result = run(spark, args, work)
    finally:
        spark_env.stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(spark, args, work: str) -> dict:
    import spark_env
    from tracing import Tracer
    from workloads import WORKLOADS, Clock, Result

    print("env " + json.dumps(spark_env.environment(spark), sort_keys=True), flush=True)
    wl = WORKLOADS[args.workload](spark, work, args.seed, args.companies)
    t0 = time.perf_counter()
    wl.generate()
    print(f"phase generate_s={time.perf_counter() - t0:.2f}", flush=True)
    t0 = time.perf_counter()
    wl.prepare()
    print(f"phase prepare_s={time.perf_counter() - t0:.2f}", flush=True)
    setup = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup()
        setup.append(time.perf_counter() - t0)
    print(f"phase setup_s={[round(x, 2) for x in setup]}", flush=True)
    t0 = time.perf_counter()
    warm = [attempt(wl, Clock()) for _ in range(wl.warmup)]
    print(f"phase warmup_s={time.perf_counter() - t0:.2f}", flush=True)
    tracer = Tracer(spark, spark_env.cores()) if args.trace else None
    done: list[tuple[float, Result]] = []
    if tracer is not None:
        tracer.install()
    try:
        t_start = time.perf_counter()
        while (
            len(done) < MIN_ITERATIONS
            or time.perf_counter() - t_start < args.seconds
        ):
            clock = Clock(tracer)
            r = attempt(wl, clock, tracer)
            done.append((clock.seconds, r))
        print(f"phase loop_s={time.perf_counter() - t_start:.2f}", flush=True)
    finally:
        if tracer is not None:
            tracer.uninstall()

    end_to_end, per_layer = metric_units()
    oks = [ok for r in warm + [r for _, r in done] for ok in r.ok]
    good = [(s, r) for s, r in done if r.ops_ms and all(r.ok)]
    if not good:
        raise RuntimeError("no iteration completed correctly")
    for s, r in good:
        print(f"iteration wall_s={s:.4f} ops_ms={[round(x, 1) for x in r.ops_ms]}", flush=True)
    if args.trace:
        for _, r in good:
            r.layers["store.write_bytes_per_quad"] = r.layers["store.bytes_written"] / r.quads
            r.layers["store.rows_rewritten_per_delta_quad"] = (
                r.layers["store.apply_delta_rows"] / r.quads
            )
        values = {k: statistics.median(r.layers.get(k, 0.0) for _, r in good) for k in per_layer}
        values.update(probe_ingest(wl))
        units = per_layer
    else:
        values = {
            "setup_s": statistics.median(setup),
            "wall_s": statistics.median(s for s, _ in good),
            "quads_per_s": statistics.median(r.quads / s for s, r in good),
            "store_bytes_per_quad": statistics.median(
                r.store_bytes / r.live_quads for _, r in good
            ),
        }
        units = end_to_end
    return {
        "correct": all(oks),
        "attempted": len(oks),
        "failed": oks.count(False),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def attempt(wl, clock, tracer=None):
    """One iteration from a reset starting state; an exception counts as
    a failed request."""
    from workloads import Result

    wl.before()
    if tracer is not None:
        tracer.reset()
        tracer.watch(wl.watch_path())
    try:
        r = wl.iteration(clock)
    except Exception:
        traceback.print_exc()
        return Result(ok=[False])
    if tracer is not None:
        r.layers = {**tracer.collect(), **r.layers}
    return r


def probe_ingest(wl) -> dict[str, float]:
    """Direct-map one iteration's documents on their own: the ingest
    layer's share of the insert job it normally runs inside."""
    from workloads import staged_quads

    secs = docs = quads = 0.0
    for batch in wl.ingested():
        docs += sum(df.count() for df in batch.values())
        t0 = time.perf_counter()
        quads += staged_quads(batch).count()
        secs += time.perf_counter() - t0
    return {"ingest.s": secs, "ingest.docs": docs, "ingest.quads": quads}


if __name__ == "__main__":
    sys.exit(main())
