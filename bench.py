"""Benchmark harness: run every queries() entry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], print ONE JSON
line {"metric", "value", "unit", "queries", "sf", "cpus", ...}.

Each query is timed as a full action (df.count() after the plan is built) —
wall-clock includes scan, shuffle, and result materialization. value = total
seconds across all queries (first runs only).

One runner: ``python bench.py`` runs every entry in alphabetical order
and writes the complete record to $SPARK_GRAFT_BENCH_OUT (default
BENCH_local.json); ``python bench.py NAME[,NAME...]`` runs exactly those
entries, in that order, repeats allowed, with the same session, warm-ups,
untimed setups and per-entry reset, and prints only
``{name: [seconds, ...]}`` (no record is written). Solo series
(tools/adjudicate.py) and the fresh-JVM step below both use named mode.

One adjudication rule: the previous record ($SPARK_GRAFT_BENCH_PREV,
default BENCH_local.json) is read once at launch and counts only if it
was measured at the same ``sf`` and ``cpus``. An entry whose first run
takes more than RETRY_FACTOR times its time there is re-run once in the
same session after the reset; if the retry is still over, ``bench.py
NAME,NAME`` runs in a child process (same environment, same checkout)
and the min of its two runs is the fresh-JVM time. First runs stay the
recorded values (``queries``, ``value``); retries and fresh-JVM times
sit beside them (``retries``, ``fresh``). A single entry's regression
verdict is min(first, retry, fresh) against 2× its bar in
tools/bench_bars.json (``over_bar``, sf0.1 only) — never the first run
alone. Round-over-round comparisons read the committed BENCH_local.json,
not a captured stdout tail (which is how the r12 payload was lost).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

#: an entry over this multiple of its previous comparable time is
#: re-run in-session, then (if still over) in a fresh JVM
RETRY_FACTOR = 1.5
#: fresh-JVM escalations per run (~40 s each at sf0.1), so a bad host day
#: degrades loudly instead of endlessly; hitting the cap is logged
MAX_ESCALATIONS = 12


def _jvm_probe(spark) -> dict:
    """Per-entry accumulation probe (SPARK_GRAFT_BENCH_PROBE=1, full runs
    only, written to BENCH_probe.jsonl): what, if
    anything, survives the per-entry clearCache+unpersist+System.gc and
    builds up across a 232-entry run (r12 verdict, What's wrong #1 —
    table_profile 9.27 s at bench position ~207 vs 0.83 s solo on the
    same box). Candidates and why each is measured:

    * heap_mb — driver old-gen survivors right after the full GC;
    * metaspace_mb — codegen classes whose loaders something retains;
    * codecache_mb (segmented pools summed) + jit_ms — a JIT code cache
      near its 240 MB default stops compilation ("CodeCache is full")
      and flushing causes recompile storms: the one candidate that
      produces exactly the observed late-run MOVING humps;
    * gc_ms — cumulative collector time (pause inflation shows up as a
      growing per-entry delta);
    * shuffle_mb / shuffle_files — spark.local.dir residue: shuffle
      cleanup via ContextCleaner is ASYNC for shuffles, so files can
      outlive the GC that enqueued them and their deletion I/O lands
      inside later entries' timings;
    * py4j_pool — Python-side JavaObject bindings (a leak here pins JVM
      objects); temp_views — catalog growth; threads — executor/cleaner
      thread leaks.

    Cost: a handful of py4j calls + one os.walk of the block-manager
    dirs, ~10-50 ms per entry, probe-mode only (never in driver runs)."""
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    heap = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    pools = {}
    it = mf.getMemoryPoolMXBeans().iterator()
    while it.hasNext():
        p = it.next()
        pools[p.getName()] = p.getUsage().getUsed()
    meta = pools.get("Metaspace", 0)
    code = sum(v for k, v in pools.items() if k.startswith("CodeHeap"))
    jit = mf.getCompilationMXBean().getTotalCompilationTime()
    gc_ms = 0
    it = mf.getGarbageCollectorMXBeans().iterator()
    while it.hasNext():
        gc_ms += it.next().getCollectionTime()
    shuffle_bytes = 0
    shuffle_files = 0
    try:
        dirs = jvm.org.apache.spark.SparkEnv.get().blockManager().diskBlockManager().localDirs()
        for d in dirs:
            for root, _subdirs, files in os.walk(d.getAbsolutePath()):
                for f in files:
                    try:
                        shuffle_bytes += os.path.getsize(os.path.join(root, f))
                        shuffle_files += 1
                    except OSError:
                        pass
    except Exception:  # noqa: BLE001 - probe must never break the bench
        shuffle_bytes = -1
    return {
        "heap_mb": round(heap / 1e6),
        "metaspace_mb": round(meta / 1e6),
        "codecache_mb": round(code / 1e6),
        "jit_ms": jit,
        "gc_ms": gc_ms,
        "shuffle_mb": round(shuffle_bytes / 1e6),
        "shuffle_files": shuffle_files,
        "py4j_pool": len(spark.sparkContext._gateway.gateway_property.pool),
        "temp_views": len(spark.catalog.listTables()),
        "threads": jvm.java.lang.Thread.activeCount(),
    }


#: setup fixture → the bench entries that probe it (an untimed ensure_*
#: setup only runs when a dependent entry is in the run, and the first
#: dependent is its untimed warm probe; tools/check_matrix.py checks
#: every name is a registered entry)
_SETUP_DEPENDENTS = {
    "ensure_steady_index": ("dedup_incremental_steady",),
    "ensure_knn_adjacency": ("ann_beam_topk",),
    "ensure_text_index": ("search_bm25_steady",),
    "ensure_volume_base": ("kg_pipeline_incremental", "kg_volume_read"),
}


def main(argv: list[str]) -> int:
    loadavg_launch = tuple(round(x, 2) for x in os.getloadavg())
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_val, cpus = _sf(sf_dir), _cpus()
    named = argv[0].split(",") if argv else None
    prev_path = os.environ.get(
        "SPARK_GRAFT_BENCH_PREV", os.path.join(HERE, "BENCH_local.json")
    )
    # read before this run overwrites it: the previous run's full record
    prev_q = {} if named else _previous(prev_path, sf_val, cpus)

    spark = session()
    import __spark_entry__ as entrymod

    _warm_up(spark, sf_dir)
    all_queries = dict(entrymod.queries())
    # throughput-only variants (no DuckDB oracle — e.g. xxhash64 scale
    # paths) are benched but deliberately absent from the correctness gate
    all_queries.update(getattr(entrymod, "bench_only_queries", dict)())
    # ALPHABETICAL bench order, decoupled from the registry's rotating
    # correctness-window order: run position shifts measured 1.5-2x swings
    # on heavy compositions (curation_pipeline_v2 16.9 -> 31.2 s when its
    # position moved, r06), so a stable order is a precondition for
    # meaningful round-over-round comparison
    names = named or sorted(all_queries)
    _setups(spark, entrymod, all_queries, sf_dir, set(names))

    if named:
        runs: dict[str, list[float]] = {}
        for name in names:
            runs.setdefault(name, []).append(
                _timed(spark, all_queries[name], sf_dir, name)
            )
        print(json.dumps(runs))
        spark.stop()
        return 0

    timings: dict[str, float] = {}
    retries: dict[str, float] = {}
    fresh: dict[str, float] = {}
    probe_fh = None
    if os.environ.get("SPARK_GRAFT_BENCH_PROBE"):
        probe_fh = open(os.path.join(HERE, "BENCH_probe.jsonl"), "w")
    for pos, name in enumerate(names):
        fn = all_queries[name]
        timings[name] = _timed(spark, fn, sf_dir, name)
        retry, fresh_t = _adjudicate(
            name,
            timings[name],
            prev_q.get(name),
            lambda: _timed(spark, fn, sf_dir, name),
            lambda: _fresh_jvm(name),
            len(fresh),
        )
        if retry is not None:
            retries[name] = retry
        if fresh_t is not None:
            fresh[name] = fresh_t
        if probe_fh is not None:
            rec = {"pos": pos, "query": name, "sec": timings[name]}
            rec.update(_jvm_probe(spark))
            rec["loadavg1"] = round(os.getloadavg()[0], 2)
            probe_fh.write(json.dumps(rec) + "\n")
            probe_fh.flush()
    if probe_fh is not None:
        probe_fh.close()

    _finish(timings, retries, fresh, prev_q, os.path.basename(prev_path),
            sf_val, cpus, loadavg_launch)
    spark.stop()
    return 0


def session(partitions: int | None = None, driver_mem: str | None = None):
    """The bench's SparkSession on local[$SPARK_GRAFT_CPUS]; shuffle
    partitions default to max(cpus, 8) and driver memory to
    $SPARK_GRAFT_DRIVER_MEM (16g)."""
    from pyspark.sql import SparkSession

    cpus = _cpus()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("kg-etl-spark-bench")
        .config("spark.sql.shuffle.partitions", str(partitions or max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # default (10 MB) broadcast threshold on purpose: dimension-side
        # broadcasts are explicit `F.broadcast` hints; a high threshold
        # makes Catalyst broadcast one side of the dedup self-joins, which
        # kills the ReusedExchange that lets the inverted index / banded
        # signatures be computed once for both sides
        .config(
            "spark.driver.memory",
            driver_mem or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        )
        .config("spark.ui.enabled", "false")
        # r13 (guide §4/§5): PySpark's DataFrame-debugging origin capture
        # wraps EVERY DataFrame/Column API call with a conf.get + a
        # PySparkCurrentOrigin.set/clear — 3 extra py4j round-trips plus a
        # Python `inspect` stack walk per call. Measured on the 16-update
        # mapping compile: 100.5k -> 27.9k round-trips (-72%) with it off.
        # Driver-side cost only, identical on any cluster size; the only
        # loss is the Python call-site line in JVM error messages.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _sf(sf_dir: str) -> float | str:
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        return float(sf)
    except ValueError:
        return sf


def _warm_up(spark, sf_dir: str) -> None:
    # JVM/codegen warm-up on synthetic data (no test tables touched): the
    # first query otherwise pays ~4 s of one-time class-loading + codegen
    # compilation that belongs to the session, not to that query
    from pyspark.sql import functions as F

    warm = spark.range(1_000_000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")
    )
    warm.groupBy("k").count().join(
        F.broadcast(spark.range(97).withColumnRenamed("id", "k")), "k"
    ).count()
    # OS page-cache warm-up: touch every test-table parquet once so the
    # FIRST query to read a table doesn't absorb its cold-read cost (r06
    # measured ann_embedding_neardup 3.20 s cold-front vs 0.86 s warm —
    # purely the embeddings.parquet cold read landing on whichever query
    # sorts first alphabetically in its table's family)
    import glob as _glob

    # raw byte read for every file: a Spark count() is served from the
    # parquet FOOTER (empty projection, no data pages), so it would warm
    # nothing — only a full byte read actually pulls contents into cache
    for pq in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
        with open(pq, "rb") as fh:
            while fh.read(1 << 24):
                pass
    # codegen warm-up for the minhash machinery: the tokenize→32-way-min→
    # band→self-join pipeline compiles ~10 s of whole-stage-codegen classes
    # the first time it runs in a session; without this, whichever dedup-
    # family query sorts first alphabetically (curation_pipeline_v2)
    # absorbs that one-time cost (r07 A/B: 30.6 s first run vs 17.6 s with
    # this warmup, identical code)
    from knowledge_graph_etl_spark.extensions.dedup import corpus_dedup

    synth = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("alpha beta"),
            (F.col("id") % 7).cast("string"),
            (F.col("id") % 3).cast("string"),
        ).alias("text"),
    )
    corpus_dedup(synth, num_hashes=32, bands=4, threshold=0.8, hash_fn="md5").count()


def _setups(spark, entrymod, all_queries, sf_dir: str, run_set: set[str]) -> None:
    """The UNTIMED ensure_* setups that the entries in ``run_set`` need.

    * ensure_steady_index — one-time corpus indexing for the steady-state
      dedup entry, whose point is the probe-only cost against a prebuilt
      bucketed index (measured 4.8 s rebuild-inclusive vs ~3 s probe-only,
      r07);
    * ensure_knn_adjacency — the graph-ANN adjacency index, so
      ann_beam_topk measures the bucket-pruned probe, not the knn-graph
      rebuild;
    * ensure_text_index — the inverted text index, so search_bm25_steady
      measures the probe, not the one-time corpus tokenize;
    * ensure_volume_base — the 10k-company volume store + seeded
      derivation ledger, so kg_pipeline_incremental measures steady-state
      maintenance, not the one-time base build (cached per warehouse via
      a marker file).

    Each index setup is followed by one untimed probe: the FIRST probe of
    a session pays ~3 s of one-time whole-stage-codegen for the probe join
    pipeline (r08 solo A/B: 6.6 s first probe vs 3.2-3.4 s steady) —
    session cost, not operator cost, same rationale as the minhash
    warmup."""
    for setup_name, dependents in _SETUP_DEPENDENTS.items():
        setup = getattr(entrymod, setup_name, None)
        if setup is None or not run_set.intersection(dependents):
            continue
        if setup_name == "ensure_volume_base":
            try:
                setup(spark, sf_dir)
            except RuntimeError:
                pass  # reference sparql dir absent: the entry will error too
        else:
            setup(spark, sf_dir)
            all_queries[dependents[0]](spark, sf_dir).count()
    _reset(spark)


def _reset(spark) -> None:
    # queries are independent: drop cached tables AND
    # localCheckpoint RDDs (clearCache doesn't touch those) so one
    # query's residue doesn't GC-thrash the next — matches how each
    # would run in its own job at scale; then force a full GC so one
    # query's garbage (shuffle buffers, broadcast blocks, unrolled
    # cache pages) isn't paid for as GC pauses inside the NEXT query's
    # timing — measured 2-4x inflation on late queries without this
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    spark._jvm.System.gc()


def _timed(spark, fn, sf_dir: str, name: str) -> float:
    """Seconds for ``fn(spark, sf_dir).count()`` (-1.0 if it raised),
    followed by the per-entry reset."""
    t0 = time.time()
    try:
        fn(spark, sf_dir).count()
        sec = round(time.time() - t0, 3)
    except Exception as e:  # noqa: BLE001 - record and continue
        print(f"# bench error {name}: {e}", file=sys.stderr)
        sec = -1.0
    _reset(spark)
    return sec


def _previous(path: str, sf: float | str, cpus: int) -> dict[str, float]:
    """Per-entry first-run times of the record at ``path`` if it was
    measured at this ``sf`` and ``cpus``, else {} (a record without
    ``cpus`` is not comparable)."""
    try:
        with open(path) as fh:
            prev = json.load(fh)
    except (OSError, ValueError) as e:
        print(f"# no previous record: {e}", file=sys.stderr)
        return {}
    if prev.get("sf") != sf or prev.get("cpus") != cpus:
        print(
            f"# previous record {path} (sf={prev.get('sf')}, "
            f"cpus={prev.get('cpus')}) is not comparable with "
            f"sf={sf}, cpus={cpus}",
            file=sys.stderr,
        )
        return {}
    return prev.get("queries", {})


def _adjudicate(name: str, first: float, before: float | None, rerun,
                fresh_jvm, escalations: int) -> tuple[float | None, float | None]:
    """The one adjudication rule. ``first`` is the entry's first run and
    ``before`` its time in the previous comparable record (None: no
    trigger). Over RETRY_FACTOR × ``before``, ``rerun()`` times it once
    more in this session; if that is still over (or failed),
    ``fresh_jvm()`` times it in a new process, unless ``escalations``
    already reached MAX_ESCALATIONS. Returns (retry, fresh), None for a
    step that did not run.

    Why both steps (r13, measured): in-run breaches are overwhelmingly
    positional session state, and the in-session retry re-runs in the
    same JVM, so JVM-level state (JIT code-cache sweeps, thread growth,
    pinned shuffle files — see _jvm_probe) can make a breach "persist"
    while the identical entry runs at speed solo minutes later
    (graph_pagerank: 16.9 s in-bench + 15.4 s retry vs 6.0 s solo)."""
    if not before or before <= 0 or first <= RETRY_FACTOR * before:
        return None, None
    retry = rerun()
    print(
        f"# retry {name}: {first:.2f}s first run vs {before:.2f}s before, "
        f"{retry:.2f}s on retry",
        file=sys.stderr,
    )
    if 0 <= retry <= RETRY_FACTOR * before:
        return retry, None
    if escalations >= MAX_ESCALATIONS:
        print(
            f"# fresh-JVM escalation SKIPPED for {name}: cap of "
            f"{MAX_ESCALATIONS} reached — treat this run's over_bar as "
            "host-suspect",
            file=sys.stderr,
        )
        return retry, None
    fresh = fresh_jvm()
    print(f"# fresh-JVM adjudication {name}: {fresh:.2f}s", file=sys.stderr)
    return retry, fresh


def _fresh_jvm(name: str) -> float:
    """Min of the two runs of ``bench.py NAME,NAME`` in a child process
    from this checkout with this environment (the first run warms the
    JVM); -1.0 if the child fails."""
    try:
        cp = subprocess.run(
            [sys.executable, os.path.abspath(__file__), f"{name},{name}"],
            capture_output=True,
            text=True,
            timeout=600,
            check=True,
        )
        return min(t for t in json.loads(cp.stdout.splitlines()[-1])[name] if t >= 0)
    except (OSError, ValueError, KeyError, IndexError, subprocess.SubprocessError) as e:
        print(f"# fresh-JVM adjudication {name} failed: {e}", file=sys.stderr)
        return -1.0


def _finish(
    timings: dict[str, float],
    retries: dict[str, float],
    fresh: dict[str, float],
    prev_q: dict[str, float],
    prev_file: str,
    sf_val: float | str,
    cpus: int,
    loadavg: tuple,
) -> None:
    """Tripwires + payload over the per-query timings: drift vs the
    previous comparable record, per-entry 2x bars, the ONE stdout JSON
    line, and the complete record at $SPARK_GRAFT_BENCH_OUT."""
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    # Drift tripwire (r08 verdict item 7): compare the shared-entry sum
    # against the previous record at measurement time, alongside the
    # launch load average — so "machine state vs real regression" is
    # decided from evidence recorded WITH the run, not reconstructed
    # afterwards. > ~1.15x on a settled box (low loadavg) means bisect,
    # don't attribute.
    shared_sum_vs_prev = None
    shared = [q for q in timings if timings[q] >= 0 and prev_q.get(q, -1) >= 0]
    cur_sum = sum(timings[q] for q in shared)
    prev_sum = sum(prev_q[q] for q in shared)
    if prev_sum > 0:
        shared_sum_vs_prev = {
            "ratio": round(cur_sum / prev_sum, 3),
            "n_shared": len(shared),
            "cur_sum": round(cur_sum, 1),
            "prev_sum": round(prev_sum, 1),
            "prev_file": prev_file,
        }
        print(
            f"# drift: shared-entry sum {cur_sum:.1f}s vs "
            f"{prev_sum:.1f}s in {prev_file} "
            f"({cur_sum / prev_sum:.3f}x over {len(shared)} "
            f"shared entries); loadavg at launch {loadavg}",
            file=sys.stderr,
        )
    # Per-entry bar tripwire (r09 verdict item 4): the shared-sum check
    # above is blind to slow creep (+20%/round never trips a previous-run
    # comparison yet compounds to 2.5x — agg_hist_quantiles r07..r09), so
    # every entry is ALSO checked against its first-recorded-or-pinned
    # bar in tools/bench_bars.json (see tools/make_bench_bars.py). The
    # 2x threshold is the repo's standing per-query regression bar.
    over_bar = None
    bars_path = os.path.join(HERE, "tools", "bench_bars.json")
    if os.path.isfile(bars_path) and sf_val == 0.1:
        try:
            with open(bars_path) as fh:
                bars = json.load(fh)

            def _eff(q: str) -> float:
                # a breach must persist on the in-session re-run AND on
                # the fresh-process run to report — min(first, retry,
                # fresh) is checked against the bar; "cur" stays the
                # first run so totals remain comparable across rounds
                runs = (timings[q], retries.get(q, -1), fresh.get(q, -1))
                return min(t for t in runs if t >= 0)

            over_bar = [
                {
                    "query": q,
                    "cur": timings[q],
                    "retry": retries.get(q),
                    "fresh": fresh.get(q),
                    "bar": bars[q]["bar"],
                    "ratio": round(_eff(q) / bars[q]["bar"], 2),
                    "bar_source": bars[q]["source"],
                }
                for q in sorted(timings)
                if timings[q] >= 0
                and q in bars
                and bars[q]["bar"] > 0
                and _eff(q) > 2.0 * bars[q]["bar"]
            ]
            if over_bar:
                for ob in over_bar:
                    print(
                        f"# OVER 2x BAR (persisted on retry): "
                        f"{ob['query']} {ob['cur']:.2f}s first / "
                        f"{(ob['retry'] if ob['retry'] is not None else ob['cur']):.2f}s retry vs "
                        f"{ob['bar']:.2f}s ({ob['ratio']}x, "
                        f"{ob['bar_source']})",
                        file=sys.stderr,
                    )
            else:
                print(
                    f"# over_bar: clean ({sum(1 for q in timings if q in bars)}"
                    f"/{len(timings)} barred entries within 2x)",
                    file=sys.stderr,
                )
        except (OSError, ValueError, KeyError, TypeError) as e:
            print(f"# bar tripwire skipped: {e}", file=sys.stderr)
    payload = {
        "metric": "total_query_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "cpus": cpus,
        "loadavg": loadavg,
        "shared_sum_vs_prev": shared_sum_vs_prev,
        "over_bar": over_bar,
        "retries": retries,
        "fresh": fresh,
    }
    print(json.dumps(payload))
    # Also persist the COMPLETE per-query record to a file: the driver's
    # captured stdout tail truncates long runs (BENCH_r04 lost its first 21
    # per-query timings), so round-over-round comparisons read this file,
    # committed with the round, instead of the driver's tail.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT",
        os.path.join(HERE, "BENCH_local.json"),
    )
    try:
        with open(out_path, "w") as fh:
            json.dump(payload, fh, indent=1)
            fh.write("\n")
    except OSError as e:
        print(f"# bench: could not write {out_path}: {e}", file=sys.stderr)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
