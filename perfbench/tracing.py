"""Per-layer trace, recorded from outside the engine.

``Tracer.install`` wraps the engine's public entry points (Engine,
parser, compiler, GraphStore) in spans for the life of a traced run and
``uninstall`` restores them, so the untraced run executes unmodified
code. Each span adds its duration to its layer and subtracts it from its
parent's self time. On reads, Catalyst time is split from execution by
forcing ``queryExecution().executedPlan()`` on the DataFrame the
compiler returns, which the caller's ``collect()`` then reuses. Spark
work is tagged with a job group while the iteration clock runs and read
back from the status store after the iteration."""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager

import pyarrow.parquet as pq

#: GraphStore method → the layer its time counts in
_STORE_LAYERS = {
    "insert": "store.insert",
    "apply_delta": "store.apply_delta",
    "clear": "store.ddl",
    "drop": "store.ddl",
    "optimize": "store.optimize",
}


class Tracer:
    def __init__(self, spark, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self._stack: list[list] = []
        self._saved: list[tuple[object, str, object]] = []
        self._seen: dict[str, int] = {}
        self._iteration = 0
        self.reset()

    # -- spans -----------------------------------------------------------

    def reset(self) -> None:
        """Start a new iteration: zero every counter, new job group."""
        self._iteration += 1
        self._group = f"perfbench-{self._iteration}"
        self.self_s: dict[str, float] = defaultdict(float)
        self.incl_s: dict[str, float] = defaultdict(float)
        self.bytes_written = 0
        self.files_written = 0
        self.rows_written: dict[str, int] = defaultdict(int)
        self._wall = 0.0
        self._gc_ms = 0
        self._gc_start = 0

    @contextmanager
    def span(self, layer: str):
        frame = [layer, 0.0]
        self._stack.append(frame)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            self._stack.pop()
            self.incl_s[layer] += dur
            self.self_s[layer] += dur - frame[1]
            if self._stack:
                self._stack[-1][1] += dur

    def _force_plan(self, df) -> None:
        with self.span("compiler.catalyst"):
            df._jdf.queryExecution().executedPlan()

    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        from knowledge_graph_etl_spark import engine as engine_mod
        from knowledge_graph_etl_spark.plans import compiler as compiler_mod
        from knowledge_graph_etl_spark.store import GraphStore

        tracer = self

        def spanned(layer, after=None):
            def make(orig):
                def wrapper(*args, **kwargs):
                    with tracer.span(layer):
                        out = orig(*args, **kwargs)
                    if after is not None:
                        after(args, out)
                    return out

                return wrapper

            return make

        def planned(args, df):
            tracer._force_plan(df)

        def written(layer):
            return lambda args, out: tracer._snapshot(args[0].path, layer)

        def checkpoint(orig):
            # only the compiler's WHERE materialization is its own layer;
            # a checkpoint taken by the store stays in the store's time
            def wrapper(df, *args, **kwargs):
                if tracer._stack and tracer._stack[-1][0] == "compiler.build":
                    with tracer.span("compiler.checkpoint"):
                        return orig(df, *args, **kwargs)
                return orig(df, *args, **kwargs)

            return wrapper

        Engine = engine_mod.Engine
        self._patch(Engine, "update", spanned("engine.update"))
        self._patch(Engine, "select", spanned("engine.select"))
        self._patch(Engine, "ask", spanned("engine.select"))
        self._patch(engine_mod, "parse_update", spanned("parser"))
        self._patch(engine_mod, "parse_query", spanned("parser"))
        self._patch(engine_mod, "compile_select", spanned("compiler.build", planned))
        self._patch(engine_mod, "compile_ask", spanned("compiler.build", planned))
        # not planned: store.insert plans the update's DataFrame again inside
        # its anti-join and write, so forcing it here would add planning that
        # the untraced run never does; update planning stays in store.insert_s
        self._patch(compiler_mod, "compile_insert_where", spanned("compiler.build"))
        self._patch(type(self.spark.range(0)), "localCheckpoint", checkpoint)
        for attr, layer in _STORE_LAYERS.items():
            self._patch(GraphStore, attr, spanned(layer, written(layer)))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    # -- files written ---------------------------------------------------

    def watch(self, path: str) -> None:
        """Start counting files created under ``path`` from its current
        contents."""
        self._seen = {
            f: os.path.getsize(f) for f in _files(path)
        }

    def _snapshot(self, path: str | None, layer: str) -> None:
        """Count the files ``layer``'s call created under ``path``, and
        the rows of the parquet files among them (from their footers)."""
        if not path:
            return
        now = {f: os.path.getsize(f) for f in _files(path)}
        for f, size in now.items():
            if self._seen.get(f) != size:
                self.files_written += 1
                self.bytes_written += size
                if f.endswith(".parquet"):
                    self.rows_written[layer] += pq.ParquetFile(f).metadata.num_rows
        self._seen = now

    # -- Spark counters --------------------------------------------------

    def _gc_time_ms(self) -> int:
        beans = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(
            max(b.getCollectionTime(), 0)
            for b in beans.getGarbageCollectorMXBeans()
        )

    def resume(self) -> None:
        """The iteration clock started: tag Spark jobs from here on."""
        self.sc.setJobGroup(self._group, "timed iteration work")
        self._gc_start = self._gc_time_ms()

    def pause(self, seconds: float) -> None:
        self._gc_ms += self._gc_time_ms() - self._gc_start
        self.sc._jsc.clearJobGroup()
        self._wall += seconds

    def collect(self) -> dict[str, float]:
        """Per-layer totals of the iteration since :meth:`reset`."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10000)
        store = jsc.statusStore()
        job_ids = self.sc.statusTracker().getJobIdsForGroup(self._group)
        intervals, stages = [], set()
        for jid in job_ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        ex = defaultdict(float)
        for sid in stages:
            attempts = store.stageData(sid, False, None, False, None)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                ex["tasks"] += st.numCompleteTasks()
                ex["run_ms"] += st.executorRunTime()
                ex["cpu_ns"] += st.executorCpuTime()
                ex["input"] += st.inputBytes()
                ex["shuffle"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                ex["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        job_s = _union_ms(intervals) / 1000.0
        cpu_s = ex["cpu_ns"] / 1e9
        wall = self._wall
        out = {
            "engine.update_s": self.incl_s["engine.update"],
            "engine.select_s": self.incl_s["engine.select"],
            "parser.s": self.self_s["parser"],
            "compiler.build_s": self.self_s["compiler.build"],
            "compiler.checkpoint_s": self.self_s["compiler.checkpoint"],
            "compiler.catalyst_s": self.self_s["compiler.catalyst"],
            "store.insert_s": self.self_s["store.insert"],
            "store.ddl_s": self.self_s["store.ddl"],
            "store.apply_delta_s": self.self_s["store.apply_delta"],
            "store.optimize_s": self.self_s["store.optimize"],
            "store.bytes_written": float(self.bytes_written),
            "store.files_written": float(self.files_written),
            # rows of the files apply_delta wrote; run.py divides by the delta
            "store.apply_delta_rows": float(self.rows_written["store.apply_delta"]),
            "driver.s": max(wall - job_s, 0.0),
            "exec.jobs": float(len(job_ids)),
            "exec.tasks": ex["tasks"],
            "exec.run_s": ex["run_ms"] / 1000.0,
            "exec.cpu_s": cpu_s,
            "exec.cpu_util": cpu_s / (wall * self.cores) if wall else 0.0,
            "exec.input_bytes": ex["input"],
            "exec.shuffle_bytes": ex["shuffle"],
            "exec.spill_bytes": ex["spill"],
            "jvm.gc_s": self._gc_ms / 1000.0,
            "trace.wall_s": wall,
        }
        return out


def _files(path: str):
    for d, _, names in os.walk(path):
        for name in names:
            yield os.path.join(d, name)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    """Length of the union of [start, end] intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total
