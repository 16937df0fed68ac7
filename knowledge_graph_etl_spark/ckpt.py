"""The one owner of ``localCheckpoint`` in the engine.

A ``localCheckpoint`` pins its blocks in the MEMORY_AND_DISK store until
the RDD is explicitly unpersisted; nothing does that automatically. A
10-round iterative loop that never releases retains 10 superseded label
tables for the life of the session, and in a harness that runs 90+
queries back to back that shows up as run-position-dependent GC pressure
(observed: resolve_clusters 26 s solo → 44 s mid-sequence in BENCH_r04).
So every checkpoint in the package and in ``__spark_entry__.py`` is taken
here (``tools/check_matrix.py`` fails on any other ``.localCheckpoint(``
call), and every release goes through a :class:`Checkpoints` owner.

The rule operators follow: **an operator that reads its input more than
once materializes that input itself** (the caller never pre-checkpoints
for it), and releases its intermediates before returning.

* :func:`pin` is an unowned checkpoint. The returned plan references it,
  so whoever consumes that plan owns it. That is the accepted pinned-RDD
  budget of operators whose result is built on a checkpoint
  (``knn_graph``, ``select_token_budget``, ``ks_2sample``, the update
  compiler's WHERE bindings, ...): 1-2 RDDs per call until the consumer
  releases them. ``bench.py`` and ``tools/check_oracle.py`` sweep every
  persistent RDD after consuming each query's result; a library caller
  in a long-lived session takes them over with :meth:`Checkpoints.own`
  and releases them once the result is consumed, as ``execute_update``
  does after its writes.
* :class:`Checkpoints` owns what it pinned or adopted. Iterative loops
  call :meth:`~Checkpoints.round_done` after each round's single action:
  the lazy checkpoints of round *i* are referenced by round *i+1*'s
  un-materialized plans, which materialize in round *i+2*'s action, so
  artifacts are released with a lag of :data:`LAG` rounds. On exit,
  :meth:`~Checkpoints.release` frees everything except what the returned
  plan reads. Only call it once every lazy checkpoint that plan reads
  has materialized: a local checkpoint's lineage is truncated, so its
  blocks cannot be recomputed once dropped.

Streaming DataFrames cannot be checkpointed; :func:`pin` returns them
unchanged, so operators shared with the streaming path need no guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["LAG", "Checkpoints", "pin", "persistent_rdd_ids"]

#: rounds a loop's artifacts stay pinned after the round that made them
LAG = 2


def pin(df: DataFrame, lazy: bool = False) -> DataFrame:
    """``df`` checkpointed (its plan severed to a ``LogicalRDD``); eager
    unless ``lazy``, in which case the blocks are written by the first
    action that computes them. Streaming DataFrames come back unchanged.
    The caller (or the consumer of a plan built on the result) owns the
    blocks; see the module docstring."""
    if df.isStreaming:
        return df
    return df.localCheckpoint(eager=not lazy)


def _checkpoint_rdds(df: DataFrame) -> list:
    """JVM RDDs of the ``LogicalRDD`` leaves of ``df``'s analyzed plan: a
    checkpointed DataFrame is such a leaf itself, and a result built ON
    TOP of checkpoints (a window over the final labels table) reads them
    as leaves. Empty on any py4j hiccup: callers treat that as nothing
    to release."""
    rdds = []
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                rdds.append(leaf.rdd())
    except Exception:
        pass
    return rdds


def persistent_rdd_ids(spark) -> set[int]:
    """IDs of every persisted RDD in the session: checkpoint blocks AND
    CacheManager-backed caches. A test and debugging helper for
    before/after diffs."""
    ids: set[int] = set()
    try:
        it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
        while it.hasNext():
            ids.add(int(it.next().getKey()))
    except Exception:
        pass
    return ids


class Checkpoints:
    """Owner of the checkpoints one operator call (or one update) makes.

    Usage::

        ck = Checkpoints()
        edges = ck.pin(edges)             # static input, read every round
        ck.round_done()
        for ...:
            labels = ck.pin(step(labels), lazy=True)
            labels.count()                # the round's single action
            ck.round_done()               # releases LAG-rounds-old pins
        ck.release(keep=labels)           # all but what the result reads
        return labels
    """

    def __init__(self) -> None:
        # one list of JVM RDDs per round; the last is the open round
        self._rounds: list[list] = [[]]

    def pin(self, df: DataFrame, lazy: bool = False) -> DataFrame:
        """:func:`pin`, owned by this object."""
        out = pin(df, lazy)
        if out is not df:
            self._rounds[-1].extend(_checkpoint_rdds(out))
        return out

    def own(self, df: DataFrame) -> DataFrame:
        """Take over the checkpoints ``df``'s plan reads (an operator's
        returned budget) and return ``df``. Only for a result whose
        checkpoints nothing else reads."""
        self._rounds[-1].extend(_checkpoint_rdds(df))
        return df

    def round_done(self) -> None:
        """Close the open round and release the one closed :data:`LAG`
        rounds ago (call AFTER the round's materializing action)."""
        self._rounds.append([])
        if len(self._rounds) >= LAG + 2:
            _unpersist(self._rounds[-LAG - 2])
            self._rounds[-LAG - 2] = []

    def release(self, keep: DataFrame | None = None) -> None:
        """Unpersist (non-blocking) everything this object owns except the
        checkpoints ``keep``'s plan reads."""
        kept = {int(r.id()) for r in _checkpoint_rdds(keep)} if keep is not None else set()
        for batch in self._rounds:
            _unpersist([r for r in batch if int(r.id()) not in kept])
        self._rounds = [[]]


def _unpersist(rdds: list) -> None:
    for rdd in rdds:
        try:
            rdd.unpersist(False)
        except Exception:
            pass
