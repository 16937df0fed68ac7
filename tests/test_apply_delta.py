"""GraphStore.apply_delta: one rewrite job for every target graph, its
crash windows, and what ``target_graphs`` means in both backends; and the
same crash windows for every other mutation that commits through the
store's one rewrite path."""

import os

import pytest

from knowledge_graph_etl_spark.store import (
    _BATCH_PREFIX,
    GraphStore,
    _escape_partition_value,
)
from knowledge_graph_etl_spark.terms import QUAD_COLUMNS, QUAD_SCHEMA

# a: partly deleted, one insert; b: every quad deleted; c: not yet stored;
# d: outside the targets (its delete and the insert into e are discarded)
TARGETS = ["urn:g:a", "urn:g:b", "urn:g:c"]


def quad(g, s, o):
    return (g, s, "iri", "urn:p:x", o, "literal", None, None)


BASE = [quad("urn:g:a", f"urn:s:{i}", f"v{i}") for i in range(4)] + [
    quad("urn:g:b", "urn:s:b1", "vb1"),
    quad("urn:g:b", "urn:s:b2", "vb2"),
    quad("urn:g:d", "urn:s:d1", "vd1"),
]
DELS = [
    quad("urn:g:a", "urn:s:0", "v0"),
    quad("urn:g:b", "urn:s:b1", "vb1"),
    quad("urn:g:b", "urn:s:b2", "vb2"),
    quad("urn:g:d", "urn:s:d1", "vd1"),
]
INS = [
    quad("urn:g:a", "urn:s:9", "v9"),
    quad("urn:g:a", "urn:s:2", "v2"),  # already stored: a set no-op
    quad("urn:g:c", "urn:s:c1", "vc1"),
    quad("urn:g:e", "urn:s:e1", "ve1"),
]
OLD = {
    "urn:g:a": {r for r in BASE if r[0] == "urn:g:a"},
    "urn:g:b": {r for r in BASE if r[0] == "urn:g:b"},
    "urn:g:c": set(),
}
NEW = {
    "urn:g:a": (OLD["urn:g:a"] - {DELS[0]}) | {INS[0]},
    "urn:g:b": set(),
    "urn:g:c": {INS[2]},
}


def _store(spark, path):
    store = GraphStore(spark, path)
    store.insert(spark.createDataFrame(BASE, QUAD_SCHEMA))
    return store


def _apply(spark, store):
    store.apply_delta(
        spark.createDataFrame(DELS, QUAD_SCHEMA),
        spark.createDataFrame(INS, QUAD_SCHEMA),
        target_graphs=TARGETS,
    )


def _graphs(store):
    out = {}
    for r in store.quads().select(*QUAD_COLUMNS).collect():
        out.setdefault(r["g"], set()).add(tuple(r))
    return out


@pytest.mark.parametrize("mode", ["parquet"])
def test_multi_graph_delta(spark, tmp_path, mode):
    path = str(tmp_path / "q")
    store = _store(spark, path)
    _apply(spark, store)
    got = _graphs(store)
    assert store.quads().count() == sum(map(len, got.values()))  # no duplicates
    assert got == {
        "urn:g:a": NEW["urn:g:a"],
        "urn:g:c": NEW["urn:g:c"],
        "urn:g:d": {BASE[-1]},
    }
    assert sorted(store.list_graphs()) == ["urn:g:a", "urn:g:c", "urn:g:d"]
    # b's partition is gone, not left as an empty directory, and the
    # batch directory was removed
    names = set(os.listdir(path))
    assert "g=" + _escape_partition_value("urn:g:b") not in names
    tmp_root = os.path.join(path, "_compact_tmp")
    assert not os.path.isdir(tmp_root) or os.listdir(tmp_root) == []


def test_delete_of_every_quad_drops_the_partition(spark, tmp_path):
    path = str(tmp_path / "q")
    store = _store(spark, path)
    store.delete(spark.createDataFrame(BASE[4:6], QUAD_SCHEMA))
    assert "urn:g:b" not in store.list_graphs()
    assert "g=" + _escape_partition_value("urn:g:b") not in os.listdir(path)
    assert store.quads().count() == len(BASE) - 2


# each crash point of the apply_delta tests → (protocol step, call index)
APPLY_CRASHES = {
    # the batch is written, no graph committed
    "after_batch_write": ("_commit_generation", 0),
    # graph 1 swapped; graph 2 not yet committed
    "after_first_swap": ("_commit_generation", 1),
    # graph 1 swapped; graph 2's COMMIT marker written, swap not done
    "between_commit_and_swap": ("_complete_swap", 1),
}


@pytest.mark.parametrize(
    "where, new_graphs",
    [
        ("after_batch_write", set()),
        ("after_first_swap", {"urn:g:a"}),
        ("between_commit_and_swap", {"urn:g:a", "urn:g:b"}),
    ],
)
def test_crash_recovers_each_graph_to_old_or_new(
    spark, tmp_path, crash, where, new_graphs
):
    path = str(tmp_path / "q")
    store = _store(spark, path)
    with crash(*APPLY_CRASHES[where]):
        _apply(spark, store)
    tmp_root = os.path.join(path, "_compact_tmp")
    assert any(n.startswith(_BATCH_PREFIX) for n in os.listdir(tmp_root))

    reopened = GraphStore(spark, path)
    got = _graphs(reopened)
    for g in TARGETS:
        want = NEW[g] if g in new_graphs else OLD[g]
        assert got.get(g, set()) == want, g
    assert got["urn:g:d"] == {BASE[-1]}
    assert os.listdir(tmp_root) == []
    # the recovered store takes the same delta to its final state
    _apply(spark, reopened)
    final = _graphs(reopened)
    assert {g: final[g] for g in TARGETS if g in final} == {
        g: rows for g, rows in NEW.items() if rows
    }


def test_batch_name_never_collides_with_a_graph_tmp_name(spark, tmp_path, crash):
    """A graph named like the batch directory still gets its own tmp
    name: '=' is always escaped in graph names, never in the batch's."""
    assert "=" in _BATCH_PREFIX
    tricky = "delta=" + "0" * 32
    assert "=" not in _escape_partition_value(tricky)
    path = str(tmp_path / "q")
    store = GraphStore(spark, path)
    store.insert_data([quad(tricky, "urn:s:1", "v1")])
    with crash("_commit_generation"):
        store.apply_delta(
            spark.createDataFrame([], QUAD_SCHEMA),
            spark.createDataFrame([quad(tricky, "urn:s:2", "v2")], QUAD_SCHEMA),
            target_graphs=[tricky],
        )
    (batch,) = os.listdir(os.path.join(path, "_compact_tmp"))
    assert batch.startswith(_BATCH_PREFIX) and batch != _escape_partition_value(tricky)
    store = GraphStore(spark, path)
    store.apply_delta(
        spark.createDataFrame([], QUAD_SCHEMA),
        spark.createDataFrame([quad(tricky, "urn:s:2", "v2")], QUAD_SCHEMA),
        target_graphs=[tricky],
    )
    assert {r["s"] for r in store.graph(tricky).collect()} == {"urn:s:1", "urn:s:2"}


# --------------------------------------------------------------------------
# every committing mutation: old or new generation after each crash point
# --------------------------------------------------------------------------

A1 = quad("urn:g:a", "urn:s:1", "v1")
A2 = quad("urn:g:a", "urn:s:2", "v2")
B1 = quad("urn:g:b", "urn:s:3", "v3")
C1 = quad("urn:g:c", "urn:s:4", "v4")  # never a target
BEFORE = {"urn:g:a": {A1, A2}, "urn:g:b": {B1}, "urn:g:c": {C1}}


def _relabel(rows, g):
    return {(g, *r[1:]) for r in rows}


# operation → (call, graphs afterwards)
MUTATIONS = {
    "delete": (
        lambda spark, st: st.delete(spark.createDataFrame([A1, B1], QUAD_SCHEMA)),
        {**BEFORE, "urn:g:a": {A2}, "urn:g:b": set()},
    ),
    "clear": (lambda spark, st: st.clear("urn:g:a"), {**BEFORE, "urn:g:a": set()}),
    "drop": (lambda spark, st: st.drop("urn:g:b"), {**BEFORE, "urn:g:b": set()}),
    "copy_graph": (
        lambda spark, st: st.copy_graph("urn:g:a", "urn:g:b"),
        {**BEFORE, "urn:g:b": _relabel({A1, A2}, "urn:g:b")},
    ),
    "move_graph": (
        lambda spark, st: st.move_graph("urn:g:a", "urn:g:b"),
        {**BEFORE, "urn:g:a": set(), "urn:g:b": _relabel({A1, A2}, "urn:g:b")},
    ),
    "optimize": (lambda spark, st: st.optimize(), BEFORE),
}


def _partitions(path):
    """Each live partition directory with its file names."""
    return {
        name: sorted(os.listdir(os.path.join(path, name)))
        for name in os.listdir(path)
        if name.startswith("g=")
    }


@pytest.mark.parametrize(
    "op, step, nth",
    [
        (op, step, 0)
        for op in MUTATIONS
        for step in ("_commit_generation", "_complete_swap")
    ]
    # move's second commit is src's: dst is already swapped; optimize's
    # second is graph b's, from the batch that also fed graph a's
    + [
        (op, step, 1)
        for op in ("move_graph", "optimize")
        for step in ("_commit_generation", "_complete_swap")
    ],
)
def test_every_mutation_recovers_each_graph_to_old_or_new(
    spark, tmp_path, crash, op, step, nth
):
    """Crash each committing mutation after its rows are written
    (``_commit_generation``) or between a COMMIT and its swap
    (``_complete_swap``); a reopened store holds every graph at its old
    or its new generation, with ``_compact_tmp/`` empty."""
    call, after = MUTATIONS[op]
    path = str(tmp_path / "q")
    store = GraphStore(spark, path)
    store.insert(spark.createDataFrame([A1, A2, B1, C1], QUAD_SCHEMA))
    live = _partitions(path)
    with crash(step, nth):
        call(spark, store)
    tmp_root = os.path.join(path, "_compact_tmp")
    if nth == 0:
        # the first graph's COMMIT comes before any live partition changes
        assert _partitions(path) == live
        if step == "_complete_swap":
            assert any(n.endswith(".COMMIT") for n in os.listdir(tmp_root))

    reopened = GraphStore(spark, path)
    got = _graphs(reopened)
    for g in BEFORE:
        assert got.get(g, set()) in (BEFORE[g], after[g]), g
    assert not os.path.isdir(tmp_root) or os.listdir(tmp_root) == []
    if op == "move_graph":
        # no quad lost: each source quad is in src or (relabeled) in dst
        for r in BEFORE["urn:g:a"]:
            assert r in got.get("urn:g:a", set()) or (
                _relabel({r}, "urn:g:b") <= got.get("urn:g:b", set())
            )
    # the recovered store takes the same mutation to its final state (a
    # MOVE whose source is already dropped has nothing left to move)
    if op != "move_graph" or "urn:g:a" in got:
        call(spark, reopened)
    assert _graphs(reopened) == {g: rows for g, rows in after.items() if rows}


# --------------------------------------------------------------------------
# a commit that failed in this process: the next mutation recovers first
# --------------------------------------------------------------------------


def test_apply_delta_after_a_failed_swap_in_the_same_process(spark, tmp_path, crash):
    """A swap that failed after graph b's COMMIT leaves b's old files
    live; the next ``apply_delta`` on the same store finishes that swap
    before it lists the files it reads, so it does not fail on the files
    the swap replaces, and takes every graph to its final state."""
    store = _store(spark, str(tmp_path / "q"))
    with crash(*APPLY_CRASHES["between_commit_and_swap"]):
        _apply(spark, store)
    _apply(spark, store)
    want = {g: rows for g, rows in NEW.items() if rows}
    assert _graphs(store) == {**want, "urn:g:d": {BASE[-1]}}


def test_insert_after_a_failed_swap_in_the_same_process_is_kept(spark, tmp_path, crash):
    """A DELETE whose swap failed after its COMMIT leaves the old
    generation live; an insert in the same process appends to the
    committed generation, not to the old one, so reopening keeps it."""
    path = str(tmp_path / "q")
    store = GraphStore(spark, path)
    store.insert_data([A1, A2])
    with crash("_complete_swap"):
        store.delete(spark.createDataFrame([A1], QUAD_SCHEMA))
    A3 = quad("urn:g:a", "urn:s:3", "v3")
    store.insert_data([A3])
    assert _graphs(store) == {"urn:g:a": {A2, A3}}
    assert _graphs(GraphStore(spark, path)) == {"urn:g:a": {A2, A3}}


def _delete_failing_swap(spark, store, rows):
    """DELETE ``rows``, failing with an ``OSError`` after the COMMIT
    marker and before the swap, so the old generation stays live."""

    def failing(self, gname):
        raise OSError(f"swap of {gname}")

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(GraphStore, "_complete_swap", failing)
        with pytest.raises(OSError):
            store.delete(spark.createDataFrame(rows, QUAD_SCHEMA))


@pytest.fixture
def failed_swap(spark, tmp_path):
    """A store whose DELETE of ``v1`` failed before its swap: graph a's
    old files, ``v1`` and ``v2``, are still live, and the committed
    generation holds ``v2``."""
    store = GraphStore(spark, str(tmp_path / "q"))
    store.insert_data([A1])
    store.insert_data([A2])
    _delete_failing_swap(spark, store, [A1])
    return store


@pytest.mark.parametrize(
    "read",
    [
        lambda st: st.quads(),
        lambda st: st.graph("urn:g:a"),
        lambda st: st.dataset(["urn:g:a"]),
    ],
    ids=["quads", "graph", "dataset"],
)
def test_reads_after_a_failed_swap_in_the_same_process(failed_swap, count_jobs, read):
    """A read on the store finishes the pending swap before it plans its
    scan, with no Spark job, so it never returns the superseded
    generation."""
    frames = []
    assert count_jobs(lambda: frames.append(read(failed_swap))) == []
    assert [r["o_value"] for r in frames[0].collect()] == ["v2"]


def test_list_graphs_after_a_failed_swap_in_the_same_process(spark, tmp_path):
    """A DELETE that emptied graph a, failing before its swap, leaves a's
    partition live; ``list_graphs`` finishes the swap and drops it."""
    store = GraphStore(spark, str(tmp_path / "q"))
    store.insert_data([A1, B1])
    _delete_failing_swap(spark, store, [A1])
    assert store.list_graphs() == ["urn:g:b"]


def test_concurrent_reads_finish_a_failed_swap_once(spark, tmp_path):
    """Reads from more threads than cores, switching often, each see the
    committed generation: the store's lock lets one of them finish the
    pending swap and the others find nothing left to recover. Several
    rounds, as a race shows only in some of them."""
    import sys
    import threading

    store = GraphStore(spark, str(tmp_path / "q"))
    store.insert_data([A2])
    n_threads = 2 * (os.cpu_count() or 1) + 2
    interval = sys.getswitchinterval()
    for i in range(5):
        stale = quad("urn:g:a", f"urn:s:x{i}", f"x{i}")
        store.insert_data([stale])
        _delete_failing_swap(spark, store, [stale])
        results, errors = [], []

        def read():
            try:
                results.append((store.list_graphs(), store.quads()))
            except Exception as e:  # recorded and asserted on below
                errors.append(e)

        threads = [threading.Thread(target=read) for _ in range(n_threads)]
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        assert errors == []
        assert [graphs for graphs, _ in results] == [["urn:g:a"]] * n_threads
        assert [r["o_value"] for r in results[0][1].collect()] == ["v2"]
