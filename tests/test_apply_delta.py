"""GraphStore.apply_delta: one rewrite job for every target graph, its
crash windows, and what ``target_graphs`` means in both backends."""

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


@pytest.mark.parametrize("mode", ["mem", "parquet"])
def test_multi_graph_delta(spark, tmp_path, mode):
    path = str(tmp_path / "q") if mode == "parquet" else None
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
    if path:
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


class Crash(RuntimeError):
    pass


def _inject(monkeypatch, where):
    """Make the next apply_delta die at one step of its commit."""
    commit, swap = GraphStore._commit_generation, GraphStore._complete_swap
    calls = []

    if where == "after_batch_write":
        def boom(self, gname, src):
            raise Crash(where)

        monkeypatch.setattr(GraphStore, "_commit_generation", boom)
    elif where == "after_first_swap":
        # graph 1 swapped; graph 2 not yet committed
        def boom(self, gname, src):
            if calls:
                raise Crash(where)
            calls.append(gname)
            commit(self, gname, src)

        monkeypatch.setattr(GraphStore, "_commit_generation", boom)
    elif where == "between_commit_and_swap":
        # graph 1 swapped; graph 2's COMMIT marker written, swap not done
        def boom(self, gname):
            if calls:
                raise Crash(where)
            calls.append(gname)
            swap(self, gname)

        monkeypatch.setattr(GraphStore, "_complete_swap", boom)
    return calls


@pytest.mark.parametrize(
    "where, new_graphs",
    [
        ("after_batch_write", set()),
        ("after_first_swap", {"urn:g:a"}),
        ("between_commit_and_swap", {"urn:g:a", "urn:g:b"}),
    ],
)
def test_crash_recovers_each_graph_to_old_or_new(
    spark, tmp_path, monkeypatch, where, new_graphs
):
    path = str(tmp_path / "q")
    store = _store(spark, path)
    _inject(monkeypatch, where)
    with pytest.raises(Crash):
        _apply(spark, store)
    monkeypatch.undo()
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


def test_batch_name_never_collides_with_a_graph_tmp_name(
    spark, tmp_path, monkeypatch
):
    """A graph named like the batch directory still gets its own tmp
    name: '=' is always escaped in graph names, never in the batch's."""
    assert "=" in _BATCH_PREFIX
    tricky = "delta=" + "0" * 32
    assert "=" not in _escape_partition_value(tricky)
    path = str(tmp_path / "q")
    store = GraphStore(spark, path)
    store.insert_data([quad(tricky, "urn:s:1", "v1")])
    _inject(monkeypatch, "after_batch_write")
    with pytest.raises(Crash):
        store.apply_delta(
            spark.createDataFrame([], QUAD_SCHEMA),
            spark.createDataFrame([quad(tricky, "urn:s:2", "v2")], QUAD_SCHEMA),
            target_graphs=[tricky],
        )
    monkeypatch.undo()
    (batch,) = os.listdir(os.path.join(path, "_compact_tmp"))
    assert batch.startswith(_BATCH_PREFIX) and batch != _escape_partition_value(tricky)
    store = GraphStore(spark, path)
    store.apply_delta(
        spark.createDataFrame([], QUAD_SCHEMA),
        spark.createDataFrame([quad(tricky, "urn:s:2", "v2")], QUAD_SCHEMA),
        target_graphs=[tricky],
    )
    assert {r["s"] for r in store.graph(tricky).collect()} == {"urn:s:1", "urn:s:2"}
