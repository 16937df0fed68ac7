"""The checkpoint owner (``knowledge_graph_etl_spark.ckpt``) and the
pinned-RDD behaviour of its callers: updates release their WHERE pin, and
iterative graph operators pin their own input, read it once and leave
pinned only what their result reads."""

import pytest
from pyspark.sql import functions as F

from knowledge_graph_etl_spark.ckpt import (
    LAG,
    Checkpoints,
    _checkpoint_rdds,
    persistent_rdd_ids,
    pin,
)
from knowledge_graph_etl_spark.engine import Engine
from knowledge_graph_etl_spark.terms import QUAD_COLUMNS


def _ids(df) -> set[int]:
    return {int(r.id()) for r in _checkpoint_rdds(df)}


def _new_pins(spark, before: set[int]) -> set[int]:
    return persistent_rdd_ids(spark) - before


# -- the owner ----------------------------------------------------------------


def test_pin_is_eager_unless_lazy(spark):
    before = persistent_rdd_ids(spark)
    eager = pin(spark.range(10))
    lazy = pin(spark.range(10), lazy=True)
    try:
        assert _ids(eager) <= _new_pins(spark, before)
        assert "LogicalRDD" in eager._jdf.queryExecution().analyzed().toString()
        assert "LogicalRDD" in lazy._jdf.queryExecution().analyzed().toString()
        assert lazy.count() == 10
        assert _ids(lazy) <= _new_pins(spark, before)
    finally:
        ck = Checkpoints()
        ck.own(eager.unionByName(lazy))
        ck.release()
    assert persistent_rdd_ids(spark) <= before


def test_pin_returns_a_streaming_frame_unchanged(spark):
    stream = spark.readStream.format("rate").load()
    ck = Checkpoints()
    assert pin(stream) is stream
    assert ck.pin(stream) is stream
    assert ck.pin(stream, lazy=True) is stream
    ck.release()  # owns nothing: a no-op


def test_round_done_releases_with_a_two_round_lag(spark):
    assert LAG == 2
    before = persistent_rdd_ids(spark)
    ck = Checkpoints()
    rounds = []
    for i in range(4):
        rounds.append(ck.pin(spark.range(i + 1)))
        ck.round_done()
        alive = _new_pins(spark, before)
        # after closing round i, rounds <= i - LAG are released
        for j, df in enumerate(rounds):
            assert (_ids(df) <= alive) == (j > i - LAG), (i, j)
    ck.release()
    assert persistent_rdd_ids(spark) <= before


def test_release_keeps_what_the_result_reads(spark):
    before = persistent_rdd_ids(spark)
    ck = Checkpoints()
    a = ck.pin(spark.range(5))
    b = ck.pin(spark.range(7))
    out = b.where("id > 2")  # built on b's checkpoint
    ck.release(keep=out)
    assert _new_pins(spark, before) == _ids(b)
    assert out.count() == 4
    assert not _ids(a) & persistent_rdd_ids(spark)
    ck.own(out)
    ck.release()
    assert persistent_rdd_ids(spark) <= before


# -- the update path ------------------------------------------------------------


ROWS = [
    ("urn:g:a", f"urn:s:{i}", "iri", "urn:p:name", f"n{i}", "literal", None, None)
    for i in range(6)
]


def _modify_store(eng):
    eng.store.insert_data(ROWS)
    for _ in range(3):
        eng.update(
            "INSERT { GRAPH <urn:g:b> { ?s <urn:p:label> ?n } } "
            "USING <urn:g:a> WHERE { ?s <urn:p:name> ?n }"
        )
    eng.update(
        """
        WITH <urn:g:a>
        DELETE { ?s <urn:p:name> ?n }
        INSERT { ?s <urn:p:title> ?n }
        WHERE { ?s <urn:p:name> ?n }
        """
    )
    got = {
        tuple(r) for r in eng.store.quads().select(*QUAD_COLUMNS).collect()
    }
    assert got == {
        (g, s, st, p, o, ot, None, None)
        for (_, s, st, _, o, ot, _, _) in ROWS
        for g, p in (("urn:g:a", "urn:p:title"), ("urn:g:b", "urn:p:label"))
    }


def test_parquet_update_leaves_no_new_pinned_rdds(spark, tmp_path):
    """INSERT WHERE and DELETE/INSERT WHERE release their WHERE pin once
    the writes return, and the store reads back the updated quads."""
    eng = Engine(spark, str(tmp_path / "store"))
    before = persistent_rdd_ids(spark)
    _modify_store(eng)
    assert _new_pins(spark, before) == set()


def test_inmemory_store_reads_back_after_updates(spark):
    """The in-memory store's cached pieces read the updates' WHERE pins
    through their lineage (the read after the DELETE/INSERT recomputes
    through them), so those pins must outlive the update."""
    _modify_store(Engine(spark))


# -- operators pin their own input --------------------------------------------------


EDGES = [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (7, 7), (8, 9)]


@pytest.mark.parametrize(
    "op", ["pagerank", "label_propagation", "connected_components"]
)
def test_graph_operator_reads_its_input_once_and_pins_only_its_result(
    spark, tmp_path, op
):
    """Called library-style on an un-checkpointed parquet edge plan, the
    operator reads that plan once (into its own checkpoint), returns a
    plan that no longer scans the source, and leaves pinned only the
    checkpoints that plan reads."""
    from knowledge_graph_etl_spark.extensions import graph

    path = str(tmp_path / "edges.parquet")
    spark.createDataFrame(EDGES, "src long, dst long").write.parquet(path)
    acc = spark.sparkContext.accumulator(0)

    def tick(x):
        acc.add(1)
        return x

    counted = F.udf(tick, "long").asNondeterministic()
    edges = spark.read.parquet(path).select(counted("src").alias("src"), "dst")

    before = persistent_rdd_ids(spark)
    out = getattr(graph, op)(edges)
    rows = out.collect()
    assert acc.value == len(EDGES)  # one read of the input
    assert "parquet" not in out._jdf.queryExecution().analyzed().toString()
    assert _new_pins(spark, before) == _ids(out)
    nodes = {n for e in EDGES for n in e}
    if op == "connected_components":
        nodes.discard(7)  # a self-loop-only node is no edge
    assert {r["node"] for r in rows} == nodes
    ck = Checkpoints()
    ck.own(out)
    ck.release()
    assert persistent_rdd_ids(spark) <= before
