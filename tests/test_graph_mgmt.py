"""SPARQL 1.1 Update graph management: ADD / MOVE / COPY, scoped
CLEAR/DROP (NAMED | ALL), and LOAD ... INTO GRAPH.

The reference workload only uses CLEAR/DROP GRAPH (SURVEY.md §2 ops
11-12); these complete the Update spec's graph-management section so a
SPARQL-update user can manage staging graphs the standard way."""

import pytest

from knowledge_graph_etl_spark.engine import Engine


def _eng(spark, path=None):
    eng = Engine(spark) if path is None else Engine(spark, store_path=path)
    eng.store.insert_data(
        [
            ("urn:g:a", "urn:s:1", "iri", "urn:p:v", "x", "literal", None, None),
            ("urn:g:a", "urn:s:2", "iri", "urn:p:v", "y", "literal", None, None),
            ("urn:g:b", "urn:s:3", "iri", "urn:p:v", "z", "literal", None, None),
        ]
    )
    return eng


def _graph_rows(eng, g):
    return {
        (r["s"], r["p"], r["o_value"]) for r in eng.store.graph(g).collect()
    }


@pytest.mark.parametrize("mode", ["mem", "parquet"])
def test_add_graph_unions(spark, tmp_path, mode):
    eng = _eng(spark, None if mode == "mem" else str(tmp_path / "q"))
    eng.update("ADD GRAPH <urn:g:a> TO GRAPH <urn:g:b>")
    assert _graph_rows(eng, "urn:g:b") == {
        ("urn:s:1", "urn:p:v", "x"),
        ("urn:s:2", "urn:p:v", "y"),
        ("urn:s:3", "urn:p:v", "z"),
    }
    # src unchanged; re-ADD is a set-semantic no-op
    assert len(_graph_rows(eng, "urn:g:a")) == 2
    eng.update("ADD GRAPH <urn:g:a> TO GRAPH <urn:g:b>")
    assert len(_graph_rows(eng, "urn:g:b")) == 3


@pytest.mark.parametrize("mode", ["mem", "parquet"])
def test_copy_graph_replaces(spark, tmp_path, mode):
    eng = _eng(spark, None if mode == "mem" else str(tmp_path / "q"))
    eng.update("COPY GRAPH <urn:g:a> TO GRAPH <urn:g:b>")
    assert _graph_rows(eng, "urn:g:b") == {
        ("urn:s:1", "urn:p:v", "x"),
        ("urn:s:2", "urn:p:v", "y"),
    }
    assert len(_graph_rows(eng, "urn:g:a")) == 2


@pytest.mark.parametrize("mode", ["mem", "parquet"])
def test_move_graph_drops_source(spark, tmp_path, mode):
    eng = _eng(spark, None if mode == "mem" else str(tmp_path / "q"))
    eng.update("MOVE GRAPH <urn:g:a> TO GRAPH <urn:g:b>")
    assert _graph_rows(eng, "urn:g:b") == {
        ("urn:s:1", "urn:p:v", "x"),
        ("urn:s:2", "urn:p:v", "y"),
    }
    assert _graph_rows(eng, "urn:g:a") == set()
    assert "urn:g:a" not in eng.store.list_graphs()


def test_move_to_self_is_noop(spark):
    eng = _eng(spark)
    eng.update("MOVE GRAPH <urn:g:a> TO GRAPH <urn:g:a>")
    assert len(_graph_rows(eng, "urn:g:a")) == 2


def test_missing_source_errors_unless_silent(spark):
    eng = _eng(spark)
    with pytest.raises(ValueError, match="does not exist"):
        eng.update("COPY GRAPH <urn:g:nope> TO GRAPH <urn:g:b>")
    eng.update("COPY SILENT GRAPH <urn:g:nope> TO GRAPH <urn:g:b>")
    assert len(_graph_rows(eng, "urn:g:b")) == 1  # untouched


def test_clear_all_and_named(spark):
    eng = _eng(spark)
    eng.update("CLEAR ALL")
    assert eng.store.quads().count() == 0
    eng2 = _eng(spark)
    eng2.update("DROP SILENT NAMED")
    assert eng2.store.quads().count() == 0


def test_default_operand_rejected(spark):
    eng = _eng(spark)
    for q in (
        "CLEAR DEFAULT",
        "ADD DEFAULT TO GRAPH <urn:g:b>",
        "MOVE GRAPH <urn:g:a> TO DEFAULT",
    ):
        with pytest.raises(SyntaxError, match="DEFAULT is not supported"):
            eng.update(q)


def test_load_into_graph(spark, tmp_path):
    nt = tmp_path / "data.nt"
    nt.write_text(
        '<urn:s:9> <urn:p:v> "loaded" .\n'
        "<urn:s:9> <urn:p:ref> <urn:s:1> .\n"
        # duplicate line: set semantics collapse it
        '<urn:s:9> <urn:p:v> "loaded" .\n'
    )
    eng = _eng(spark)
    eng.update(f"LOAD <file://{nt}> INTO GRAPH <urn:g:new>")
    assert _graph_rows(eng, "urn:g:new") == {
        ("urn:s:9", "urn:p:v", "loaded"),
        ("urn:s:9", "urn:p:ref", "urn:s:1"),
    }


def test_load_missing_file(spark):
    eng = _eng(spark)
    with pytest.raises(ValueError, match="does not exist"):
        eng.update("LOAD <file:///nope/missing.nt> INTO GRAPH <urn:g:new>")
    eng.update("LOAD SILENT <file:///nope/missing.nt> INTO GRAPH <urn:g:new>")
    assert "urn:g:new" not in eng.store.list_graphs()


def test_load_requires_into(spark):
    eng = _eng(spark)
    with pytest.raises(SyntaxError, match="INTO GRAPH"):
        eng.update("LOAD <file:///tmp/x.nt>")


def test_load_silent_suppresses_parse_failure(spark, tmp_path):
    bad = tmp_path / "bad.nt"
    bad.write_text("this is not valid ntriples at all\n")
    eng = _eng(spark)
    with pytest.raises(Exception):
        eng.update(f"LOAD <file://{bad}> INTO GRAPH <urn:g:new>")
    # SILENT: the operation always succeeds (SPARQL 1.1 Update §3.1.2),
    # including on malformed documents
    eng.update(f"LOAD SILENT <file://{bad}> INTO GRAPH <urn:g:new>")
    assert len(_graph_rows(eng, "urn:g:a")) == 2  # store untouched


@pytest.mark.parametrize("mode", ["mem", "parquet"])
def test_apply_delta_equals_delete_then_insert(spark, tmp_path, mode):
    """GraphStore.apply_delta (r14): one copy-on-write rewrite must equal
    delete-then-insert for disjoint delete/insert batches, including
    no-op deletes (absent quads) and inserts already present (set
    semantics), and must leave other graphs untouched: rows outside
    ``target_graphs`` are discarded in both modes."""
    from knowledge_graph_etl_spark.terms import QUAD_SCHEMA

    def quad(g, s, o):
        return (g, s, "iri", "urn:p:x", o, "literal", None, None)

    base = [quad("urn:g:a", f"urn:s:{i}", f"v{i}") for i in range(6)]
    base += [quad("urn:g:b", "urn:s:keep", "vb")]

    def build(path):
        eng = Engine(spark, path)
        eng.store.insert(spark.createDataFrame(base, QUAD_SCHEMA))
        return eng

    dels = [
        quad("urn:g:a", "urn:s:0", "v0"),
        quad("urn:g:a", "urn:s:1", "v1"),
        quad("urn:g:a", "urn:s:99", "absent"),  # no-op delete
        quad("urn:g:b", "urn:s:keep", "vb"),  # outside target_graphs
    ]
    ins = [
        quad("urn:g:a", "urn:s:7", "new"),
        quad("urn:g:a", "urn:s:5", "v5"),  # already present: set no-op
        quad("urn:g:c", "urn:s:8", "vc"),  # outside target_graphs
    ]
    d_df = spark.createDataFrame(dels, QUAD_SCHEMA)
    i_df = spark.createDataFrame(ins, QUAD_SCHEMA)

    fused = build(str(tmp_path / "f") if mode == "parquet" else None)
    fused.store.apply_delta(d_df, i_df, target_graphs=["urn:g:a"])

    twostep = build(str(tmp_path / "t") if mode == "parquet" else None)
    twostep.store.delete(d_df.where("g = 'urn:g:a'"), target_graphs=["urn:g:a"])
    twostep.store.insert(i_df.where("g = 'urn:g:a'"), target_graphs=["urn:g:a"])

    def content(eng):
        return sorted(tuple(r) for r in eng.store.quads().collect())

    assert content(fused) == content(twostep)
    assert fused.store.graph("urn:g:b").count() == 1
    assert "urn:g:c" not in fused.store.list_graphs()
    # set semantics held: s:5 appears once, s:7 added, s:0/s:1 gone
    a = {r["s"] for r in fused.store.graph("urn:g:a").collect()}
    assert a == {"urn:s:2", "urn:s:3", "urn:s:4", "urn:s:5", "urn:s:7"}
