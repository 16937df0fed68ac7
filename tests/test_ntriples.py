"""N-Triples sink/source round-trip (SURVEY.md §2 ops 3, 5)."""

import pytest

from knowledge_graph_etl_spark.sources import read_ntriples, to_ntriples_lines, write_ntriples
from knowledge_graph_etl_spark.store import GraphStore
from knowledge_graph_etl_spark.terms import XSD_BOOLEAN, XSD_INTEGER, term_to_nt

ROWS = [
    ("urn:g:x", "http://e/s1", "iri", "http://p/1", "http://e/o1", "iri", None, None),
    ("urn:g:x", "_:b0-1", "bnode", "http://p/2", "plain lit", "literal", None, None),
    ("urn:g:x", "http://e/s1", "iri", "http://p/3", "true", "literal", XSD_BOOLEAN, None),
    ("urn:g:x", "http://e/s1", "iri", "http://p/4", "42", "literal", XSD_INTEGER, None),
    ("urn:g:x", "http://e/s1", "iri", "http://p/5", "taal", "literal", None, "nl"),
    ("urn:g:x", "http://e/s1", "iri", "http://p/6", 'q"uote\\back\nline\ttab', "literal", None, None),
    ("urn:g:x", "http://e/s1", "iri", "http://p/7", "_:b0-9", "bnode", None, None),
]


def test_lines_match_python_serializer(spark):
    store = GraphStore(spark)
    store.insert_data(ROWS)
    got = sorted(r["value"] for r in to_ntriples_lines(store.quads()).collect())
    want = sorted(
        f"{term_to_nt(s, st)} <{p}> {term_to_nt(ov, ot, dt, lg)} ."
        for (_, s, st, p, ov, ot, dt, lg) in ROWS
    )
    assert got == want


def test_round_trip(spark, tmp_path):
    store = GraphStore(spark)
    store.insert_data(ROWS)
    path = str(tmp_path / "out.nt")
    write_ntriples(store.quads(), path)
    back = read_ntriples(spark, path, "urn:g:x")
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in ROWS}


# -- N-Quads ------------------------------------------------------------------


def test_nquads_roundtrip_preserves_graphs(spark, tmp_path):
    """Multi-graph store → N-Quads file → identical quad set back,
    including default-graph (NULL g) rows, lang/datatype literals,
    bnodes, and escaped characters."""
    from knowledge_graph_etl_spark.sources.ntriples import read_nquads, write_nquads
    from knowledge_graph_etl_spark.terms import QUAD_SCHEMA

    rows = [
        ("urn:g:a", "urn:s1", "iri", "urn:p:x", "urn:o1", "iri", None, None),
        ("urn:g:b", "urn:s1", "iri", "urn:p:y", "hello \"quoted\"\nline", "literal", None, None),
        ("urn:g:a", "_:b0", "bnode", "urn:p:z", "42", "literal",
         "http://www.w3.org/2001/XMLSchema#integer", None),
        ("urn:g:b", "urn:s2", "iri", "urn:p:l", "bonjour", "literal", None, "fr"),
        (None, "urn:s3", "iri", "urn:p:d", "default graph row", "literal", None, None),
        # blank-node GRAPH LABEL (N-Quads grammar: 4th term may be a
        # BLANK_NODE_LABEL) — must serialize verbatim, not as <_:g>
        ("_:g7", "urn:s4", "iri", "urn:p:e", "bnode graph row", "literal", None, None),
    ]
    quads = spark.createDataFrame(rows, QUAD_SCHEMA)
    path = str(tmp_path / "out.nq")
    write_nquads(quads, path)
    back = read_nquads(spark, path)
    want = {tuple(r) for r in quads.collect()}
    got = {tuple(r) for r in back.collect()}
    assert got == want


def test_nquads_default_graph_and_strict(spark, tmp_path):
    from knowledge_graph_etl_spark.sources.ntriples import read_nquads

    p = tmp_path / "in.nq"
    p.write_text(
        "<urn:s> <urn:p> \"v\" .\n"             # no graph term
        "<urn:s> <urn:p> <urn:o> <urn:g:x> .\n"  # explicit graph
        "# comment\n\n"
    )
    out = {(r["g"], r["o_value"]) for r in
           read_nquads(spark, str(p), default_graph="urn:g:dflt").collect()}
    assert out == {("urn:g:dflt", "v"), ("urn:g:x", "urn:o")}
    bad = tmp_path / "bad.nq"
    bad.write_text("<urn:s> not-a-predicate .\n")
    import pytest as _pytest

    with _pytest.raises(Exception, match="unparseable N-Quads"):
        read_nquads(spark, str(bad)).collect()
    # strict=False drops the bad line instead
    assert read_nquads(spark, str(bad), strict=False).count() == 0


def test_strict_ntriples_lazy_then_raises_on_action(spark, tmp_path):
    p = tmp_path / "bad.nt"
    p.write_text(
        "<urn:s:1> <urn:p:1> \"ok\" .\n"
        "this line is not a triple\n"
    )
    # construction must NOT raise (and must not run a validation job)
    df = read_ntriples(spark, str(p), graph="urn:g:x", strict=True)
    with pytest.raises(Exception, match="unparseable"):
        df.count()


def test_strict_ntriples_clean_file_loads(spark, tmp_path):
    p = tmp_path / "good.nt"
    p.write_text("<urn:s:1> <urn:p:1> \"ok\" .\n")
    df = read_ntriples(spark, str(p), graph="urn:g:x", strict=True)
    assert df.count() == 1
