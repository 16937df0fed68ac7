"""Regression tests for the round-2 ADVICE findings.

1. INSERT-template fresh-bnode row key must include the term-companion
   columns (__type/__dt/__lang), so lexically-equal solutions differing
   only in datatype/lang/term-type mint DISTINCT bnodes.
2. ``read_ntriples(strict=True)`` must stay lazy — no eager validation
   collect at construction; the malformed-line error fires at load time
   in the same scan.
3. ``read_postgres_json(key_col=...)`` keeps byte-identical duplicate
   rows distinct when the source has a primary key.
4. In-memory store consolidates its cached insert pieces past the
   threshold instead of growing the union plan without bound.
"""

import json

import pytest

from knowledge_graph_etl_spark.engine import Engine
from knowledge_graph_etl_spark.sources.jsonsrc import read_postgres_json
from knowledge_graph_etl_spark.sources.ntriples import read_ntriples
from knowledge_graph_etl_spark.store import GraphStore


# -- 1. bnode row key includes companion columns -----------------------------


def test_template_bnode_distinct_per_datatype(spark):
    """Two WHERE solutions agreeing on every lexical value but differing
    in the object's datatype must mint two distinct fresh bnodes."""
    engine = Engine(spark)
    engine.store.insert_data(
        [
            ("urn:g:in", "urn:s:1", "iri", "urn:p:src", "5", "literal", None, None),
            (
                "urn:g:in", "urn:s:1", "iri", "urn:p:src", "5", "literal",
                "http://www.w3.org/2001/XMLSchema#integer", None,
            ),
        ]
    )
    engine.update(
        """
        INSERT { GRAPH <urn:g:out> { _:b <urn:p:val> ?o } }
        USING <urn:g:in>
        WHERE { ?s <urn:p:src> ?o }
        """
    )
    out = engine.store.graph("urn:g:out").collect()
    assert len(out) == 2
    assert len({r["s"] for r in out}) == 2  # distinct bnodes, not one


# -- 2. strict N-Triples validation is lazy ----------------------------------


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


# -- 3. JDBC key_col keeps duplicate documents distinct ----------------------

DERBY_URL = "jdbc:derby:memory:kgadvice;create=true"


def test_jdbc_key_col_keeps_duplicates_distinct(spark):
    doc = json.dumps({"name": "same doc"})
    df = spark.createDataFrame([(1, doc), (2, doc)], "pk int, doc string")
    (
        df.write.format("jdbc")
        .option("url", DERBY_URL)
        .option("dbtable", "DUPDOCS")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .mode("overwrite")
        .save()
    )
    keyed = read_postgres_json(
        spark,
        DERBY_URL,
        schema="s", table="t", field="f",
        doc_query='(SELECT "pk" AS pk, "doc" AS json FROM DUPDOCS) src',
        key_col="pk",
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    rows = keyed.collect()
    assert len(rows) == 2
    assert {r["doc_id"] for r in rows} == {"1", "2"}
    # keyless fallback still collapses byte-identical duplicates
    keyless = read_postgres_json(
        spark,
        DERBY_URL,
        schema="s", table="t", field="f",
        doc_query='(SELECT "doc" AS json FROM DUPDOCS) src',
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    assert len({r["doc_id"] for r in keyless.collect()}) == 1


# -- 4. in-memory store piece consolidation ----------------------------------


def test_mem_store_consolidates_pieces(spark):
    store = GraphStore(spark)
    store._MEM_CONSOLIDATE_AT = 4  # keep the test fast
    for i in range(6):
        store.insert_data(
            [("urn:g:m", f"urn:s:{i}", "iri", "urn:p:x", str(i), "literal", None, None)]
        )
    # pieces folded at 4, then two more appended: never unbounded
    assert len(store._mem_pieces) <= 3
    assert store.quads().count() == 6
    # contents intact after consolidation
    assert {r["s"] for r in store.quads().collect()} == {
        f"urn:s:{i}" for i in range(6)
    }
