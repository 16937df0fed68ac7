"""JDBC source contract test (SURVEY.md §2 op 1).

No Postgres in this container, so the JDBC *wiring* (url/dbtable/
fetchsize options, doc_id projection, downstream direct-mapping
compatibility) is exercised against the embedded Derby engine that ships
on Spark's classpath; the Postgres-specific subquery text is verified
separately against the reference's cursor SELECT shape
(load_knowledge_graph.py:62-63)."""

import json

import pytest

from knowledge_graph_etl_spark.sources.jsonsrc import (
    postgres_doc_query,
    read_postgres_json,
)

DERBY_URL = "jdbc:derby:memory:kgtest;create=true"
DOCS = [
    {"id": 1, "name": "org one", "tags": ["a", "b"]},
    {"id": 2, "name": "org two", "address": {"city": "Ghent"}},
    {"id": 3, "name": "org three"},
]


def test_postgres_query_matches_reference_cursor_shape():
    q = postgres_doc_query("tl_users", "tl_content", "content")
    # per-row mode of _get_cursor: SELECT (table.field)::text FROM schema.table
    assert q == (
        "(SELECT (tl_content.content)::text AS json "
        "FROM tl_users.tl_content) src"
    )


@pytest.fixture(scope="module")
def derby_docs(spark):
    rows = [(i, json.dumps(d)) for i, d in enumerate(DOCS)]
    df = spark.createDataFrame(rows, "pk int, doc string")
    (
        df.write.format("jdbc")
        .option("url", DERBY_URL)
        .option("dbtable", "DOCS")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .mode("overwrite")
        .save()
    )
    return rows


def test_jdbc_roundtrip_with_fetchsize_and_projection(spark, derby_docs):
    out = read_postgres_json(
        spark,
        DERBY_URL,
        schema="ignored",
        table="ignored",
        field="ignored",
        fetchsize=2,  # exercised: Derby rejects invalid fetch sizes per JDBC
        doc_query='(SELECT "doc" AS json FROM DOCS) src',
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    assert out.columns == ["doc_id", "json"]
    rows = out.collect()
    assert len(rows) == len(DOCS)
    assert len({r["doc_id"] for r in rows}) == len(DOCS)  # distinct ids
    got = sorted(json.loads(r["json"])["name"] for r in rows)
    assert got == ["org one", "org three", "org two"]


def test_jdbc_docs_feed_direct_mapping(spark, derby_docs):
    """End-to-end: JDBC docs → JSON→triples direct mapping (the reference's
    extract_and_insert path, load_knowledge_graph.py:269-323)."""
    from knowledge_graph_etl_spark.ingest import json_to_quads

    docs = read_postgres_json(
        spark,
        DERBY_URL,
        schema="s",
        table="t",
        field="f",
        doc_query='(SELECT "doc" AS json FROM DOCS) src',
        driver="org.apache.derby.jdbc.EmbeddedDriver",
    )
    quads = json_to_quads(docs, "urn:g:jdbc", namespace="urn:p:")
    vals = {(r["p"], r["o_value"]) for r in quads.collect()}
    assert ("urn:p:name", "org one") in vals
    assert ("urn:p:city", "Ghent") in vals


def test_jdbc_partitioned_parallel_read(spark, derby_docs):
    """The 100 TB-scan shape: partitionColumn/numPartitions split the scan
    into concurrent range-bounded JDBC queries (vs the reference's single
    10k-row cursor, load_knowledge_graph.py:60-79). Options pass through
    read_postgres_json verbatim; every row arrives exactly once and the
    scan really has numPartitions input splits."""
    out = read_postgres_json(
        spark,
        DERBY_URL,
        schema="s",
        table="t",
        field="f",
        key_col="pk",
        doc_query='(SELECT "pk", "doc" AS json FROM DOCS) src',
        driver="org.apache.derby.jdbc.EmbeddedDriver",
        partitionColumn="pk",
        numPartitions="3",
        lowerBound="0",
        upperBound="3",
    )
    assert out.rdd.getNumPartitions() == 3
    rows = out.collect()
    assert sorted(r["doc_id"] for r in rows) == ["0", "1", "2"]
    assert len(rows) == len(DOCS)  # range split: no dup, no loss


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
