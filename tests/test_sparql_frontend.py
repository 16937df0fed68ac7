"""SPARQL-Update front end: parser unit tests + compiled-semantics tests.

The parser/compiler must run the reference's own query files verbatim
(reference airflow_files/dags/sparql/*.sparql); the semantic cases here
cover the grammar features those queries exercise (SURVEY.md §2.3, §7
Phase 3 hard parts: bnode desugaring, nested OPTIONAL scoping,
BIND-in-OPTIONAL, term typing through expressions).
"""

import os

import pytest
from pyspark.sql import functions as F

from knowledge_graph_etl_spark.engine import Engine
from knowledge_graph_etl_spark.plans.parser import (
    GraphDDL,
    InsertData,
    InsertWhere,
    parse_update,
)

REF_SPARQL_DIR = "/root/reference/airflow_files/dags/sparql"

NS = "urn:ns/"


def eng_with(spark, quad_rows):
    eng = Engine(spark)
    eng.store.insert_data(quad_rows)
    return eng


def rows(df):
    return {tuple(r) for r in df.collect()}


# -- parser ----------------------------------------------------------------


def test_parse_all_reference_files():
    if not os.path.isdir(REF_SPARQL_DIR):
        pytest.skip("reference checkout not available")
    for fname in sorted(os.listdir(REF_SPARQL_DIR)):
        node = parse_update(open(os.path.join(REF_SPARQL_DIR, fname)).read())
        assert isinstance(node, InsertWhere)
        assert node.template
        assert node.using
        assert node.target_graph or all(g for g, _ in node.template)


def test_parse_ddl():
    node = parse_update("CLEAR SILENT GRAPH <urn:g:x>")
    assert node == GraphDDL("clear", "urn:g:x", True)
    node = parse_update("DROP GRAPH <urn:g:y>")
    assert node == GraphDDL("drop", "urn:g:y", False)


def test_parse_insert_data_typed():
    node = parse_update(
        """
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        INSERT DATA { GRAPH <urn:g> {
          <urn:s> <urn:p> "v"; <urn:q> "3"^^xsd:integer, "x"@nl.
        } }
        """
    )
    assert isinstance(node, InsertData)
    assert len(node.quads) == 3
    (g1, t1), (g2, t2), (g3, t3) = node.quads
    assert g1 == g2 == g3 == "urn:g"
    assert t1.o.value == "v" and t1.o.datatype is None
    assert t2.o.datatype == "http://www.w3.org/2001/XMLSchema#integer"
    assert t3.o.lang == "nl"


def test_parse_bnode_property_list_desugar():
    node = parse_update(
        """
        INSERT { ?o <urn:t> ?v } USING <urn:g> WHERE {
          ?o <urn:cf> [ <urn:value> ?v; <urn:def> [ <urn:id> ?d ] ].
        }
        """
    )
    pats = node.where.elements
    assert len(pats) == 4  # o→cf→b1, b1→value, b1→def→b2, b2→id
    names = {t.name for p in pats for t in (p.s, p.o) if hasattr(t, "name")}
    anon = {n for n in names if n.startswith("_anon_")}
    assert len(anon) == 2
    assert not any("__" in n for n in anon)  # must be joinable variables


# -- compiled semantics ----------------------------------------------------


def _quads(*rows_):
    """(s, p, o) or (s, p, o, datatype) → constant quad rows in urn:g."""
    out = []
    for r in rows_:
        s, p, o = r[0], r[1], r[2]
        dt = r[3] if len(r) > 3 else None
        sty = "bnode" if s.startswith("_:") else "iri"
        if o.startswith("urn:") or o.startswith("_:"):
            ty = "bnode" if o.startswith("_:") else "iri"
            out.append(("urn:g", s, sty, p, o, ty, None, None))
        else:
            out.append(("urn:g", s, sty, p, o, "literal", dt, None))
    return out


def test_insert_where_star_bind_md5(spark):
    eng = eng_with(
        spark,
        _quads(
            ("urn:a", NS + "objectClass", "organization"),
            ("urn:a", NS + "o", "OR-1"),
            ("urn:b", NS + "objectClass", "other"),
            ("urn:b", NS + "o", "OR-2"),
        ),
    )
    eng.update(
        f"""
        PREFIX source: <{NS}>
        WITH <urn:out>
        INSERT {{ ?org a <urn:Org>; <urn:id> ?orid. }}
        USING <urn:g>
        WHERE {{
          ?x source:objectClass "organization"; source:o ?orid.
          BIND (URI(CONCAT('urn:org/', MD5(?orid))) AS ?org)
        }}
        """
    )
    out = eng.store.graph("urn:out")
    got = rows(out.select("s", "p", "o_value", "o_type"))
    import hashlib

    h = "urn:org/" + hashlib.md5(b"OR-1").hexdigest()
    assert got == {
        (h, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "urn:Org", "iri"),
        (h, "urn:id", "OR-1", "literal"),
    }


def test_optional_unbound_skips_template_triple(spark):
    eng = eng_with(
        spark,
        _quads(
            ("urn:a", NS + "name", "A"),
            ("urn:a", NS + "street", "Main 1"),
            ("urn:b", NS + "name", "B"),
        ),
    )
    eng.update(
        f"""
        PREFIX source: <{NS}>
        WITH <urn:out>
        INSERT {{ ?x <urn:label> ?n. ?x <urn:addr> ?street. }}
        USING <urn:g>
        WHERE {{
          ?x source:name ?n.
          OPTIONAL {{ ?x source:street ?street }}
        }}
        """
    )
    got = rows(eng.store.graph("urn:out").select("s", "p", "o_value"))
    assert got == {
        ("urn:a", "urn:label", "A"),
        ("urn:a", "urn:addr", "Main 1"),
        ("urn:b", "urn:label", "B"),
    }


def test_nested_correlated_optional(spark):
    # mirrors sparql/tl_companies_mapping_contactpoint.sparql:44-54 —
    # inner OPTIONAL correlates on the OUTER optional's ?etype
    eng = eng_with(
        spark,
        _quads(
            ("urn:c1", NS + "emails", "_:e1"),
            ("_:e1", NS + "type", "primary"),
            ("_:e1", NS + "email", "a@x"),
            ("urn:c1", NS + "emails", "_:e2"),
            ("_:e2", NS + "type", "support"),
            ("_:e2", NS + "email", "b@x"),
            ("urn:c1", NS + "telephones", "_:t1"),
            ("_:t1", NS + "type", "primary"),
            ("_:t1", NS + "number", "+32"),
        ),
    )
    df = eng.plan(
        f"""
        PREFIX source: <{NS}>
        WITH <urn:out>
        INSERT {{ ?c <urn:mail> ?email. ?c <urn:tel> ?tel. }}
        USING <urn:g>
        WHERE {{
          OPTIONAL {{
            ?c source:emails ?e.
            ?e source:type ?etype; source:email ?email
            OPTIONAL {{
              ?c source:telephones ?t.
              ?t source:type ?etype; source:number ?tel
            }}
          }}
        }}
        """
    )
    got = rows(df.select("s", "p", "o_value"))
    # primary email pairs with primary phone; support email has none
    assert got == {
        ("urn:c1", "urn:mail", "a@x"),
        ("urn:c1", "urn:mail", "b@x"),
        ("urn:c1", "urn:tel", "+32"),
    }


def test_bind_inside_optional_scope(spark):
    # sparql/tl_companies_mapping_classification.sparql:38 — BIND inside
    # OPTIONAL only applies to matched rows
    eng = eng_with(
        spark,
        _quads(
            ("urn:a", NS + "id", "A"),
            ("urn:a", NS + "class", "1 - Cultuur organisatie"),
            ("urn:b", NS + "id", "B"),
        ),
    )
    df = eng.plan(
        f"""
        PREFIX source: <{NS}>
        WITH <urn:out>
        INSERT {{ ?x <urn:cls> ?cls. ?x <urn:seen> "y". }}
        USING <urn:g>
        WHERE {{
          ?x source:id ?i.
          OPTIONAL {{
            ?x source:class ?c.
            BIND (URI(CONCAT('urn:t/', LCASE(REPLACE(STRAFTER(?c, ' - '), ' ', '_')))) AS ?cls)
          }}
        }}
        """
    )
    got = rows(df.select("s", "o_value", "o_type"))
    assert ("urn:a", "urn:t/cultuur_organisatie", "iri") in got
    assert ("urn:a", "y", "literal") in got
    assert ("urn:b", "y", "literal") in got
    assert not any(s == "urn:b" and t == "iri" for s, _, t in got)


def test_if_bound_default_typed_literal(spark):
    # sparql/tl_companies_mapping_overlay.sparql:48-49
    eng = eng_with(
        spark,
        _quads(
            ("urn:a", NS + "id", "A"),
            ("urn:a", NS + "flag", "true", "http://www.w3.org/2001/XMLSchema#boolean"),
            ("urn:b", NS + "id", "B"),
        ),
    )
    df = eng.plan(
        f"""
        PREFIX source: <{NS}>
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        WITH <urn:out>
        INSERT {{ ?x <urn:flag> ?v. }}
        USING <urn:g>
        WHERE {{
          ?x source:id ?i.
          OPTIONAL {{ ?x source:flag ?f. }}
          BIND (IF(BOUND(?f), ?f, "false"^^xsd:boolean) AS ?v)
        }}
        """
    )
    got = rows(df.select("s", "o_value", "o_datatype"))
    xsd_b = "http://www.w3.org/2001/XMLSchema#boolean"
    assert got == {("urn:a", "true", xsd_b), ("urn:b", "false", xsd_b)}


def test_strlang_graph_template(spark):
    eng = eng_with(spark, _quads(("urn:a", NS + "d", "hallo")))
    eng.update(
        f"""
        PREFIX source: <{NS}>
        INSERT {{ GRAPH <urn:out> {{ ?x <urn:desc> ?l. }} }}
        USING <urn:g>
        WHERE {{ ?x source:d ?d. BIND (STRLANG(?d, "nl") AS ?l) }}
        """
    )
    got = rows(eng.store.graph("urn:out").select("o_value", "o_lang"))
    assert got == {("hallo", "nl")}


def test_insert_idempotent_set_semantics(spark):
    eng = eng_with(spark, _quads(("urn:a", NS + "name", "A")))
    q = f"""
        PREFIX source: <{NS}>
        WITH <urn:out>
        INSERT {{ ?x <urn:label> ?n. }}
        USING <urn:g>
        WHERE {{ ?x source:name ?n. }}
    """
    eng.update(q)
    first = sorted(map(tuple, eng.store.graph("urn:out").collect()))
    eng.update(q)
    second = sorted(map(tuple, eng.store.graph("urn:out").collect()))
    assert first == second and len(first) == 1


def test_clear_and_drop(spark):
    eng = eng_with(spark, _quads(("urn:a", NS + "name", "A")))
    assert eng.store.graph("urn:g").count() == 1
    eng.update("CLEAR SILENT GRAPH <urn:g>")
    assert eng.store.graph("urn:g").count() == 0
    eng.update("CLEAR SILENT GRAPH <urn:never-existed>")  # silent: no error
    eng.update("DROP SILENT GRAPH <urn:g>")


def test_insert_data_execute(spark):
    eng = Engine(spark)
    eng.update(
        """
        PREFIX prov: <http://www.w3.org/ns/prov#>
        PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>
        INSERT DATA { GRAPH <urn:prov> {
            <urn:result> prov:wasDerivedFrom <urn:src1>, <urn:src2>;
                         prov:startedAtTime "2024-01-01T00:00:00"^^xsd:dateTime.
        } }
        """
    )
    got = rows(eng.store.graph("urn:prov").select("p", "o_value", "o_type"))
    assert ("http://www.w3.org/ns/prov#wasDerivedFrom", "urn:src1", "iri") in got
    assert ("http://www.w3.org/ns/prov#wasDerivedFrom", "urn:src2", "iri") in got
    assert any(v == "2024-01-01T00:00:00" for _, v, _ in got)


def test_star_rewrite_ab_equivalence(spark):
    """The property-table star rewrite (compiler.STAR_REWRITE_MIN) must be
    binding-equivalent to the plain join path on a reference-shaped query
    (multi-star + chain + OPTIONAL + multi-valued predicate)."""
    from knowledge_graph_etl_spark.plans import compiler

    quad_rows = _quads(
        ("urn:a", NS + "objectClass", "organization"),
        ("urn:a", NS + "o", "OR-1"),
        ("urn:a", NS + "label", "first"),
        ("urn:a", NS + "label", "second"),  # multi-valued
        ("urn:a", NS + "unit", "urn:u1"),
        ("urn:u1", NS + "name", "Unit One"),
        ("urn:b", NS + "objectClass", "organization"),
        ("urn:b", NS + "o", "OR-2"),
        ("urn:b", NS + "label", "only"),
        ("urn:c", NS + "objectClass", "other"),
        ("urn:c", NS + "o", "OR-3"),
        ("urn:c", NS + "label", "nope"),
    )
    query = f"""
        PREFIX source: <{NS}>
        WITH <urn:out>
        INSERT {{ ?x <urn:id> ?orid. ?x <urn:lbl> ?lab. ?x <urn:un> ?uname. }}
        USING <urn:g>
        WHERE {{
          ?x source:objectClass "organization"; source:o ?orid;
             source:label ?lab.
          OPTIONAL {{ ?x source:unit ?u. ?u source:name ?uname. }}
        }}
        """
    results = {}
    for mode in (2, 0):
        old = compiler.STAR_REWRITE_MIN
        compiler.STAR_REWRITE_MIN = mode
        try:
            eng = eng_with(spark, quad_rows)
            eng.update(query)
            results[mode] = rows(eng.store.graph("urn:out").select("s", "p", "o_value"))
        finally:
            compiler.STAR_REWRITE_MIN = old
    assert results[2] == results[0]
    assert ("urn:a", "urn:lbl", "second") in results[2]
    assert ("urn:a", "urn:un", "Unit One") in results[2]
    assert ("urn:b", "urn:id", "OR-2") in results[2]


# -- read path: SELECT / ASK ----------------------------------------------


SEL_ROWS = [
    ("urn:g:a", "urn:s:1", "iri", "urn:p:name", "alice", "literal", None, None),
    ("urn:g:a", "urn:s:1", "iri", "urn:p:age", "31", "literal",
     "http://www.w3.org/2001/XMLSchema#integer", None),
    ("urn:g:a", "urn:s:2", "iri", "urn:p:name", "bob", "literal", None, None),
    ("urn:g:a", "urn:s:3", "iri", "urn:p:name", "carol", "literal", None, None),
    ("urn:g:a", "urn:s:3", "iri", "urn:p:age", "27", "literal",
     "http://www.w3.org/2001/XMLSchema#integer", None),
    ("urn:g:b", "urn:s:9", "iri", "urn:p:name", "zoe", "literal", None, None),
]


def test_select_projection_and_from(spark):
    eng = eng_with(spark, SEL_ROWS)
    out = eng.select(
        "SELECT ?s ?name FROM <urn:g:a> WHERE { ?s <urn:p:name> ?name }"
    )
    assert out.columns == ["s", "name"]
    assert rows(out) == {
        ("urn:s:1", "alice"), ("urn:s:2", "bob"), ("urn:s:3", "carol")
    }


def test_select_star_optional_order_limit(spark):
    eng = eng_with(spark, SEL_ROWS)
    out = eng.select(
        """
        SELECT * FROM <urn:g:a> WHERE {
          ?s <urn:p:name> ?name .
          OPTIONAL { ?s <urn:p:age> ?age }
        } ORDER BY DESC(?name) LIMIT 2
        """
    )
    assert sorted(out.columns) == ["age", "name", "s"]
    got = [(r["name"], r["age"]) for r in out.collect()]
    assert got == [("carol", "27"), ("bob", None)]


def test_select_distinct_and_expr_projection(spark):
    eng = eng_with(spark, SEL_ROWS)
    out = eng.select(
        """
        SELECT DISTINCT (CONCAT('x-', ?name) AS ?tag)
        WHERE { ?s <urn:p:name> ?name } ORDER BY ?tag OFFSET 1 LIMIT 2
        """
    )
    assert [r["tag"] for r in out.collect()] == ["x-bob", "x-carol"]


def test_select_distinct_is_term_aware(spark):
    """Two solutions whose VALUES tie but whose datatypes differ are
    distinct SPARQL solutions — DISTINCT must not merge them."""
    eng = eng_with(spark, [
        ("urn:g:a", "urn:s:1", "iri", "urn:p:v", "42", "literal", None, None),
        ("urn:g:a", "urn:s:2", "iri", "urn:p:v", "42", "literal",
         "http://www.w3.org/2001/XMLSchema#integer", None),
    ])
    out = eng.select("SELECT DISTINCT ?v WHERE { ?s <urn:p:v> ?v }")
    assert out.count() == 2
    out_t = eng.select(
        "SELECT DISTINCT ?v WHERE { ?s <urn:p:v> ?v }", with_terms=True
    )
    assert "v__dt" in out_t.columns


def test_select_unprojected_unbound_var(spark):
    eng = eng_with(spark, SEL_ROWS)
    out = eng.select("SELECT ?s ?nope FROM <urn:g:a> WHERE { ?s <urn:p:name> ?name }")
    assert out.columns == ["s", "nope"]
    assert all(r["nope"] is None for r in out.collect())


def test_ask(spark):
    eng = eng_with(spark, SEL_ROWS)
    assert eng.ask("ASK { ?s <urn:p:name> \"alice\" }") is True
    assert eng.ask("ASK FROM <urn:g:b> { ?s <urn:p:name> \"alice\" }") is False
    assert eng.ask("ASK WHERE { ?s <urn:p:age> ?a }") is True


def test_select_rejects_update_and_vice_versa(spark):
    eng = eng_with(spark, SEL_ROWS)
    with pytest.raises(SyntaxError):
        eng.select("INSERT DATA { GRAPH <urn:g> { <a> <b> <c> } }")
    with pytest.raises(SyntaxError):
        eng.update("SELECT ?s WHERE { ?s ?p ?o }")


# -- DELETE forms ----------------------------------------------------------


@pytest.mark.parametrize("mode", ["mem", "parquet"])
def test_delete_data(spark, tmp_path, mode):
    eng = Engine(spark, str(tmp_path / "q") if mode == "parquet" else None)
    eng.store.insert_data(SEL_ROWS)
    eng.update(
        'DELETE DATA { GRAPH <urn:g:a> { <urn:s:2> <urn:p:name> "bob" } }'
    )
    assert rows(eng.select("SELECT ?name FROM <urn:g:a> WHERE { ?s <urn:p:name> ?name }")) == {
        ("alice",), ("carol",)
    }
    # graph b untouched
    assert eng.ask("ASK FROM <urn:g:b> { ?s <urn:p:name> \"zoe\" }")
    # deleting an absent quad is a no-op
    eng.update(
        'DELETE DATA { GRAPH <urn:g:a> { <urn:s:2> <urn:p:name> "bob" } }'
    )
    assert eng.store.graph("urn:g:a").count() == 4


@pytest.mark.parametrize("mode", ["mem", "parquet"])
def test_delete_where_shortcut(spark, tmp_path, mode):
    eng = Engine(spark, str(tmp_path / "q") if mode == "parquet" else None)
    eng.store.insert_data(SEL_ROWS)
    # drop every age triple in graph a
    eng.update("DELETE WHERE { GRAPH <urn:g:a> { ?s <urn:p:age> ?v } }")
    assert eng.store.graph("urn:g:a").count() == 3
    assert not eng.ask("ASK { ?s <urn:p:age> ?v }")


def test_delete_insert_modify(spark):
    """WITH <g> DELETE { t } INSERT { t } WHERE — both templates see the
    pre-modification bindings (rename a predicate in place)."""
    eng = eng_with(spark, SEL_ROWS)
    eng.update(
        """
        WITH <urn:g:a>
        DELETE { ?s <urn:p:name> ?n }
        INSERT { ?s <urn:p:label> ?n }
        WHERE { ?s <urn:p:name> ?n }
        """
    )
    assert not eng.ask("ASK FROM <urn:g:a> { ?s <urn:p:name> ?n }")
    assert rows(eng.select("SELECT ?n FROM <urn:g:a> WHERE { ?s <urn:p:label> ?n }")) == {
        ("alice",), ("bob",), ("carol",)
    }
    # graph b's name triples are out of scope of WITH
    assert eng.ask("ASK FROM <urn:g:b> { ?s <urn:p:name> ?n }")


def test_delete_using_where_join(spark):
    """DELETE with USING: delete target rows justified by a cross-graph
    join (ages of people whose name exists in graph b)."""
    eng = eng_with(spark, SEL_ROWS + [
        ("urn:g:b", "urn:s:9", "iri", "urn:p:same", "alice", "literal", None, None),
    ])
    eng.update(
        """
        DELETE { GRAPH <urn:g:a> { ?s <urn:p:age> ?a } }
        USING <urn:g:a>
        USING <urn:g:b>
        WHERE { ?s <urn:p:name> ?n . ?x <urn:p:same> ?n . ?s <urn:p:age> ?a }
        """
    )
    # only alice's age (s:1) deleted; carol's survives
    assert rows(eng.select("SELECT ?s FROM <urn:g:a> WHERE { ?s <urn:p:age> ?a }")) == {
        ("urn:s:3",)
    }


def test_delete_template_bnode_rejected():
    with pytest.raises(SyntaxError, match="blank node"):
        parse_update("DELETE { GRAPH <urn:g> { ?s <urn:p> [] } } WHERE { ?s <urn:p> ?o }")
    with pytest.raises(SyntaxError, match="blank node"):
        parse_update('DELETE DATA { GRAPH <urn:g> { _:b <urn:p> "x" } }')


def test_delete_where_multi_graph_rejected():
    with pytest.raises(SyntaxError, match="GRAPH blocks"):
        parse_update(
            "DELETE WHERE { GRAPH <urn:a> { ?s <urn:p> ?o } GRAPH <urn:b> { ?s <urn:q> ?o } }"
        )


# -- read-side CONSTRUCT -------------------------------------------------------


def test_construct_query_returns_quads(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store.insert_data(
        [
            ("urn:g:in", "urn:s:1", "iri", "urn:p:name", "alice", "literal", None, None),
            ("urn:g:in", "urn:s:2", "iri", "urn:p:nick", "bb", "literal", None, None),
        ]
    )
    out = eng.construct_query(
        """
        CONSTRUCT { ?s <urn:o:label> ?n .
                    GRAPH <urn:g:x> { ?s <urn:o:seen> "y" } }
        FROM <urn:g:in>
        WHERE { ?s <urn:p:name> ?n }
        """
    ).collect()
    # only s:1 matches; template yields one default-graph + one GRAPH triple
    got = {(r["g"], r["s"], r["p"], r["o_value"]) for r in out}
    assert got == {
        (None, "urn:s:1", "urn:o:label", "alice"),
        ("urn:g:x", "urn:s:1", "urn:o:seen", "y"),
    }
    # store unchanged: CONSTRUCT is read-only
    assert eng.store.quads().count() == 2


def test_construct_query_unbound_skip_and_bnodes(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store.insert_data(
        [
            ("urn:g:in", "urn:s:1", "iri", "urn:p:name", "a", "literal", None, None),
            ("urn:g:in", "urn:s:1", "iri", "urn:p:mail", "m", "literal", None, None),
            ("urn:g:in", "urn:s:2", "iri", "urn:p:name", "b", "literal", None, None),
        ]
    )
    out = eng.construct_query(
        """
        CONSTRUCT { ?s <urn:o:mail> ?m . [ <urn:o:of> ?s ] . }
        FROM <urn:g:in>
        WHERE { ?s <urn:p:name> ?n OPTIONAL { ?s <urn:p:mail> ?m } }
        """
    ).collect()
    mails = [r for r in out if r["p"] == "urn:o:mail"]
    assert len(mails) == 1 and mails[0]["s"] == "urn:s:1"  # unbound ?m skipped
    anons = [r for r in out if r["p"] == "urn:o:of"]
    assert len(anons) == 2  # one fresh bnode per solution
    assert all(r["s_type"] == "bnode" for r in anons)
    assert len({r["s"] for r in anons}) == 2


def test_construct_query_rejects_wrong_form(spark):
    from knowledge_graph_etl_spark.engine import Engine

    with pytest.raises(ValueError, match="CONSTRUCT"):
        Engine(spark).construct_query("SELECT ?s WHERE { ?s <urn:p> ?o }")


# -- negation: FILTER (NOT) EXISTS / MINUS -----------------------------------


def _neg_engine(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store.insert_data(
        [
            ("urn:g:n", "urn:s:1", "iri", "urn:p:name", "a", "literal", None, None),
            ("urn:g:n", "urn:s:2", "iri", "urn:p:name", "b", "literal", None, None),
            ("urn:g:n", "urn:s:1", "iri", "urn:p:flag", "y", "literal", None, None),
        ]
    )
    return eng


def test_filter_exists_and_not_exists(spark):
    eng = _neg_engine(spark)
    q = "SELECT ?s FROM <urn:g:n> WHERE {{ ?s <urn:p:name> ?n FILTER {} EXISTS {{ ?s <urn:p:flag> ?f }} }}"
    assert {r["s"] for r in eng.select(q.format("")).collect()} == {"urn:s:1"}
    assert {r["s"] for r in eng.select(q.format("NOT")).collect()} == {"urn:s:2"}


def test_minus_shared_and_disjoint(spark):
    eng = _neg_engine(spark)
    got = {r["s"] for r in eng.select(
        'SELECT ?s FROM <urn:g:n> WHERE { ?s <urn:p:name> ?n MINUS { ?s <urn:p:flag> "y" } }'
    ).collect()}
    assert got == {"urn:s:2"}
    # disjoint-domain MINUS removes NOTHING (the spec's observable
    # difference vs NOT EXISTS, which would remove everything here)
    got2 = {r["s"] for r in eng.select(
        'SELECT ?s FROM <urn:g:n> WHERE { ?s <urn:p:name> ?n MINUS { ?x <urn:p:flag> "y" } }'
    ).collect()}
    assert got2 == {"urn:s:1", "urn:s:2"}
    got3 = {r["s"] for r in eng.select(
        'SELECT ?s FROM <urn:g:n> WHERE { ?s <urn:p:name> ?n FILTER NOT EXISTS { ?x <urn:p:flag> "y" } }'
    ).collect()}
    assert got3 == set()


# -- UNION / VALUES / variable predicates ------------------------------------


def test_union_groups(spark):
    eng = _neg_engine(spark)
    got = {(r["s"], r["o"]) for r in eng.select(
        """SELECT ?s ?o FROM <urn:g:n> WHERE {
             { ?s <urn:p:name> ?o } UNION { ?s <urn:p:flag> ?o } }"""
    ).collect()}
    assert got == {
        ("urn:s:1", "a"), ("urn:s:2", "b"), ("urn:s:1", "y"),
    }


def test_union_unshared_var_unbound(spark):
    eng = _neg_engine(spark)
    rows = eng.select(
        """SELECT ?s ?n ?f FROM <urn:g:n> WHERE {
             { ?s <urn:p:name> ?n } UNION { ?s <urn:p:flag> ?f } }"""
    ).collect()
    by = [(r["s"], r["n"], r["f"]) for r in rows]
    assert ("urn:s:1", "a", None) in by and ("urn:s:1", None, "y") in by


def test_values_single_and_multi(spark):
    eng = _neg_engine(spark)
    got = {r["s"] for r in eng.select(
        """SELECT ?s FROM <urn:g:n> WHERE {
             ?s <urn:p:name> ?n VALUES ?n { "a" "zzz" } }"""
    ).collect()}
    assert got == {"urn:s:1"}
    got2 = {(r["s"], r["n"]) for r in eng.select(
        """SELECT ?s ?n FROM <urn:g:n> WHERE {
             ?s <urn:p:name> ?n
             VALUES (?s ?n) { (<urn:s:1> "a") (<urn:s:2> "WRONG") } }"""
    ).collect()}
    assert got2 == {("urn:s:1", "a")}  # the mismatched pair joins nothing


def test_variable_predicate(spark):
    eng = _neg_engine(spark)
    got = {(r["p"], r["o"]) for r in eng.select(
        "SELECT ?p ?o FROM <urn:g:n> WHERE { <urn:s:1> ?p ?o }"
    ).collect()}
    assert got == {("urn:p:name", "a"), ("urn:p:flag", "y")}


# -- SELECT aggregates -------------------------------------------------------


def _agg_engine(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store.insert_data(
        [
            ("urn:g:agg", "urn:s:1", "iri", "urn:p:seg", "X", "literal", None, None),
            ("urn:g:agg", "urn:s:1", "iri", "urn:p:v", "2.5", "literal", None, None),
            ("urn:g:agg", "urn:s:2", "iri", "urn:p:seg", "X", "literal", None, None),
            ("urn:g:agg", "urn:s:2", "iri", "urn:p:v", "1.5", "literal", None, None),
            ("urn:g:agg", "urn:s:3", "iri", "urn:p:seg", "Y", "literal", None, None),
            ("urn:g:agg", "urn:s:3", "iri", "urn:p:v", "oops", "literal", None, None),
        ]
    )
    return eng


def test_group_by_aggregates(spark):
    eng = _agg_engine(spark)
    rows = {r["seg"]: r for r in eng.select(
        """SELECT ?seg (COUNT(*) AS ?n) (SUM(?v) AS ?total) (AVG(?v) AS ?mean)
           FROM <urn:g:agg>
           WHERE { ?c <urn:p:seg> ?seg . ?c <urn:p:v> ?v } GROUP BY ?seg"""
    ).collect()}
    assert rows["X"]["n"] == 2 and rows["X"]["total"] == 4.0
    assert rows["X"]["mean"] == 2.0
    # non-numeric lexical value -> NULL -> ignored by SUM (SPARQL
    # error-ignoring aggregates); COUNT(*) still counts the row
    assert rows["Y"]["n"] == 1 and rows["Y"]["total"] is None


def test_global_aggregate_and_count_distinct(spark):
    eng = _agg_engine(spark)
    row = eng.select(
        """SELECT (COUNT(*) AS ?n) (COUNT(DISTINCT ?seg) AS ?nseg)
           FROM <urn:g:agg> WHERE { ?c <urn:p:seg> ?seg }"""
    ).collect()
    assert len(row) == 1 and row[0]["n"] == 3 and row[0]["nseg"] == 2


def test_group_by_rejects_unaggregated_projection(spark):
    eng = _agg_engine(spark)
    with pytest.raises(Exception, match="GROUP BY"):
        eng.select(
            """SELECT ?seg ?c (COUNT(*) AS ?n) FROM <urn:g:agg>
               WHERE { ?c <urn:p:seg> ?seg } GROUP BY ?seg"""
        ).collect()


# -- subqueries --------------------------------------------------------------


def test_subselect_joins_outer(spark):
    eng = _agg_engine(spark)
    got = {(r["seg"], r["n"], r["c"]) for r in eng.select(
        """SELECT ?seg ?n ?c FROM <urn:g:agg> WHERE {
             { SELECT ?seg (COUNT(*) AS ?n) WHERE { ?x <urn:p:seg> ?seg }
               GROUP BY ?seg }
             ?c <urn:p:seg> ?seg .
           }"""
    ).collect()}
    assert got == {
        ("X", 2, "urn:s:1"), ("X", 2, "urn:s:2"), ("Y", 1, "urn:s:3"),
    }


def test_subselect_limit_scopes_inside(spark):
    eng = _agg_engine(spark)
    rows = eng.select(
        """SELECT ?seg FROM <urn:g:agg> WHERE {
             { SELECT ?seg WHERE { ?x <urn:p:seg> ?seg } ORDER BY ?seg LIMIT 1 }
           }"""
    ).collect()
    # inner LIMIT 1 after ORDER: only the lexically-first seg value rows
    assert {r["seg"] for r in rows} == {"X"}


def test_subselect_rejects_from(spark):
    from knowledge_graph_etl_spark.plans.parser import parse_query

    with pytest.raises(SyntaxError, match="FROM"):
        parse_query(
            "SELECT ?s WHERE { { SELECT ?s FROM <urn:g> WHERE { ?s ?p ?o } } }"
        )


# -- review-fix regressions (round-3 second review) ---------------------------


def test_values_undef_matches_any_binding(spark):
    eng = _neg_engine(spark)
    got = [(r["s"], r["n"]) for r in eng.select(
        """SELECT ?s ?n FROM <urn:g:n> WHERE {
             ?s <urn:p:name> ?n
             VALUES (?s ?n) { (<urn:s:1> UNDEF) } }"""
    ).collect()]
    assert got == [("urn:s:1", "a")]


def test_union_unbound_var_merges_with_later_pattern(spark):
    eng = _neg_engine(spark)
    rows = {(r["s"], r["n"], r["t"]) for r in eng.select(
        """SELECT ?s ?n ?t FROM <urn:g:n> WHERE {
             { ?s <urn:p:name> ?n . BIND("A" AS ?t) }
             UNION { ?s <urn:p:flag> "y" . BIND("B" AS ?t) }
             ?s <urn:p:name> ?n . }"""
    ).collect()}
    # the flag branch leaves ?n unbound; SPARQL compatible-merge lets it
    # take the ?n the trailing pattern binds
    assert rows == {
        ("urn:s:1", "a", "A"), ("urn:s:2", "b", "A"), ("urn:s:1", "a", "B"),
    }


def test_values_numbers_are_typed_terms(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.update("INSERT DATA { GRAPH <urn:g:num> { <urn:s:9> <urn:p:v> 5 } }")
    got = [r["s"] for r in eng.select(
        "SELECT ?s FROM <urn:g:num> WHERE { ?s <urn:p:v> ?x VALUES ?x { 5 } }"
    ).collect()]
    assert got == ["urn:s:9"]


def test_select_star_group_by_raises(spark):
    eng = _agg_engine(spark)
    with pytest.raises(Exception, match="SELECT \\*"):
        eng.select(
            "SELECT * FROM <urn:g:agg> WHERE { ?s <urn:p:seg> ?n } GROUP BY ?s"
        ).collect()


def test_count_distinct_counts_terms_not_lexical(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store.insert_data(
        [
            ("urn:g:cd", "urn:s:1", "iri", "urn:p:v", "5", "literal", None, None),
            (
                "urn:g:cd", "urn:s:2", "iri", "urn:p:v", "5", "literal",
                "http://www.w3.org/2001/XMLSchema#integer", None,
            ),
        ]
    )
    row = eng.select(
        """SELECT (COUNT(DISTINCT ?v) AS ?n) FROM <urn:g:cd>
           WHERE { ?s <urn:p:v> ?v }"""
    ).collect()[0]
    assert row["n"] == 2  # plain "5" and "5"^^xsd:integer are distinct terms


def test_sample_keeps_term_companions(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store.insert_data(
        [("urn:g:sm", "urn:s:1", "iri", "urn:p:v", "w", "literal", None, None)]
    )
    out = eng.select(
        """SELECT (SAMPLE(?s) AS ?one) FROM <urn:g:sm>
           WHERE { ?s <urn:p:v> ?v }""",
        with_terms=True,
    )
    row = out.collect()[0]
    assert row["one"] == "urn:s:1" and row["one__type"] == "iri"


# -- FILTER comparison / boolean operators -----------------------------------


def _cmp_engine(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    eng.store.insert_data(
        [
            ("urn:g:f", "urn:s:1", "iri", "urn:p:v", "5", "literal", xsd_int, None),
            ("urn:g:f", "urn:s:2", "iri", "urn:p:v", "05", "literal", xsd_int, None),
            ("urn:g:f", "urn:s:3", "iri", "urn:p:v", "12", "literal", xsd_int, None),
            ("urn:g:f", "urn:s:4", "iri", "urn:p:v", "abc", "literal", None, None),
        ]
    )
    return eng


def _filter_sel(eng, cond):
    return {r["s"] for r in eng.select(
        f"SELECT ?s FROM <urn:g:f> WHERE {{ ?s <urn:p:v> ?v FILTER({cond}) }}"
    ).collect()}


def test_filter_numeric_comparisons(spark):
    eng = _cmp_engine(spark)
    assert _filter_sel(eng, "?v = 5") == {"urn:s:1", "urn:s:2"}  # 05 == 5 numerically
    assert _filter_sel(eng, "?v > 5") == {"urn:s:3"}
    assert _filter_sel(eng, "?v >= 5 && ?v < 12") == {"urn:s:1", "urn:s:2"}
    assert _filter_sel(eng, "?v != 5") == {"urn:s:3", "urn:s:4"}


def test_filter_boolean_and_string_ops(spark):
    eng = _cmp_engine(spark)
    assert _filter_sel(eng, '?v = "abc"') == {"urn:s:4"}
    assert _filter_sel(eng, "?v < 6 || ?v = 12") == {"urn:s:1", "urn:s:2", "urn:s:3"}
    # mixed numeric/non-numeric ordering is a type error -> row dropped
    assert _filter_sel(eng, "?v > 4") == {"urn:s:1", "urn:s:2", "urn:s:3"}
    assert _filter_sel(eng, '?v >= "abc"') == {"urn:s:4"}  # string vs string ok
    assert _filter_sel(eng, "!(?v = 12)") == {"urn:s:1", "urn:s:2", "urn:s:4"}


# -- DESCRIBE / GROUP_CONCAT --------------------------------------------------


def test_describe_constants_and_vars(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store.insert_data(
        [
            ("urn:g:d", "urn:s:1", "iri", "urn:p:a", "x", "literal", None, None),
            ("urn:g:d", "urn:s:1", "iri", "urn:p:b", "urn:s:2", "iri", None, None),
            ("urn:g:d", "urn:s:2", "iri", "urn:p:a", "y", "literal", None, None),
            ("urn:g:d", "urn:s:3", "iri", "urn:p:a", "z", "literal", None, None),
        ]
    )
    got = {(r["s"], r["o_value"]) for r in eng.describe(
        "DESCRIBE <urn:s:3> ?x FROM <urn:g:d> WHERE { <urn:s:1> <urn:p:b> ?x }"
    ).collect()}
    assert got == {("urn:s:3", "z"), ("urn:s:2", "y")}
    with pytest.raises(ValueError, match="WHERE"):
        eng.describe("DESCRIBE ?x FROM <urn:g:d>").collect()


def test_group_concat_deterministic(spark):
    eng = _agg_engine(spark)
    row = eng.select(
        """SELECT ?seg (GROUP_CONCAT(?c; SEPARATOR="|") AS ?members)
           FROM <urn:g:agg> WHERE { ?c <urn:p:seg> ?seg } GROUP BY ?seg
           ORDER BY ?seg"""
    ).collect()
    # sorted within group -> deterministic across runs/partitionings
    assert row[0]["members"] == "urn:s:1|urn:s:2"
    assert row[1]["members"] == "urn:s:3"


# -- HAVING ------------------------------------------------------------------


def test_having_filters_groups(spark):
    eng = _agg_engine(spark)
    rows = {(r["seg"], r["n"]) for r in eng.select(
        """SELECT ?seg (COUNT(*) AS ?n) FROM <urn:g:agg>
           WHERE { ?s <urn:p:seg> ?seg } GROUP BY ?seg HAVING(?n > 1)"""
    ).collect()}
    assert rows == {("X", 2)}
    with pytest.raises(Exception, match="HAVING"):
        eng.select(
            "SELECT ?s FROM <urn:g:agg> WHERE { ?s <urn:p:seg> ?n } HAVING(?n > 1)"
        ).collect()


# -- GRAPH patterns ----------------------------------------------------------


def test_graph_block_restricts_matching(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store.insert_data(
        [
            ("urn:g:one", "urn:s:1", "iri", "urn:p:v", "a", "literal", None, None),
            ("urn:g:two", "urn:s:2", "iri", "urn:p:v", "b", "literal", None, None),
        ]
    )
    got = {r["s"] for r in eng.select(
        "SELECT ?s WHERE { GRAPH <urn:g:one> { ?s <urn:p:v> ?v } }"
    ).collect()}
    assert got == {"urn:s:1"}
    # joins across GRAPH blocks
    got2 = {(r["a"], r["b"]) for r in eng.select(
        """SELECT ?a ?b WHERE {
             GRAPH <urn:g:one> { ?a <urn:p:v> ?v1 }
             GRAPH <urn:g:two> { ?b <urn:p:v> ?v2 } }"""
    ).collect()}
    assert got2 == {("urn:s:1", "urn:s:2")}


def test_graph_variable_binds_graph(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store.insert_data(
        [
            ("urn:g:one", "urn:s:1", "iri", "urn:p:v", "a", "literal", None, None),
            ("urn:g:one", "urn:s:1", "iri", "urn:p:w", "c", "literal", None, None),
            ("urn:g:two", "urn:s:2", "iri", "urn:p:v", "b", "literal", None, None),
            # s:2 has p:w only in graph one — a same-graph star on s:2
            # with both predicates must NOT match across graphs
            ("urn:g:one", "urn:s:2", "iri", "urn:p:w", "d", "literal", None, None),
        ]
    )
    got = {(r["g"], r["s"]) for r in eng.select(
        "SELECT ?g ?s WHERE { GRAPH ?g { ?s <urn:p:v> ?v } }"
    ).collect()}
    assert got == {("urn:g:one", "urn:s:1"), ("urn:g:two", "urn:s:2")}
    # same-graph enforcement across patterns in one block (star rewrite
    # groups per (g, s))
    got2 = {(r["g"], r["s"]) for r in eng.select(
        "SELECT ?g ?s WHERE { GRAPH ?g { ?s <urn:p:v> ?v ; <urn:p:w> ?w } }"
    ).collect()}
    assert got2 == {("urn:g:one", "urn:s:1")}
    # ?g is an ordinary variable: FILTER over it
    got3 = {r["s"] for r in eng.select(
        'SELECT ?s WHERE { GRAPH ?g { ?s <urn:p:v> ?v } '
        'FILTER(STRENDS(STR(?g), "two")) }'
    ).collect()}
    assert got3 == {"urn:s:2"}


def test_from_named_scopes_graph_blocks(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store.insert_data(
        [
            ("urn:g:one", "urn:s:1", "iri", "urn:p:v", "a", "literal", None, None),
            ("urn:g:two", "urn:s:2", "iri", "urn:p:v", "b", "literal", None, None),
            ("urn:g:three", "urn:s:3", "iri", "urn:p:v", "c", "literal", None, None),
        ]
    )
    got = {(r["g"], r["s"]) for r in eng.select(
        "SELECT ?g ?s FROM NAMED <urn:g:one> FROM NAMED <urn:g:three> "
        "WHERE { GRAPH ?g { ?s <urn:p:v> ?v } }"
    ).collect()}
    assert got == {("urn:g:one", "urn:s:1"), ("urn:g:three", "urn:s:3")}
    # default-graph patterns use FROM; GRAPH blocks use FROM NAMED
    got2 = {(r["a"], r["g"]) for r in eng.select(
        "SELECT ?a ?g FROM <urn:g:one> FROM NAMED <urn:g:two> "
        "WHERE { ?a <urn:p:v> ?v . GRAPH ?g { ?s <urn:p:v> ?w } }"
    ).collect()}
    assert got2 == {("urn:s:1", "urn:g:two")}


def test_using_named_update(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store.insert_data(
        [
            ("urn:g:one", "urn:s:1", "iri", "urn:p:v", "a", "literal", None, None),
            ("urn:g:two", "urn:s:2", "iri", "urn:p:v", "b", "literal", None, None),
        ]
    )
    eng.update(
        """
        WITH <urn:g:out>
        INSERT { ?s <urn:p:fromGraph> ?g }
        USING NAMED <urn:g:two>
        WHERE { GRAPH ?g { ?s <urn:p:v> ?v } }
        """
    )
    got = {
        (r["s"], r["o_value"]) for r in eng.store.graph("urn:g:out").collect()
    }
    assert got == {("urn:s:2", "urn:g:two")}


def test_graph_var_rejects_path_and_collision(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store.insert_data(
        [("urn:g:one", "urn:s:1", "iri", "urn:p:v", "a", "literal", None, None)]
    )
    with pytest.raises(ValueError, match="property paths inside GRAPH"):
        eng.select(
            "SELECT ?s WHERE { GRAPH ?g { ?s <urn:p:v>+ ?o } }"
        )
    with pytest.raises(ValueError, match="cannot also appear"):
        eng.select("SELECT ?g WHERE { GRAPH ?g { ?g <urn:p:v> ?o } }")


# -- third-review regressions -------------------------------------------------


def test_filter_neq_drops_unbound(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store.insert_data(
        [
            ("urn:g:u2", "urn:s:1", "iri", "urn:p:v", "1", "literal", None, None),
            ("urn:g:u2", "urn:s:2", "iri", "urn:p:v", "2", "literal", None, None),
            ("urn:g:u2", "urn:s:1", "iri", "urn:p:w", "5", "literal", None, None),
        ]
    )
    got = {r["s"] for r in eng.select(
        """SELECT ?s FROM <urn:g:u2> WHERE {
             ?s <urn:p:v> ?v OPTIONAL { ?s <urn:p:w> ?w }
             FILTER(?w != 9) }"""
    ).collect()}
    # unbound ?w is a type error -> dropped, NOT kept by ~FALSE
    assert got == {"urn:s:1"}


def test_filter_boolean_nonbool_drops_not_crashes(spark):
    eng = _cmp_engine(spark)
    # ?v as a bare boolean operand is a type error for every row -> empty
    # result, and crucially no ANSI cast crash
    assert _filter_sel(eng, "?v && ?v = 5") == set()


def test_filter_eq_folds_xsd_string(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store.insert_data(
        [(
            "urn:g:xs", "urn:s:1", "iri", "urn:p:v", "abc", "literal",
            "http://www.w3.org/2001/XMLSchema#string", None,
        )]
    )
    got = {r["s"] for r in eng.select(
        'SELECT ?s FROM <urn:g:xs> WHERE { ?s <urn:p:v> ?v FILTER(?v = "abc") }'
    ).collect()}
    assert got == {"urn:s:1"}  # same folding as the pattern-constant path


def test_describe_ignores_literal_bindings(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store.insert_data(
        [
            ("urn:g:dl", "urn:s:1", "iri", "urn:p:b", "urn:s:2", "literal", None, None),
            ("urn:g:dl", "urn:s:2", "iri", "urn:p:a", "y", "literal", None, None),
        ]
    )
    out = eng.describe(
        "DESCRIBE ?x FROM <urn:g:dl> WHERE { <urn:s:1> <urn:p:b> ?x }"
    ).collect()
    assert out == []  # the literal "urn:s:2" must not leak the resource


def test_spaceless_boolean_ops_parse(spark):
    # `<` must be whitespace-separated (it is lexically ambiguous with a
    # relative IRIREF like <6&&?w>, which SPARQL's own grammar also lexes
    # as an IRI token); the other operators chain spacelessly
    eng = _cmp_engine(spark)
    assert _filter_sel(eng, "?v>=5&&?v!=12") == {"urn:s:1", "urn:s:2"}


def test_nps_with_closure_modifier(spark):
    from knowledge_graph_etl_spark.plans.parser import parse_query, PathT

    q = parse_query("SELECT ?s WHERE { ?s !(<urn:p:a>)+ ?o }")
    p = q.where.elements[0].p
    assert p.op == "plus" and p.parts[0].op == "nps"


def test_separator_only_for_group_concat(spark):
    from knowledge_graph_etl_spark.plans.parser import parse_query

    with pytest.raises(SyntaxError, match="SEPARATOR"):
        parse_query('SELECT (SUM(?x; SEPARATOR=",") AS ?t) WHERE { ?s ?p ?x }')


# -- SPARQL 1.1 §17.4 builtin expansion ------------------------------------


def _fn_engine(spark):
    from knowledge_graph_etl_spark.engine import Engine

    xsd_int = "http://www.w3.org/2001/XMLSchema#integer"
    eng = Engine(spark)
    eng.store.insert_data(
        [
            ("urn:g:fn", "urn:s:1", "iri", "urn:p:v", "Hello World", "literal", None, None),
            ("urn:g:fn", "urn:s:2", "iri", "urn:p:v", "hallo", "literal", None, "nl"),
            ("urn:g:fn", "urn:s:3", "iri", "urn:p:v", "-2.5", "literal", xsd_int, None),
            ("urn:g:fn", "urn:s:4", "iri", "urn:p:v", "urn:x:ref", "iri", None, None),
            ("urn:g:fn", "urn:s:5", "iri", "urn:p:v", "b1", "bnode", None, None),
        ]
    )
    return eng


def _bind_one(eng, subject, expr, extra=""):
    df = eng.select(
        "SELECT ?r FROM <urn:g:fn> WHERE { "
        f"<{subject}> <urn:p:v> ?v. {extra} BIND({expr} AS ?r) }}"
    )
    got = df.collect()
    assert len(got) == 1
    return got[0]["r"]


def test_builtin_string_fns(spark):
    eng = _fn_engine(spark)
    assert _bind_one(eng, "urn:s:1", "STRLEN(?v)") == 11
    assert _bind_one(eng, "urn:s:1", "SUBSTR(?v, 7)") == "World"
    assert _bind_one(eng, "urn:s:1", "SUBSTR(?v, 1, 5)") == "Hello"
    assert _bind_one(eng, "urn:s:1", 'CONTAINS(?v, "lo W")') is True
    assert _bind_one(eng, "urn:s:1", 'STRENDS(?v, "World")') is True
    assert _bind_one(eng, "urn:s:1", 'STRENDS(?v, "world")') is False
    assert _bind_one(eng, "urn:s:1", 'REGEX(?v, "^hello", "i")') is True
    assert _bind_one(eng, "urn:s:1", 'REGEX(?v, "^hello")') is False
    assert _bind_one(eng, "urn:s:1", 'REPLACE(?v, "o", "0", "i")') == "Hell0 W0rld"


def test_builtin_numeric_fns(spark):
    eng = _fn_engine(spark)
    assert _bind_one(eng, "urn:s:3", "ABS(?v)") == 2.5
    assert _bind_one(eng, "urn:s:3", "CEIL(?v)") == -2
    assert _bind_one(eng, "urn:s:3", "FLOOR(?v)") == -3
    # SPARQL ROUND ties go toward +inf: ROUND(-2.5) = -2, not -3
    assert _bind_one(eng, "urn:s:3", "ROUND(?v)") == -2
    # non-numeric argument is a type error -> unbound (NULL), not a crash
    assert _bind_one(eng, "urn:s:1", "ABS(?v)") is None


def test_builtin_term_accessors(spark):
    eng = _fn_engine(spark)
    xsd = "http://www.w3.org/2001/XMLSchema#"
    assert _bind_one(eng, "urn:s:1", "LANG(?v)") == ""
    assert _bind_one(eng, "urn:s:2", "LANG(?v)") == "nl"
    assert _bind_one(eng, "urn:s:4", "LANG(?v)") is None  # IRI -> error
    assert _bind_one(eng, "urn:s:1", "DATATYPE(?v)") == xsd + "string"
    assert _bind_one(eng, "urn:s:3", "DATATYPE(?v)") == xsd + "integer"
    assert (
        _bind_one(eng, "urn:s:2", "DATATYPE(?v)")
        == "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
    )
    assert _bind_one(eng, "urn:s:2", 'LANGMATCHES(LANG(?v), "NL")') is True
    assert _bind_one(eng, "urn:s:2", 'LANGMATCHES(LANG(?v), "*")') is True
    assert _bind_one(eng, "urn:s:1", 'LANGMATCHES(LANG(?v), "*")') is False
    assert _bind_one(eng, "urn:s:4", "isIRI(?v)") is True
    assert _bind_one(eng, "urn:s:4", "isURI(?v)") is True
    assert _bind_one(eng, "urn:s:1", "isIRI(?v)") is False
    assert _bind_one(eng, "urn:s:5", "isBlank(?v)") is True
    assert _bind_one(eng, "urn:s:1", "isLiteral(?v)") is True
    assert _bind_one(eng, "urn:s:3", "isNumeric(?v)") is True
    assert _bind_one(eng, "urn:s:1", "isNumeric(?v)") is False
    assert _bind_one(eng, "urn:s:4", "isNumeric(?v)") is False  # IRI, even if digits


def test_builtin_sameterm_coalesce_hashes(spark):
    eng = _fn_engine(spark)
    # sameTerm is strict: "05"^^xsd:int vs "5"^^xsd:int are DIFFERENT terms
    # (FILTER = would equate them numerically)
    cmp_eng = _cmp_engine(spark)
    got = {
        (r["a"], r["b"])
        for r in cmp_eng.select(
            "SELECT ?a ?b FROM <urn:g:f> WHERE { ?a <urn:p:v> ?x. ?b <urn:p:v> ?y. "
            "FILTER(sameTerm(?x, ?y)) FILTER(?a < ?b) }"
        ).collect()
    }
    assert got == set()  # all four values are distinct terms
    assert _bind_one(eng, "urn:s:1", 'COALESCE(?missing, ?v, "zz")',
                     extra="OPTIONAL { <urn:s:1> <urn:p:none> ?missing. }") == "Hello World"
    import hashlib

    assert _bind_one(eng, "urn:s:1", "SHA1(?v)") == hashlib.sha1(b"Hello World").hexdigest()
    assert _bind_one(eng, "urn:s:1", "SHA256(?v)") == hashlib.sha256(b"Hello World").hexdigest()
    assert _bind_one(eng, "urn:s:1", "SHA512(?v)") == hashlib.sha512(b"Hello World").hexdigest()


def test_builtin_strdt_and_coalesce_companions(spark):
    eng = _fn_engine(spark)
    xsd = "http://www.w3.org/2001/XMLSchema#"
    df = eng.select(
        "SELECT ?r ?dt FROM <urn:g:fn> WHERE { <urn:s:1> <urn:p:v> ?v. "
        f'BIND(STRDT("7", <{xsd}byte>) AS ?r) BIND(DATATYPE(?r) AS ?dt) }}'
    )
    row = df.collect()[0]
    assert row["r"] == "7" and row["dt"] == xsd + "byte"
    # COALESCE carries the FIRST BOUND argument's companions: the fallback
    # typed literal's datatype must not leak when ?v (plain) is bound
    df2 = eng.select(
        "SELECT ?dt FROM <urn:g:fn> WHERE { <urn:s:1> <urn:p:v> ?v. "
        f'BIND(DATATYPE(COALESCE(?v, STRDT("7", <{xsd}byte>))) AS ?dt) }}'
    )
    assert df2.collect()[0]["dt"] == xsd + "string"


# -- variable-graph templates (quad routing) ----------------------------------


def _gv_engine(spark):
    from knowledge_graph_etl_spark.engine import Engine

    eng = Engine(spark)
    eng.store.insert_data(
        [
            ("urn:g:one", "urn:s:1", "iri", "urn:p:v", "a", "literal", None, None),
            ("urn:g:two", "urn:s:2", "iri", "urn:p:v", "b", "literal", None, None),
        ]
    )
    return eng


def test_insert_template_variable_graph(spark):
    eng = _gv_engine(spark)
    # the classic "annotate every named graph in place" idiom
    eng.update(
        """
        INSERT { GRAPH ?g { ?s <urn:p:copied> ?v } }
        WHERE { GRAPH ?g { ?s <urn:p:v> ?v } }
        """
    )
    got = {
        (r["g"], r["s"], r["p"], r["o_value"])
        for r in eng.store.quads().where(F.col("p") == "urn:p:copied").collect()
    }
    assert got == {
        ("urn:g:one", "urn:s:1", "urn:p:copied", "a"),
        ("urn:g:two", "urn:s:2", "urn:p:copied", "b"),
    }


def test_construct_variable_graph(spark):
    eng = _gv_engine(spark)
    out = eng.construct_query(
        """
        CONSTRUCT { GRAPH ?g { ?s <urn:p:tag> "t" } }
        WHERE { GRAPH ?g { ?s <urn:p:v> ?v } }
        """
    )
    got = {(r["g"], r["s"]) for r in out.collect()}
    assert got == {("urn:g:one", "urn:s:1"), ("urn:g:two", "urn:s:2")}


def test_delete_where_variable_graph(spark):
    eng = _gv_engine(spark)
    eng.store.insert_data(
        [("urn:g:one", "urn:s:1", "iri", "urn:p:keep", "k", "literal", None, None)]
    )
    eng.update("DELETE WHERE { GRAPH ?g { ?s <urn:p:v> ?v } }")
    left = {
        (r["g"], r["p"]) for r in eng.store.quads().collect()
    }
    assert left == {("urn:g:one", "urn:p:keep")}


def test_variable_graph_unbound_rows_skipped(spark):
    eng = _gv_engine(spark)
    # ?g bound only when the OPTIONAL matches; unbound rows must emit no quad
    eng.store.insert_data(
        [("urn:g:meta", "urn:g:one", "iri", "urn:p:active", "yes", "literal", None, None)]
    )
    eng.update(
        """
        INSERT { GRAPH ?active_g { ?s <urn:p:flagged> ?v } }
        WHERE {
            GRAPH ?g { ?s <urn:p:v> ?v }
            OPTIONAL { GRAPH <urn:g:meta> { ?g <urn:p:active> "yes" }
                       BIND(?g AS ?active_g) }
        }
        """
    )
    got = {
        (r["g"], r["s"])
        for r in eng.store.quads().where(F.col("p") == "urn:p:flagged").collect()
    }
    assert got == {("urn:g:one", "urn:s:1")}


# -- arithmetic expressions ----------------------------------------------------


def test_arithmetic_in_bind_and_filter(spark):
    eng = _cmp_engine(spark)  # values 5, 05, 12, abc (urn:p:v)
    got = {(r["s"], r["d"]) for r in eng.select(
        "SELECT ?s (?v * 2 + 1 AS ?d) FROM <urn:g:f> "
        "WHERE { ?s <urn:p:v> ?v FILTER(?v / 2 >= 2.5) }"
    ).collect()}
    assert got == {("urn:s:1", 11.0), ("urn:s:2", 11.0), ("urn:s:3", 25.0)}
    # precedence: * binds tighter than -, unary minus, signed-literal fold
    assert _filter_sel(eng, "?v - 2 * 3 = -1") == {"urn:s:1", "urn:s:2"}
    assert _filter_sel(eng, "-?v = -12") == {"urn:s:3"}
    assert _filter_sel(eng, "?v -7 = 5") == {"urn:s:3"}  # signed literal
    # non-numeric operand is a type error -> row dropped, not a crash
    assert _filter_sel(eng, "?v + 1 > 0") == {"urn:s:1", "urn:s:2", "urn:s:3"}
    # division by zero is an error -> dropped
    assert _filter_sel(eng, "?v / 0 > 0") == set()


def test_arithmetic_with_functions(spark):
    eng = _fn_engine(spark)
    assert _bind_one(eng, "urn:s:1", "STRLEN(?v) * 2 - 1") == 21.0
    assert _bind_one(eng, "urn:s:3", "ABS(?v) + CEIL(?v)") == 0.5


def test_construct_where_shorthand(spark):
    eng = _gv_engine(spark)  # urn:g:one s:1 v a; urn:g:two s:2 v b
    out = eng.construct_query(
        "CONSTRUCT FROM <urn:g:one> WHERE { ?s <urn:p:v> ?o }"
    )
    got = {(r["s"], r["p"], r["o_value"]) for r in out.collect()}
    assert got == {("urn:s:1", "urn:p:v", "a")}
    with pytest.raises(SyntaxError, match="GRAPH blocks"):
        eng.construct_query(
            "CONSTRUCT WHERE { GRAPH <urn:g:one> { ?s <urn:p:v> ?o } }"
        )


def test_in_and_not_in(spark):
    eng = _cmp_engine(spark)  # values 5, 05, 12, abc
    assert _filter_sel(eng, "?v IN (5, 12)") == {"urn:s:1", "urn:s:2", "urn:s:3"}
    assert _filter_sel(eng, '?v IN ("abc")') == {"urn:s:4"}
    # NOT IN is the &&-of-!= chain: an unequal-but-non-numeric value passes
    assert _filter_sel(eng, "?v NOT IN (12)") == {"urn:s:1", "urn:s:2", "urn:s:4"}
    assert _filter_sel(eng, "?v IN ()") == set()
    assert _filter_sel(eng, "?v NOT IN ()") == {
        "urn:s:1", "urn:s:2", "urn:s:3", "urn:s:4"
    }
    # arithmetic inside the list
    assert _filter_sel(eng, "?v IN (10 + 2)") == {"urn:s:3"}


# -- review-pass regressions ---------------------------------------------------


def test_subquery_inside_graph_var_rejected(spark):
    eng = _gv_engine(spark)
    with pytest.raises(ValueError, match="subqueries inside GRAPH"):
        eng.select(
            "SELECT ?g WHERE { GRAPH ?g { "
            "{ SELECT ?s WHERE { ?s <urn:p:v> ?v } } } }"
        )
    with pytest.raises(ValueError, match="binds nothing"):
        eng.select(
            "SELECT ?g WHERE { GRAPH ?g { "
            "GRAPH <urn:g:one> { ?s <urn:p:v> ?v } } }"
        )


def test_langmatches_star_propagates_error(spark):
    eng = _fn_engine(spark)
    # LANG of an IRI is a type error -> NULL; !LANGMATCHES(NULL, "*") must
    # stay NULL (row dropped), not become !false = true
    got = {r["s"] for r in eng.select(
        "SELECT ?s FROM <urn:g:fn> WHERE { ?s <urn:p:v> ?x "
        'FILTER(!LANGMATCHES(LANG(?x), "*")) }'
    ).collect()}
    assert "urn:s:4" not in got and "urn:s:5" not in got  # IRI and bnode rows
    assert "urn:s:1" in got  # plain literal: LANG = "" -> matches nothing


def test_substr_nonpositive_start(spark):
    eng = _fn_engine(spark)
    # fn:substring: start 0/-1 clamps to position 1 with the length window
    # anchored at the ORIGINAL start (not Spark's count-from-the-end)
    assert _bind_one(eng, "urn:s:1", 'SUBSTR(?v, 0, 3)') == "He"
    assert _bind_one(eng, "urn:s:1", 'SUBSTR(?v, -1, 4)') == "He"
    assert _bind_one(eng, "urn:s:1", 'SUBSTR(?v, -3)') == "Hello World"


def test_datetime_accessors_and_now_uuid(spark):
    from knowledge_graph_etl_spark.engine import Engine

    xsd_dt = "http://www.w3.org/2001/XMLSchema#dateTime"
    eng = Engine(spark)
    eng.store.insert_data(
        [
            ("urn:g:dt", "urn:s:1", "iri", "urn:p:t",
             "2024-03-07T14:25:05.5Z", "literal", xsd_dt, None),
            ("urn:g:dt", "urn:s:2", "iri", "urn:p:t",
             "not a date", "literal", None, None),
        ]
    )

    def one(subject, expr):
        got = eng.select(
            "SELECT ?r FROM <urn:g:dt> WHERE { "
            f"<{subject}> <urn:p:t> ?v. BIND({expr} AS ?r) }}"
        ).collect()
        assert len(got) == 1
        return got[0]["r"]

    assert one("urn:s:1", "YEAR(?v)") == 2024
    assert one("urn:s:1", "MONTH(?v)") == 3
    assert one("urn:s:1", "DAY(?v)") == 7
    assert one("urn:s:1", "HOURS(?v)") == 14
    assert one("urn:s:1", "MINUTES(?v)") == 25
    assert one("urn:s:1", "SECONDS(?v)") == 5.5  # fractional, not truncated
    assert one("urn:s:1", "TZ(?v)") == "Z"
    # non-dateTime -> type error -> unbound
    assert one("urn:s:2", "YEAR(?v)") is None
    assert one("urn:s:2", "TZ(?v)") is None
    # NOW(): one constant instant for the whole query, xsd:dateTime-typed
    row = eng.select(
        "SELECT ?n ?dt FROM <urn:g:dt> WHERE { ?s <urn:p:t> ?v. "
        "BIND(NOW() AS ?n) BIND(DATATYPE(NOW()) AS ?dt) } LIMIT 1"
    ).collect()[0]
    assert row["n"].startswith("20") and row["n"].endswith("Z")
    assert row["dt"].endswith("dateTime")
    # UUID(): fresh IRI per row, urn:uuid scheme
    rows = eng.select(
        "SELECT ?u FROM <urn:g:dt> WHERE { ?s <urn:p:t> ?v. BIND(UUID() AS ?u) }"
    ).collect()
    assert len({r["u"] for r in rows}) == 2
    assert all(r["u"].startswith("urn:uuid:") for r in rows)
    assert len(eng.select(
        "SELECT ?u FROM <urn:g:dt> WHERE { ?s <urn:p:t> ?v. BIND(STRUUID() AS ?u) }"
    ).collect()) == 2


def test_filter_applies_to_whole_group(spark):
    # SPARQL §5.2.2: constraints evaluate over the WHOLE group — a FILTER
    # may precede the pattern binding its variable
    eng = eng_with(
        spark,
        _quads(("urn:s:1", NS + "v", "7"), ("urn:s:2", NS + "v", "2")),
    )
    got = {r["s"] for r in eng.select(
        f"SELECT ?s WHERE {{ FILTER(?x > 3) ?s <{NS}v> ?x }}"
    ).collect()}
    assert got == {"urn:s:1"}
    # same for FILTER EXISTS written before the binding pattern
    got2 = {r["s"] for r in eng.select(
        f"SELECT ?s WHERE {{ FILTER EXISTS {{ ?s <{NS}v> "
        f'"7" }} ?s <{NS}v> ?x }}'
    ).collect()}
    assert got2 == {"urn:s:1"}
    # and a FILTER referencing a BIND that follows it
    got3 = {r["s"] for r in eng.select(
        f"SELECT ?s WHERE {{ ?s <{NS}v> ?x FILTER(?y > 5) "
        "BIND(?x + 1 AS ?y) }"
    ).collect()}
    assert got3 == {"urn:s:1"}


def test_bind_rebind_rejected(spark):
    eng = eng_with(spark, _quads(("urn:s:1", NS + "v", "7")))
    with pytest.raises(ValueError, match="already bound"):
        eng.select(
            f"SELECT ?x WHERE {{ ?s <{NS}v> ?x BIND(1 AS ?x) }}"
        )


def test_optional_filter_is_leftjoin_condition(spark):
    # SPARQL §6.2: OPTIONAL { P FILTER C } = LeftJoin(A, P, C) — C may
    # reference OUTER variables; a failing C drops the optional bindings
    # but KEEPS the outer row
    eng = eng_with(
        spark,
        _quads(
            ("urn:s:1", NS + "x", "5"),
            ("urn:s:1", NS + "y", "9"),
            ("urn:s:2", NS + "x", "5"),
            ("urn:s:2", NS + "y", "3"),
        ),
    )
    got = sorted((r["s"], r["y"]) for r in eng.select(
        f"SELECT ?s ?y WHERE {{ ?s <{NS}x> ?x "
        f"OPTIONAL {{ ?s <{NS}y> ?y FILTER(?y > ?x) }} }}"
    ).collect())
    assert got == [("urn:s:1", "9"), ("urn:s:2", None)]
    # inner-only filter reference behaves identically either way
    got2 = sorted((r["s"], r["y"]) for r in eng.select(
        f"SELECT ?s ?y WHERE {{ ?s <{NS}x> ?x "
        f"OPTIONAL {{ ?s <{NS}y> ?y FILTER(?y > 4) }} }}"
    ).collect())
    assert got2 == [("urn:s:1", "9"), ("urn:s:2", None)]


def test_order_by_numeric_values(spark):
    eng = eng_with(
        spark,
        _quads(
            ("urn:s:a", NS + "v", "9"),
            ("urn:s:b", NS + "v", "10"),
            ("urn:s:c", NS + "v", "2"),
        ),
    )
    got = [r["v"] for r in eng.select(
        f"SELECT ?v WHERE {{ ?s <{NS}v> ?v }} ORDER BY ?v"
    ).collect()]
    assert got == ["2", "9", "10"]  # numeric, not lexical ("10" < "2" < "9")
    got_d = [r["v"] for r in eng.select(
        f"SELECT ?v WHERE {{ ?s <{NS}v> ?v }} ORDER BY DESC(?v)"
    ).collect()]
    assert got_d == ["10", "9", "2"]


# -- second-review regressions -------------------------------------------------


def test_datetime_accessors_use_lexical_timezone(spark):
    from knowledge_graph_etl_spark.engine import Engine

    xsd_dt = "http://www.w3.org/2001/XMLSchema#dateTime"
    eng = Engine(spark)
    eng.store.insert_data(
        [("urn:g:tz", "urn:s:1", "iri", "urn:p:t",
          "2024-03-07T01:30:00+05:00", "literal", xsd_dt, None)]
    )
    row = eng.select(
        "SELECT ?h ?d ?tz FROM <urn:g:tz> WHERE { ?s <urn:p:t> ?v. "
        "BIND(HOURS(?v) AS ?h) BIND(DAY(?v) AS ?d) BIND(TZ(?v) AS ?tz) }"
    ).collect()[0]
    # XPath accessor semantics: the value's OWN fields, not the session-tz
    # normalization (which would give HOURS 20 of the previous day in UTC)
    assert row["h"] == 1 and row["d"] == 7 and row["tz"] == "+05:00"


def test_now_is_one_instant_per_query(spark):
    eng = eng_with(spark, _quads(("urn:s:1", NS + "v", "7")))
    got = eng.select(
        f"SELECT ?s WHERE {{ ?s <{NS}v> ?x "
        "BIND(NOW() AS ?a) BIND(NOW() AS ?b) FILTER(STR(?a) = STR(?b)) }"
    ).collect()
    assert len(got) == 1  # both occurrences are the same instant


def test_builtin_arity_errors(spark):
    eng = eng_with(spark, _quads(("urn:s:1", NS + "v", "7")))
    with pytest.raises(ValueError, match="YEAR takes 1"):
        eng.select(f"SELECT ?s WHERE {{ ?s <{NS}v> ?x BIND(YEAR() AS ?y) }}")
    with pytest.raises(ValueError, match="NOW takes 0"):
        eng.select(f"SELECT ?s WHERE {{ ?s <{NS}v> ?x BIND(NOW(?x) AS ?y) }}")
    with pytest.raises(ValueError, match="IF takes 3"):
        eng.select(f"SELECT ?s WHERE {{ ?s <{NS}v> ?x BIND(IF(?x) AS ?y) }}")


def test_deferred_exists_with_optional_unbound_var(spark):
    # EXISTS written before an OPTIONAL that binds one of its vars: the
    # deferred semi-join must use compatible-merge for the maybe-unbound
    # var — an outer row whose ?y is unbound still satisfies EXISTS
    eng = eng_with(
        spark,
        _quads(
            ("urn:s:1", NS + "p", "1"),
            ("urn:s:1", NS + "q", "5"),
        ),
    )
    got = {r["s"] for r in eng.select(
        f"SELECT ?s WHERE {{ ?s <{NS}p> ?x "
        f"FILTER EXISTS {{ ?s <{NS}q> ?y }} "
        f"OPTIONAL {{ ?s <{NS}r> ?y }} }}"
    ).collect()}
    assert got == {"urn:s:1"}


def test_minus_disjoint_unbound_domains_kept(spark):
    # MINUS removes only pairs whose BOUND domains intersect (§8.3): a row
    # whose every shared var is unbound must survive
    eng = eng_with(
        spark,
        _quads(
            ("urn:s:1", NS + "p", "1"),
            ("urn:s:2", NS + "p", "2"),
            ("urn:s:2", NS + "y", "7"),
            ("urn:x:9", NS + "my", "7"),
        ),
    )
    got = {r["s"] for r in eng.select(
        f"SELECT ?s WHERE {{ ?s <{NS}p> ?x "
        f"OPTIONAL {{ ?s <{NS}y> ?y }} "
        f"MINUS {{ ?m <{NS}my> ?y }} }}"
    ).collect()}
    # s:2 (y=7) matches the MINUS solution's y=7 -> removed; s:1 shares
    # only the UNBOUND ?y -> disjoint bound domains -> kept
    assert got == {"urn:s:1"}


def test_exists_in_optional_outer_correlation_rejected(spark):
    eng = eng_with(spark, _quads(("urn:s:1", NS + "p", "1")))
    with pytest.raises(ValueError, match="EXISTS inside OPTIONAL"):
        eng.select(
            f"SELECT ?s WHERE {{ ?s <{NS}p> ?x "
            f"OPTIONAL {{ ?s <{NS}q> ?y FILTER EXISTS {{ ?z <{NS}r> ?x }} }} }}"
        )


def test_trailing_values_clause(spark):
    eng = eng_with(
        spark,
        _quads(("urn:s:1", NS + "v", "a"), ("urn:s:2", NS + "v", "b")),
    )
    got = {r["s"] for r in eng.select(
        f'SELECT ?s WHERE {{ ?s <{NS}v> ?x }} VALUES ?x {{ "a" }}'
    ).collect()}
    assert got == {"urn:s:1"}
    with pytest.raises(SyntaxError, match="trailing VALUES with GROUP BY"):
        eng.select(
            f"SELECT ?x (COUNT(*) AS ?n) WHERE {{ ?s <{NS}v> ?x }} "
            f'GROUP BY ?x VALUES ?x {{ "a" }}'
        )


# -- BGP join-order seed ---------------------------------------------------


def test_order_patterns_keeps_stable_order():
    """Within the same structural class the original pattern order
    holds (the greedy seed is stable)."""
    from knowledge_graph_etl_spark.plans.compiler import _order_patterns
    from knowledge_graph_etl_spark.plans.parser import IriT, TriplePattern, VarT

    tps = [
        TriplePattern(VarT("s"), IriT("urn:p:common"), VarT("a")),
        TriplePattern(VarT("s"), IriT("urn:p:rare"), VarT("b")),
    ]
    assert [tp.p.value for tp in _order_patterns(list(tps))] == [
        "urn:p:common",
        "urn:p:rare",
    ]


def test_engine_explain_surface(spark):
    from knowledge_graph_etl_spark.engine import Engine

    e = Engine(spark)
    e.store.insert_data(
        [("urn:g:ex", "urn:s", "iri", "urn:p", "v", "literal", None, None)]
    )
    txt = e.explain("SELECT ?s FROM <urn:g:ex> WHERE { ?s <urn:p> 'v' }")
    assert "Physical Plan" in txt
    import pytest as _pytest

    # updates are not a query form: parse_query rejects them
    with _pytest.raises((ValueError, SyntaxError)):
        e.explain("INSERT DATA { <urn:a> <urn:b> 'c' }")
