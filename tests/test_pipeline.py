"""Golden end-to-end pipeline test: fixtures → full-refresh run of the
reference's own 13 .sparql mapping files + 3 inline queries → semantic
assertions on the organizations graph (SURVEY.md §5.2 item 3).

Skipped when the reference checkout (the user's query files) is absent.
"""

import hashlib
import os

import pytest
from pyspark.sql import functions as F

from knowledge_graph_etl_spark.engine import GRAPH_NS, Engine
from knowledge_graph_etl_spark.mappings import fixture_documents, run_pipeline

REF_SPARQL_DIR = "/root/reference/airflow_files/dags/sparql"

ORG = "https://data.hetarchief.be/id/organization/"
MEEMOO = "https://data.hetarchief.be/ns/organization/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_BOOL = "http://www.w3.org/2001/XMLSchema#boolean"

needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF_SPARQL_DIR), reason="reference checkout not available"
)


@pytest.fixture(scope="module")
def pipeline_store(spark, tmp_path_factory):
    eng = Engine(spark, store_path=str(tmp_path_factory.mktemp("store")))
    run_pipeline(
        eng,
        fixture_documents(),
        REF_SPARQL_DIR,
        run_id="run-1",
        ts="2024-01-01T00:00:00+00:00",
        env="qas",
        optimize=True,
    )
    return eng.store


@pytest.fixture(scope="module")
def orgs(pipeline_store):
    df = pipeline_store.graph(GRAPH_NS + "organizations")
    return {
        (r["s"], r["p"], r["o_value"], r["o_type"], r["o_datatype"], r["o_lang"])
        for r in df.collect()
    }


def has(orgs, s, p, o):
    return any(q[0] == s and q[1] == p and q[2] == o for q in orgs)


@needs_ref
def test_staging_dropped_target_remains(pipeline_store):
    graphs = pipeline_store.list_graphs()
    assert GRAPH_NS + "organizations" in graphs
    assert GRAPH_NS + "provenance" in graphs
    assert not any("ldap_organizations" in g or "tl_" in g for g in graphs)


@needs_ref
def test_ldap_org_mapping(orgs):
    s = ORG + "OR-abc123x"
    assert has(orgs, s, RDF_TYPE, "http://www.w3.org/ns/org#Organization")
    assert has(orgs, s, "https://schema.org/identifier", "OR-abc123x")
    assert has(orgs, s, "http://www.w3.org/2004/02/skos/core#altLabel", "Archief Gent")
    assert has(orgs, s, MEEMOO + "sector", "Cultuur")
    # site + siteAddress minting via MD5 (sparql/ldap_mapping_org.sparql:58-59)
    site = ORG + hashlib.md5(b"OR-abc123x-primary").hexdigest()
    assert has(orgs, s, "http://www.w3.org/ns/org#hasPrimarySite", site)
    addr = ORG + hashlib.md5("Teststraat 19000Gent".encode()).hexdigest()
    assert has(orgs, site, "http://www.w3.org/ns/org#siteAddress", addr)
    assert has(orgs, addr, "https://schema.org/addressCountry", "BE")
    assert has(orgs, addr, "https://schema.org/addressLocality", "Gent")


@needs_ref
def test_ldap_org_optional_absent(orgs):
    # OR-kaal001 has no address/sector: org triples exist, address ones don't
    s = ORG + "OR-kaal001"
    assert has(orgs, s, RDF_TYPE, "http://www.w3.org/ns/org#Organization")
    assert not any(q[0] == s and q[1] == MEEMOO + "sector" for q in orgs)
    site = ORG + hashlib.md5(b"OR-kaal001-primary").hexdigest()
    # site is minted (depends only on orid) but has no siteAddress
    assert has(orgs, s, "http://www.w3.org/ns/org#hasSite", site)
    assert not any(q[0] == site and q[1].endswith("siteAddress") for q in orgs)


@needs_ref
def test_ldap_classifiers(orgs):
    assert has(orgs, ORG + "OR-school1", RDF_TYPE, MEEMOO + "School")
    assert has(orgs, ORG + "OR-edu001a", RDF_TYPE, MEEMOO + "EducationalOrganization")
    assert has(orgs, ORG + "OR-abc123x", RDF_TYPE, MEEMOO + "ContentPartner")
    assert has(orgs, ORG + "OR-sp001aa", RDF_TYPE, MEEMOO + "ServiceProvider")
    assert has(orgs, ORG + "OR-cust01a", RDF_TYPE, MEEMOO + "ServiceConsumer")


@needs_ref
def test_units_mapping(orgs):
    org = ORG + "OR-abc123x"
    unit = ORG + hashlib.md5(b"OR-abc123x-unit1").hexdigest()
    assert has(orgs, org, "http://www.w3.org/ns/org#hasUnit", unit)
    assert has(orgs, unit, "http://www.w3.org/ns/org#unitOf", org)
    assert has(orgs, unit, "https://schema.org/identifier", "OR-abc123x-unit1")
    # bare unit (no address fields) also present
    unit2 = ORG + hashlib.md5(b"OR-abc123x-unit2").hexdigest()
    assert has(orgs, org, "http://www.w3.org/ns/org#hasUnit", unit2)


@needs_ref
def test_cp_status_semijoin(orgs):
    # "ja" → ContentPartner; "nee" → NOT (sparql/tl_companies_mapping_cp.sparql:28-35)
    assert has(orgs, ORG + "OR-abc123x", RDF_TYPE, MEEMOO + "ContentPartner")
    assert not has(orgs, ORG + "OR-sp001aa", RDF_TYPE, MEEMOO + "ContentPartner")


@needs_ref
def test_no_orid_company_maps_to_nothing(orgs):
    # the company without an OR-ID custom field must not appear anywhere
    assert not any("Geen Orid" in q[2] for q in orgs)


@needs_ref
def test_classification_strafter_lcase(orgs):
    # '1 - Cultuur organisatie' → strafter ' - ' → 'cultuur_organisatie'
    cls = "https://data.hetarchief.be/id/organization-type/cultuur_organisatie"
    assert has(orgs, ORG + "OR-abc123x", "http://www.w3.org/ns/org#classification", cls)
    # 'Zonder separator' (no ' - ') → STRAFTER = '' → class IRI is the bare prefix
    cls2 = "https://data.hetarchief.be/id/organization-type/"
    assert has(orgs, ORG + "OR-sp001aa", "http://www.w3.org/ns/org#classification", cls2)


@needs_ref
def test_overlay_defaults(orgs):
    s = ORG + "OR-abc123x"
    q = {
        (p, v, dt)
        for (ss, p, v, _, dt, _) in orgs
        if ss == s and p.startswith(MEEMOO + "allows")
    }
    assert (MEEMOO + "allowsOverlay", "true", XSD_BOOL) in q
    assert (MEEMOO + "allowsBZT", "false", XSD_BOOL) in q


@needs_ref
def test_contactpoint_correlated_nested_optional(orgs):
    orid = "OR-abc123x"
    contact_primary = ORG + hashlib.md5(f"{orid}-primary".encode()).hexdigest()
    contact_support = ORG + hashlib.md5(f"{orid}-support".encode()).hexdigest()
    assert has(orgs, contact_primary, "https://schema.org/email", "info@archiefgent.be")
    assert has(orgs, contact_primary, "https://schema.org/telephone", "+3291234567")
    assert has(orgs, contact_support, "https://schema.org/email", "help@archiefgent.be")
    # support email has no matching telephone type → no telephone triple
    assert not any(
        q[0] == contact_support and q[1] == "https://schema.org/telephone" for q in orgs
    )
    # fixed-type contacts from custom fields
    ontsluiting = ORG + hashlib.md5(f"{orid}-ontsluiting".encode()).hexdigest()
    assert has(orgs, ontsluiting, "https://schema.org/email", "ontsluiting@archiefgent.be")
    assert has(orgs, ontsluiting, "https://schema.org/contactType", "ontsluiting")


@needs_ref
def test_tl_org_mapping_website_desc_am(orgs):
    s = ORG + "OR-abc123x"
    # www.* → http:// prefix (STRSTARTS branch, tl_companies_mapping_org.sparql:54)
    assert has(orgs, s, "http://xmlns.com/foaf/0.1/homepage", "http://www.archiefgent.be")
    s2 = ORG + "OR-sp001aa"
    assert has(orgs, s2, "http://xmlns.com/foaf/0.1/homepage", "https://dienstverlener.be")
    # @nl description via STRLANG
    assert any(
        q[0] == s
        and q[1] == "http://purl.org/dc/terms/description"
        and q[5] == "nl"
        for q in orgs
    )
    # account-manager link by MD5 of responsible_user.id
    am = ORG + hashlib.md5(b"user-uuid-1").hexdigest()
    assert has(orgs, s, MEEMOO + "hasAccountManager", am)
    assert has(orgs, am, MEEMOO + "isAccountManagerOf", s)


@needs_ref
def test_users_mapping(orgs):
    am = ORG + hashlib.md5(b"user-uuid-1").hexdigest()
    assert has(orgs, am, RDF_TYPE, "https://schema.org/Person")
    assert has(orgs, am, "https://schema.org/email", "mailto:an@meemoo.be")
    role = (
        "https://data.hetarchief.be/id/organization-role/"
        "Account%20manager%20archieven"
    )
    post = ORG + hashlib.md5(
        ("user-uuid-1" + "Account manager archieven").encode()
    ).hexdigest()
    assert has(orgs, am, "http://www.w3.org/ns/org#holds", post)
    assert has(orgs, post, "http://www.w3.org/ns/org#role", role)
    # user 2 has no function → no post/role triples
    am2 = ORG + hashlib.md5(b"user-uuid-2").hexdigest()
    assert has(orgs, am2, RDF_TYPE, "https://schema.org/Person")
    assert not any(q[0] == am2 and q[1].endswith("holds") for q in orgs)


@needs_ref
def test_mam_tenants_and_logos(orgs):
    assert has(
        orgs,
        ORG + "OR-abc123x",
        "https://data.hetarchief.be/ns/mediahaven/label",
        "Tenant Archief Gent",
    )
    assert has(
        orgs,
        ORG + "OR-abc123x",
        "https://schema.org/logo",
        "https://assets-qas.viaa.be/images/OR-abc123x",
    )


@needs_ref
def test_provenance(pipeline_store):
    prov = {
        (r["s"], r["p"], r["o_value"])
        for r in pipeline_store.graph(GRAPH_NS + "provenance").collect()
    }
    result = GRAPH_NS + "organizations"
    assert any(
        s == result and p == "http://www.w3.org/ns/prov#wasDerivedFrom" for s, p, _ in prov
    )
    assert any(p == "http://www.w3.org/ns/prov#startedAtTime" for _, p, _ in prov)


# ---------------------------------------------------------------------------
# Volume corpus (fixtures.volume_documents): the same lifecycle with a
# data-dependent term, deterministic derived counts, and the scale plan pin
# ---------------------------------------------------------------------------

N_VOL = 150


@pytest.fixture(scope="module")
def volume_engine(spark, tmp_path_factory):
    from knowledge_graph_etl_spark.mappings.fixtures import volume_documents

    eng = Engine(spark, store_path=str(tmp_path_factory.mktemp("volstore")))
    run_pipeline(
        eng,
        volume_documents(spark, n_companies=N_VOL),
        REF_SPARQL_DIR,
        run_id="run-vol",
        ts="2024-01-01T00:00:00+00:00",
        env="qas",
        optimize=True,
    )
    return eng


@needs_ref
def test_volume_pipeline_derived_counts(volume_engine):
    """Deterministic derived-count checks at parametric volume: the
    ContentPartner set is the union of tl companies with CP status 'ja'
    (i % 10 != 9) and ldap orgs with businessCategory 'Content Partner'
    (orid 2i, i % 3 != 0); every company derives exactly one
    foaf:homepage triple. Generator drift or a volume-only mapping bug
    (lost join rows, dropped partitions) shifts these counts."""
    orgs = volume_engine.store.graph(GRAPH_NS + "organizations")

    def typed(cls):
        return {
            r["s"]
            for r in orgs.where(
                (F.col("p") == RDF_TYPE) & (F.col("o_value") == MEEMOO + cls)
            ).collect()
        }

    cat = __import__(
        "knowledge_graph_etl_spark.mappings.fixtures", fromlist=["x"]
    )._VOLUME_LDAP_CATEGORIES
    cp = typed("ContentPartner")
    exp = {f"{ORG}OR-vol{i:06d}" for i in range(N_VOL) if i % 10 != 9}
    exp |= {
        f"{ORG}OR-vol{2 * i:06d}"
        for i in range(N_VOL // 2)
        if cat[i % 12] == "Content Partner"
    }
    assert cp == exp
    # every ldap classifier mapping derives volume rows (r09 stretch 8)
    for cls, want in (
        ("School", "School"),
        ("ServiceProvider", "Service Provider"),
        ("ServiceConsumer", "Customer"),
    ):
        got = typed(cls) & {
            f"{ORG}OR-vol{2 * i:06d}" for i in range(N_VOL // 2)
        }
        exp_cls = {
            f"{ORG}OR-vol{2 * i:06d}"
            for i in range(N_VOL // 2)
            if cat[i % 12] == want
        }
        assert got == exp_cls, cls
    edu = typed("EducationalOrganization")
    assert edu == {
        f"{ORG}OR-vol{2 * i:06d}"
        for i in range(N_VOL // 2)
        if i % 12 == 3
    }
    hp = orgs.where(F.col("p") == "http://xmlns.com/foaf/0.1/homepage")
    assert hp.count() == N_VOL
    # www.* and https:// website branches both taken
    vals = [r["o_value"] for r in hp.collect()]
    assert any(v.startswith("http://www.") for v in vals)
    assert any(v.startswith("https://") for v in vals)


@needs_ref
def test_volume_custom_field_lookup_broadcasts(spark, tmp_path_factory):
    """SURVEY §2 op 17 at volume: with a 2000-company staging corpus
    loaded, the compiled tl_companies_mapping_org plan joins the
    ~30-quad tl_custom_fields lookup via BroadcastHashJoin — the shape
    that keeps the mapping shuffle-light when companies scale 1000x
    while the definition lookup stays bounded."""
    from knowledge_graph_etl_spark.engine import SOURCE_NS
    from knowledge_graph_etl_spark.mappings.fixtures import volume_documents

    eng = Engine(spark, store_path=str(tmp_path_factory.mktemp("volplan")))
    docs = volume_documents(spark, n_companies=2000)
    for source in ("tl_companies", "tl_custom_fields", "tl_users"):
        eng.load_json(docs[source], f"{GRAPH_NS}{source}", namespace=SOURCE_NS)
    df = eng.plan(os.path.join(REF_SPARQL_DIR, "tl_companies_mapping_org.sparql"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


# ---------------------------------------------------------------------------
# Incremental pipeline maintenance (run_pipeline_incremental): full-refresh
# equivalence over every delta class, including the delete-rederive case
# ---------------------------------------------------------------------------


def _mutated_fixtures():
    """(old, new) fixture snapshots covering every delta class:
    - company 'Archief Gent VZW' REMOVED while its ldap twin and the
      mediahaven tenant still derive quads about OR-abc123x — the
      delete-rederive case a naive stale-delete gets wrong;
    - company 'Dienstverlener BV' website changed;
    - a brand-new company added under a fresh OR-ID;
    - ldap OR-school1 description changed; ldap OR-cust01a removed;
    - user-uuid-2 gains a function (new post/role derivations)."""
    import json as _j

    old = fixture_documents()
    new = {k: list(v) for k, v in old.items()}

    def docs(src):
        return [(i, _j.loads(t)) for i, t in new[src]]

    comps = docs("tl_companies")
    comps = [(i, d) for i, d in comps if d["name"] != "Archief Gent VZW"]
    for _, d in comps:
        if d["name"] == "Dienstverlener BV":
            d["website"] = "www.dienstverlener-v2.be"
    comps.append(
        (
            "tl_companies-new0",
            {
                "name": "Nieuwkomer BV",
                "website": "https://nieuwkomer.be",
                "custom_fields": [
                    {"value": "OR-newco01", "definition": {"id": "cf-orid-uuid"}},
                    {"value": "ja", "definition": {"id": "cf-status-uuid"}},
                ],
            },
        )
    )
    new["tl_companies"] = [(i, _j.dumps(d)) for i, d in comps]

    ldap = docs("ldap_organizations")
    out_ldap = []
    for i, d in ldap:
        orid = d["attributes"].get("o")
        if orid == "OR-cust01a":
            continue  # removed
        if orid == "OR-school1":
            d["attributes"]["description"] = "School Eén (hernoemd)"
        out_ldap.append((i, d))
    new["ldap_organizations"] = [(i, _j.dumps(d)) for i, d in out_ldap]

    users = docs("tl_users")
    for _, d in users:
        if d["id"] == "user-uuid-2":
            d["function"] = "Nieuwe functie"
    new["tl_users"] = [(i, _j.dumps(d)) for i, d in users]
    return old, new


@needs_ref
def test_incremental_pipeline_equals_full_refresh(spark, tmp_path_factory):
    from knowledge_graph_etl_spark.mappings.pipeline import (
        run_pipeline_incremental,
    )

    old, new = _mutated_fixtures()
    # engine A: full refresh on OLD, then incremental old->new
    eng_a = Engine(spark, store_path=str(tmp_path_factory.mktemp("inc_a")))
    run_pipeline(eng_a, old, REF_SPARQL_DIR, run_id="run-old", optimize=False)
    # jobs=2: the strongest equivalence oracle also covers the
    # DAG-parallel fresh-derivation path (the sequential path keeps
    # direct coverage via the shared-role/tenant/idempotence tests)
    counters = run_pipeline_incremental(
        eng_a, old, new, REF_SPARQL_DIR, run_id="run-inc", jobs=2
    )
    # engine B: full refresh on NEW
    eng_b = Engine(spark, store_path=str(tmp_path_factory.mktemp("inc_b")))
    run_pipeline(eng_b, new, REF_SPARQL_DIR, run_id="run-new", optimize=False)

    g = GRAPH_NS + "organizations"
    rows_a = {
        (r["s"], r["p"], r["o_value"], r["o_type"], r["o_datatype"], r["o_lang"])
        for r in eng_a.store.graph(g).collect()
    }
    rows_b = {
        (r["s"], r["p"], r["o_value"], r["o_type"], r["o_datatype"], r["o_lang"])
        for r in eng_b.store.graph(g).collect()
    }
    only_a = rows_a - rows_b
    only_b = rows_b - rows_a
    assert not only_a and not only_b, (sorted(only_a)[:5], sorted(only_b)[:5])
    # the delete-rederive case actually bit: the removed company's org
    # subject must STILL be typed (its ldap twin derives the shared
    # `a org:Organization` via the ldap logo update)
    s = ORG + "OR-abc123x"
    assert any(q[0] == s and q[1] == RDF_TYPE for q in rows_a)
    # but the company-only derivations (e.g. its homepage) must be gone
    assert not any(
        q[0] == s and q[1] == "http://xmlns.com/foaf/0.1/homepage"
        for q in rows_a
    )
    # the new company arrived, the removed ldap org's quads left
    assert any(q[0] == ORG + "OR-newco01" for q in rows_a)
    assert not any(q[0] == ORG + "OR-cust01a" for q in rows_a)
    # closure counters: the remap sets stayed delta-sized (not corpus)
    assert counters["fresh_tl_companies_docs"] <= 3
    # the stale side is a ledger lookup now: groups, not a recompute
    assert 0 < counters["affected_groups"] <= 8
    assert counters["stale_quads"] < 200


@needs_ref
def test_incremental_pipeline_custom_fields_change_falls_back(spark):
    import json as _j

    import pytest

    from knowledge_graph_etl_spark.mappings.pipeline import (
        run_pipeline_incremental,
    )

    old = fixture_documents()
    new = {k: list(v) for k, v in old.items()}
    cf = [(i, _j.loads(t)) for i, t in new["tl_custom_fields"]]
    cf[0][1]["label"] = "5.1 - OR-ID (renamed)"
    new["tl_custom_fields"] = [(i, _j.dumps(d)) for i, d in cf]
    eng = Engine(spark)
    with pytest.raises(ValueError, match="custom-field definitions changed"):
        run_pipeline_incremental(eng, old, new, REF_SPARQL_DIR)


def _org_rows(eng):
    g = GRAPH_NS + "organizations"
    return {
        (r["s"], r["p"], r["o_value"], r["o_type"], r["o_datatype"], r["o_lang"])
        for r in eng.store.graph(g).collect()
    }


@needs_ref
def test_incremental_shared_role_survives_user_removal(spark, tmp_path_factory):
    """The reference-counted delete the ledger exists for: two users
    share a function, so both derive the SAME org:Role typing and
    prefLabel quads (reference sparql/tl_users_mapping.sparql — the role
    subject is keyed by function alone). Removing one user must NOT
    delete the shared quads while the other still derives them. The
    pre-ledger delete-then-rederive closure got this wrong (probed
    r10: the role quads vanished); the ledger keeps a support row per
    group, so the delete only fires when support is empty."""
    import json as _j

    from knowledge_graph_etl_spark.mappings.pipeline import (
        run_pipeline_incremental,
    )

    old = {k: list(v) for k, v in fixture_documents().items()}
    users = [(i, _j.loads(t)) for i, t in old["tl_users"]]
    for _, d in users:
        if d["id"] == "user-uuid-2":
            d["function"] = "Account manager archieven"  # same as user 1
    old["tl_users"] = [(i, _j.dumps(d)) for i, d in users]
    new = {k: list(v) for k, v in old.items()}
    new["tl_users"] = [
        (i, t) for i, t in new["tl_users"] if _j.loads(t)["id"] != "user-uuid-2"
    ]

    eng = Engine(spark, store_path=str(tmp_path_factory.mktemp("shrole_a")))
    run_pipeline(eng, old, REF_SPARQL_DIR, run_id="r-old", optimize=False)
    run_pipeline_incremental(eng, old, new, REF_SPARQL_DIR, run_id="r-inc")
    eng2 = Engine(spark, store_path=str(tmp_path_factory.mktemp("shrole_b")))
    run_pipeline(eng2, new, REF_SPARQL_DIR, run_id="r-new", optimize=False)

    rows_a, rows_b = _org_rows(eng), _org_rows(eng2)
    assert rows_a == rows_b, (
        sorted(rows_a - rows_b)[:5],
        sorted(rows_b - rows_a)[:5],
    )
    # the shared role quads specifically survived
    role = (
        "https://data.hetarchief.be/id/organization-role/"
        "Account%20manager%20archieven"
    )
    assert any(q[0] == role and q[1] == RDF_TYPE for q in rows_a)
    # while the removed user's own person quads left
    import hashlib as _h

    gone = (
        "https://data.hetarchief.be/id/organization/"
        + _h.md5(b"user-uuid-2").hexdigest()
    )
    assert not any(q[0] == gone for q in rows_a)


@needs_ref
def test_incremental_tenant_entry_change(spark, tmp_path_factory):
    """A changed mediahaven tenant entry (whole-file source, entry-level
    diff) marks its org group affected: the old mh:label is retracted,
    the new one derived, and the org's other derivations (company/ldap)
    are rederived identically — full-refresh equivalence."""
    import json as _j

    from knowledge_graph_etl_spark.mappings.pipeline import (
        run_pipeline_incremental,
    )

    old = {k: list(v) for k, v in fixture_documents().items()}
    new = {k: list(v) for k, v in old.items()}
    doc_id, text = new["mediahaven_tenants"][0]
    tenants = _j.loads(text)
    assert any(t["ExternalId"] == "OR-abc123x" for t in tenants)
    for t in tenants:
        if t["ExternalId"] == "OR-abc123x":
            t["Name"] = "Archief Gent (hernoemd)"
    new["mediahaven_tenants"] = [(doc_id, _j.dumps(tenants))]

    eng = Engine(spark, store_path=str(tmp_path_factory.mktemp("ten_a")))
    run_pipeline(eng, old, REF_SPARQL_DIR, run_id="r-old", optimize=False)
    counters = run_pipeline_incremental(
        eng, old, new, REF_SPARQL_DIR, run_id="r-inc"
    )
    eng2 = Engine(spark, store_path=str(tmp_path_factory.mktemp("ten_b")))
    run_pipeline(eng2, new, REF_SPARQL_DIR, run_id="r-new", optimize=False)

    rows_a, rows_b = _org_rows(eng), _org_rows(eng2)
    assert rows_a == rows_b, (
        sorted(rows_a - rows_b)[:5],
        sorted(rows_b - rows_a)[:5],
    )
    mh = "https://data.hetarchief.be/ns/mediahaven/label"
    s = ORG + "OR-abc123x"
    assert (s, mh, "Archief Gent (hernoemd)", "literal", None, None) in rows_a
    assert not any(
        q[0] == s and q[1] == mh and q[2] != "Archief Gent (hernoemd)"
        for q in rows_a
    )
    assert counters["affected_groups"] == 1


@needs_ref
def test_ledger_invariant_and_seeded_full_run(spark, tmp_path_factory):
    """run_pipeline(ledger=True) produces the identical organizations
    graph AND a ledger whose distinct quads equal that graph (the ledger
    invariant the incremental algorithm relies on); every ledger row
    carries a non-null group key of the expected shape."""
    from knowledge_graph_etl_spark.mappings.pipeline import Ledger

    docs = fixture_documents()
    eng = Engine(spark, store_path=str(tmp_path_factory.mktemp("led_a")))
    run_pipeline(eng, docs, REF_SPARQL_DIR, run_id="r", optimize=False, ledger=True)
    eng2 = Engine(spark, store_path=str(tmp_path_factory.mktemp("led_b")))
    run_pipeline(eng2, docs, REF_SPARQL_DIR, run_id="r", optimize=False)
    assert _org_rows(eng) == _org_rows(eng2)

    led = Ledger.for_engine(eng).read()
    assert led is not None
    rows = led.collect()
    assert all(r["grp"] is not None for r in rows)
    assert all(r["grp"].startswith(("org:", "user:")) for r in rows)
    led_quads = {
        (r["s"], r["p"], r["o_value"], r["o_type"], r["o_datatype"], r["o_lang"])
        for r in rows
    }
    assert led_quads == _org_rows(eng)
    # every derived quad has at least one support row; the multi-support
    # (shared-derivation) behavior is pinned separately by
    # test_incremental_shared_role_survives_user_removal
    assert len(rows) >= len(led_quads)


@needs_ref
def test_pipeline_parallel_jobs_equals_sequential(spark, orgs):
    """run_pipeline(jobs=8) — the reference DAG's parallel mapping
    fan-out (load_knowledge_graph.py:685-695: every m* depends only on
    its extract and the target clear) re-expressed as concurrent driver
    threads plus ONE batched set-insert — produces the byte-identical
    organizations graph as the sequential task-per-update path, for both
    the plain and the ledger-seeding runs; the parallel-seeded ledger
    keeps the ledger invariant (distinct ledger quads == graph)."""
    from knowledge_graph_etl_spark.mappings.pipeline import Ledger

    docs = fixture_documents()
    eng = Engine(spark)
    run_pipeline(eng, docs, REF_SPARQL_DIR, run_id="r", optimize=False, jobs=8)
    assert _org_rows(eng) == orgs

    eng2 = Engine(spark)
    run_pipeline(
        eng2, docs, REF_SPARQL_DIR, run_id="r", optimize=False,
        ledger=True, jobs=8,
    )
    assert _org_rows(eng2) == orgs
    led = Ledger.for_engine(eng2).read()
    led_quads = {
        (r["s"], r["p"], r["o_value"], r["o_type"], r["o_datatype"], r["o_lang"])
        for r in led.collect()
    }
    assert led_quads == orgs


@needs_ref
def test_ledger_bucket_rewrite_is_partition_granular(spark, tmp_path_factory):
    """The ledger write an incremental run pays is ∝ delta, not corpus:
    only the bucket directories the affected/fresh groups hash into are
    rewritten — every other bucket's file listing (names, sizes,
    mtimes) is byte-identical after the run."""
    import json as _j

    from knowledge_graph_etl_spark.mappings.pipeline import (
        Ledger,
        run_pipeline_incremental,
    )

    old = {k: list(v) for k, v in fixture_documents().items()}
    new = {k: list(v) for k, v in old.items()}
    comps = [(i, _j.loads(t)) for i, t in new["tl_companies"]]
    for _, d in comps:
        if d["name"] == "Dienstverlener BV":
            d["website"] = "www.dienstverlener-v3.be"
    new["tl_companies"] = [(i, _j.dumps(d)) for i, d in comps]

    eng = Engine(spark, store_path=str(tmp_path_factory.mktemp("bgran")))
    run_pipeline(eng, old, REF_SPARQL_DIR, run_id="r", optimize=False, ledger=True)
    led_path = Ledger.for_engine(eng).path

    def listing():
        out = {}
        for b in sorted(os.listdir(led_path)):
            if not b.startswith("bucket="):
                continue
            d = os.path.join(led_path, b)
            out[b] = sorted(
                (f, os.path.getsize(os.path.join(d, f)),
                 os.path.getmtime(os.path.join(d, f)))
                for f in os.listdir(d)
                if not f.startswith("_")
            )
        return out

    before = listing()
    counters = run_pipeline_incremental(
        eng, old, new, REF_SPARQL_DIR, run_id="r-inc"
    )
    after = listing()
    touched = counters["ledger_buckets_touched"]
    assert 0 < touched < len(before)
    changed = {b for b in set(before) | set(after) if before.get(b) != after.get(b)}
    assert len(changed) <= touched, (changed, touched)
    # and most buckets were NOT rewritten
    same = [b for b in before if before[b] == after.get(b)]
    assert len(same) >= len(before) - touched


@needs_ref
def test_ledger_compact_preserves_content(spark, tmp_path_factory):
    """Ledger.compact (r10 verdict #10): an incremental bucket rewrite
    lands however many files the delta's partitioning carried into that
    bucket (a 32-partition delta can leave 32 small files per touched
    bucket at volume); the opt-in compact rewrites ONLY the
    over-threshold bucket directories — the (grp, quad) multiset is
    identical afterwards, fragmented buckets end with one right-sized
    file, and buckets below the threshold keep their exact listing."""
    from knowledge_graph_etl_spark.mappings.pipeline import Ledger

    old = {k: list(v) for k, v in fixture_documents().items()}
    eng = Engine(spark, store_path=str(tmp_path_factory.mktemp("lcomp")))
    run_pipeline(eng, old, REF_SPARQL_DIR, run_id="r", optimize=False, ledger=True)
    led = Ledger.for_engine(eng)

    # fragment the fullest bucket the way a pre-r14 wide incremental
    # write (or a multi-task seed write) would: rewrite its directory
    # with the same content split over 8 files. overwrite_buckets itself
    # now clusters by bucket before writing (one file per rewritten
    # bucket — asserted below), so fragmentation must be fabricated at
    # the file level.
    full = led.read()
    b0 = full.groupBy("bucket").count().orderBy(F.desc("count")).first()["bucket"]
    rows = full.where(F.col("bucket") == b0).collect()  # sever path lineage
    delta = spark.createDataFrame(rows, full.schema)
    led.overwrite_buckets(delta.repartition(8), [int(b0)])
    bdir = os.path.join(led.path, f"bucket={int(b0)}")
    # the clustered write defragments even an 8-partition delta
    assert (
        sum(f.endswith(".parquet") for f in os.listdir(bdir)) == 1
    ), "overwrite_buckets should write one file per touched bucket"
    (
        delta.drop("bucket")
        .repartition(8)
        .write.mode("overwrite")
        .parquet(bdir)
    )

    from collections import Counter

    def content():
        return Counter(
            tuple(r) for r in led.read().drop("bucket").collect()
        )

    def files_per_bucket():
        out = {}
        for b in sorted(os.listdir(led.path)):
            d = os.path.join(led.path, b)
            if b.startswith("bucket=") and os.path.isdir(d):
                out[b] = sorted(
                    f for f in os.listdir(d) if f.endswith(".parquet")
                )
        return out

    before_rows, before_files = content(), files_per_bucket()
    frag = {b for b, fs in before_files.items() if len(fs) > 1}
    assert frag, "expected at least one fragmented bucket after 3 cycles"

    stats = led.compact(min_files=1)
    after_rows, after_files = content(), files_per_bucket()

    assert after_rows == before_rows  # exact (grp, quad) multiset
    assert stats["buckets_compacted"] == len(frag)
    assert all(len(after_files[b]) == 1 for b in frag), after_files
    # untouched (below-threshold) buckets keep their exact listing
    for b in set(before_files) - frag:
        assert after_files.get(b) == before_files[b], b


def test_ledger_compact_noops(spark, tmp_path):
    """compact() on a never-seeded ledger is a safe no-op reporting zeros
    (nothing on disk to rewrite)."""
    from knowledge_graph_etl_spark.mappings.pipeline import Ledger

    unseeded = Ledger(spark, str(tmp_path / "never_written"))
    assert unseeded.compact() == {
        "buckets_compacted": 0,
        "files_before": 0,
        "files_after": 0,
    }
