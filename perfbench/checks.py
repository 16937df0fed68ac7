"""Expected results computed without the SPARQL compiler.

Every answer here is plain DataFrame code over direct-mapped quads, so a
wrong plan from ``plans.compiler`` or a lost write in ``store`` shows as
a mismatch instead of agreeing with itself."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from knowledge_graph_etl_spark.engine import GRAPH_NS, SOURCE_NS
from knowledge_graph_etl_spark.mappings.pipeline import asset_prefix
from knowledge_graph_etl_spark.terms import QUAD_COLUMNS, RDF_TYPE

ORGANIZATIONS = GRAPH_NS + "organizations"
ORG_IRI = "https://data.hetarchief.be/id/organization/"
ORG_CLASS = "http://www.w3.org/ns/org#Organization"
SCHEMA_LOGO = "https://schema.org/logo"
ENV = "qas"


def fingerprints(quads: DataFrame) -> dict[str, tuple[int, int]]:
    """graph → (quad count, order-free sum of per-quad hashes)."""
    h = F.xxhash64(
        *[F.coalesce(F.col(c), F.lit("\u0000")) for c in QUAD_COLUMNS]
    ).cast("decimal(38,0)")
    rows = (
        quads.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"))
        .collect()
    )
    return {r["g"]: (int(r["n"]), int(r["h"])) for r in rows}


def inventory(path: str) -> tuple[int, int]:
    """(file count, total bytes) of everything under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for name in names:
            files += 1
            size += os.path.getsize(os.path.join(d, name))
    return files, size


def _plain(df: DataFrame) -> DataFrame:
    return df.where(
        (F.col("o_type") == "literal")
        & F.col("o_datatype").isNull()
        & F.col("o_lang").isNull()
    )


def _edges(q: DataFrame, graph: str, prop: str) -> DataFrame:
    """Quads of one source predicate in one staging graph."""
    return q.where(
        (F.col("g") == GRAPH_NS + graph) & (F.col("p") == SOURCE_NS + prop)
    )


def company_orids(q: DataFrame) -> DataFrame:
    """(o, orid): the logo mapping's nested custom-field join, company
    root → custom field → definition id equal to the OR-ID field's id."""
    orid_def = _plain(_edges(q, "tl_custom_fields", "label")).where(
        F.col("o_value") == "5.1 - OR-ID"
    ).select("s")
    def_id = (
        _plain(_edges(q, "tl_custom_fields", "id"))
        .join(orid_def, "s")
        .select(F.col("o_value").alias("def_id"))
    )
    fields = _edges(q, "tl_companies", "custom_fields").select(
        F.col("s").alias("o"), F.col("o_value").alias("cf")
    )
    value = _edges(q, "tl_companies", "value").select(
        F.col("s").alias("cf"), F.col("o_value").alias("orid")
    )
    definition = _edges(q, "tl_companies", "definition").select(
        F.col("s").alias("cf"), F.col("o_value").alias("d")
    )
    ids = _plain(_edges(q, "tl_companies", "id")).select(
        F.col("s").alias("d"), F.col("o_value").alias("def_id")
    )
    return (
        fields.join(value, "cf")
        .join(definition, "cf")
        .join(ids, "d")
        .join(F.broadcast(def_id), "def_id")
        .select("o", "orid")
    )


def ldap_orids(q: DataFrame) -> DataFrame:
    """(o, orid) of ldap entries whose objectClass includes organization."""
    orgs = _plain(_edges(q, "ldap_organizations", "objectClass")).where(
        F.col("o_value") == "organization"
    ).select("s")
    return (
        _edges(q, "ldap_organizations", "o")
        .join(orgs, "s")
        .select(F.col("s").alias("o"), F.col("o_value").alias("orid"))
    )


def expected_organizations(q: DataFrame) -> tuple[int, int]:
    """Fingerprint of ``graphs:organizations`` after the two logo
    mappings over staged quads ``q``."""
    orids = company_orids(q).select("orid").union(ldap_orids(q).select("orid"))
    org = F.concat(F.lit(ORG_IRI), F.col("orid"))
    iri = F.lit("iri")
    none = F.lit(None).cast("string")

    def quads(p, o):
        return orids.select(
            F.lit(ORGANIZATIONS).alias("g"),
            org.alias("s"),
            iri.alias("s_type"),
            F.lit(p).alias("p"),
            o.alias("o_value"),
            iri.alias("o_type"),
            none.alias("o_datatype"),
            none.alias("o_lang"),
        )

    out = quads(RDF_TYPE, F.lit(ORG_CLASS)).union(
        quads(SCHEMA_LOGO, F.concat(F.lit(asset_prefix(ENV)), F.col("orid")))
    )
    return fingerprints(out.distinct()).get(ORGANIZATIONS, (0, 0))


# -- read_mix answers --------------------------------------------------------


def _rows(df: DataFrame) -> list[tuple]:
    return sorted(tuple(None if v is None else str(v) for v in r) for r in df.collect())


def _grouped(df: DataFrame, key: str) -> dict[str, list[tuple]]:
    out: dict[str, list[tuple]] = {}
    for r in df.collect():
        out.setdefault(r[key], []).append(
            tuple(str(v) for k, v in r.asDict().items() if k != key)
        )
    return {k: sorted(v) for k, v in out.items()}


def city_counts(q: DataFrame) -> list[tuple]:
    """Address nodes with city, postal code and street, counted per city."""
    city = _edges(q, "tl_companies", "city").select("s", F.col("o_value").alias("city"))
    pc = _edges(q, "tl_companies", "postal_code").select("s")
    line = _edges(q, "tl_companies", "line_1").select("s")
    return _rows(city.join(pc, "s").join(line, "s").groupBy("city").count())


def websites_by_name(q: DataFrame) -> dict[str, list[tuple]]:
    """name literal → [(subject, website)] over every graph."""
    name = _plain(q.where(F.col("p") == SOURCE_NS + "name")).select(
        "s", F.col("o_value").alias("name")
    )
    site = q.where(F.col("p") == SOURCE_NS + "website").select(
        "s", F.col("o_value").alias("w")
    )
    return _grouped(name.join(site, "s").select("name", "s", "w"), "name")


def users_without_function(q: DataFrame) -> list[tuple]:
    email = _edges(q, "tl_users", "email").select("s", "o_value")
    func = _edges(q, "tl_users", "function").select("s")
    return _rows(email.join(func, "s", "left_anti"))


def companies_with_orid(q: DataFrame) -> list[tuple]:
    return _rows(company_orids(q))


def names_by_postal_code(q: DataFrame) -> dict[str, list[tuple]]:
    """postal code → [(company, name)] through addresses/address/postal_code."""
    addresses = _edges(q, "tl_companies", "addresses").select(
        F.col("s").alias("c"), F.col("o_value").alias("a")
    )
    address = _edges(q, "tl_companies", "address").select(
        F.col("s").alias("a"), F.col("o_value").alias("ad")
    )
    pc = _plain(_edges(q, "tl_companies", "postal_code")).select(
        F.col("s").alias("ad"), F.col("o_value").alias("pc")
    )
    name = _edges(q, "tl_companies", "name").select(
        F.col("s").alias("c"), F.col("o_value").alias("name")
    )
    rows = addresses.join(address, "a").join(pc, "ad").join(name, "c")
    return _grouped(rows.select("pc", "c", "name"), "pc")


def described_units(q: DataFrame) -> set[str]:
    """``ou`` values of subjects that also carry a description."""
    ou = _plain(q.where(F.col("p") == SOURCE_NS + "ou")).select("s", "o_value")
    desc = q.where(F.col("p") == SOURCE_NS + "description").select("s")
    return {r["o_value"] for r in ou.join(desc, "s", "left_semi").collect()}
