"""CONSTRUCT-style INSERT templates (SURVEY.md §2 ops 21-22, 24).

For each WHERE-binding row, emit one output quad per template triple.
Template terms are :class:`Var` references into the bindings or constant
:class:`Term` values. Any template triple containing an unbound (NULL)
term is skipped for that row — load-bearing because OPTIONAL variables
feed templates (reference sparql/ldap_mapping_org.sparql:21→42).

The union of all template triples is deduplicated (triple-store set
semantics) and routed to the target graph (``WITH <g>`` /
``GRAPH <g> {}`` — both compile to a constant ``g`` column, op 22).

All template triples come from ONE explode over the bindings, so the
bindings are read once and :func:`construct` checkpoints nothing; a
caller whose bindings have other consumers pins them (:mod:`..ckpt`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..terms import IRI, QUAD_COLUMNS, Term
from .bgp import Var, _companion


def _null_str() -> Column:
    return F.lit(None).cast("string")


def _subject_cols(t, df_cols: set[str]) -> tuple[Column, Column]:
    if isinstance(t, Var):
        stype = (
            F.col(_companion(t.name, "type"))
            if _companion(t.name, "type") in df_cols
            else F.lit(IRI)
        )
        return F.col(t.name), stype
    return F.lit(t.value), F.lit(t.type)


def _object_cols(t, df_cols: set[str]) -> tuple[Column, Column, Column, Column]:
    if isinstance(t, Var):
        c = lambda kind, default: (
            F.col(_companion(t.name, kind))
            if _companion(t.name, kind) in df_cols
            else default
        )
        return (
            F.col(t.name),
            c("type", F.lit("literal")),
            c("dt", _null_str()),
            c("lang", _null_str()),
        )
    return (
        F.lit(t.value),
        F.lit(t.type),
        F.lit(t.datatype).cast("string"),
        F.lit(t.lang).cast("string"),
    )


def construct(
    bindings: DataFrame,
    template: list[tuple],
    target_graph: "str | None | Var",
    carry: list[str] | None = None,
) -> DataFrame:
    """Instantiate ``template`` (list of (s, p, o) with Var/Term entries)
    against the bindings, returning a deduplicated quads DataFrame for
    ``target_graph``.

    ``target_graph`` may be a :class:`Var` (``INSERT { GRAPH ?g { ... } }``,
    the per-row routing of SPARQL 1.1 quad templates — e.g. the standard
    "rewrite every named graph" idiom): the output's ``g`` column reads the
    binding, rows with it unbound (or bound to a literal — a graph name
    must be an IRI) are skipped like any other unbound template term.

    ``bindings`` is read exactly once, however many triples the template
    has (one explode, see below), so nothing here is checkpointed: a
    caller whose bindings feed other consumers too pins them itself
    (:mod:`..ckpt`), as the update compiler does.

    ``carry``: binding columns to project VERBATIM onto every output quad
    row — the provenance hook (incremental pipeline maintenance carries
    the derivation's group key, e.g. the bound ``?orid``, on each derived
    quad). Carried columns join the dedup key, so the same quad derived
    under two different carried values keeps both rows — exactly the
    multiset a reference-counted delete needs."""
    cols = set(bindings.columns)
    if isinstance(target_graph, Var):
        g_col = F.col(target_graph.name)
        g_type_comp = _companion(target_graph.name, "type")
        g_guard = g_col.isNotNull()
        if g_type_comp in cols:
            g_guard = g_guard & (F.col(g_type_comp) == IRI)
        # one shared filter on the bindings (the guard references the
        # companion column, which the quad projection below drops)
        bindings = bindings.where(g_guard)
    else:
        # explicit string cast: target_graph=None (read-side CONSTRUCT
        # default graph) must yield a typed NULL column, not NullType
        g_col = F.lit(target_graph).cast("string")
    # One explode over an array of per-triple structs instead of a
    # unionByName fold of one SELECT per template triple (r13, guide
    # §5/§7.3 + §2.4): the fold built 2 DataFrame ops per triple plus a
    # union chain whose JVM analysis re-walked the growing tree per link
    # (~0.6 s of driver time per 16-triple compile), and at EXECUTION
    # time each union branch re-scanned the materialized bindings — 16
    # scans per update where one suffices. The explode emits exactly the
    # same row multiset: per binding row, one struct per triple, with the
    # unbound-term skip (op 21 — NULL term, or a literal subject: RDF
    # subjects are IRIs/bnodes, SPARQL drops such instantiations rather
    # than emitting malformed quads) expressed as a per-struct WHEN
    # guard; guard-failing structs explode as NULLs and one filter drops
    # them. Same trick as ingest.quadify.
    entries: list[Column] = []
    for s, p, o in template:
        s_val, s_type = _subject_cols(s, cols)
        if isinstance(p, Var):
            p_val: Column = F.col(p.name)
        else:
            p_val = F.lit(p.value if isinstance(p, Term) else p)
        o_val, o_type, o_dt, o_lang = _object_cols(o, cols)
        entries.append(
            F.when(
                s_val.isNotNull()
                & p_val.isNotNull()
                & o_val.isNotNull()
                & (s_type != "literal"),
                # no explicit casts: F.array coerces its element structs
                # to a common type with the same rules unionByName used,
                # so a single-triple template keeps its exact column
                # types and mixed templates coerce as before
                F.struct(
                    s_val.alias("s"),
                    s_type.alias("s_type"),
                    p_val.alias("p"),
                    o_val.alias("o_value"),
                    o_type.alias("o_type"),
                    o_dt.alias("o_datatype"),
                    o_lang.alias("o_lang"),
                ),
            )
        )
    exploded = bindings.select(
        g_col.alias("g"),
        *[F.col(c) for c in (carry or [])],
        F.explode(F.array(*entries)).alias("__t"),
    ).where(F.col("__t").isNotNull())
    out = exploded.select(
        "g",
        F.col("__t.s").alias("s"),
        F.col("__t.s_type").alias("s_type"),
        F.col("__t.p").alias("p"),
        F.col("__t.o_value").alias("o_value"),
        F.col("__t.o_type").alias("o_type"),
        F.col("__t.o_datatype").alias("o_datatype"),
        F.col("__t.o_lang").alias("o_lang"),
        *[F.col(c) for c in (carry or [])],
    )
    return out.dropDuplicates(QUAD_COLUMNS + list(carry or []))
