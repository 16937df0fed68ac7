"""SPARQL 1.1 property-path evaluation over the quads table.

Beyond the reference's workload (its 16 mapping queries use only plain
predicates) but core to any SPARQL engine surface: ``p/q`` sequence,
``^p`` inverse, ``p|q`` alternative, ``p+`` / ``p*`` / ``p?`` closures and
negated property sets including inverse members ``!(p|^q)``
(SPARQL 1.1 §9.1: forward side bans P on forward edges, inverse side
bans Pinv on reversed edges, union of both).

A path evaluates to a PAIR RELATION — endpoint terms
``(av, at, ad, al, bv, bt, bd, bl)`` (value/type/datatype/lang for each
side) — composed with the same null-safe term-equality rule the BGP joins
use: a sequence step joins the left path's object term onto the right
path's subject term, so a literal middle (which can never be a subject)
correctly continues nothing.

Multiplicity follows the spec: ``/``, ``^`` and ``|`` are algebra
translations and keep duplicate solutions (``?s p/q ?o`` yields one row
per intermediate), while ``+`` and ``*`` are DISTINCT by definition
(§18.4 ZeroOrMorePath/OneOrMorePath are set-based — an engine that
enumerated paths through a cycle would not terminate).

Scale shape: every step is an equi-join on term columns; the closure is
semi-naive iteration (only the frontier joins per round, not the whole
reachability set) with the same lazy-localCheckpoint-per-round pattern as
``extensions.dedup.resolve_clusters`` — plans severed each round, one
count action per round, bounded by ``max_iter``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ckpt import pin
from ..terms import LITERAL, Term
from .bgp import Var, _companion

_XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"

_ACOLS = ("av", "at", "ad", "al")
_BCOLS = ("bv", "bt", "bd", "bl")


def _nstr():
    return F.lit(None).cast("string")


def _step(dataset: DataFrame, p_iri: str) -> DataFrame:
    """One predicate's edge pairs (subject term → object term)."""
    return dataset.where(F.col("p") == p_iri).select(
        F.col("s").alias("av"),
        F.col("s_type").alias("at"),
        _nstr().alias("ad"),
        _nstr().alias("al"),
        F.col("o_value").alias("bv"),
        F.col("o_type").alias("bt"),
        F.col("o_datatype").alias("bd"),
        F.col("o_lang").alias("bl"),
    )


def _swap(pairs: DataFrame) -> DataFrame:
    return pairs.select(
        *[F.col(b).alias(a) for a, b in zip(_ACOLS, _BCOLS)],
        *[F.col(a).alias(b) for a, b in zip(_ACOLS, _BCOLS)],
    )


def _pair_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """left ∘ right: join left's b-term onto right's a-term (full
    null-safe term equality), keep left.a → right.b."""
    r = right
    for c in right.columns:
        r = r.withColumnRenamed(c, f"r_{c}")
    cond = (
        (F.col("bv") == F.col("r_av"))
        & (F.col("bt") == F.col("r_at"))
        & F.col("bd").eqNullSafe(F.col("r_ad"))
        & F.col("bl").eqNullSafe(F.col("r_al"))
    )
    return left.join(r, cond).select(
        *_ACOLS, *[F.col(f"r_{b}").alias(b) for b in _BCOLS]
    )


def _identity(dataset: DataFrame) -> DataFrame:
    """Zero-length path pairs: every term in the graph related to itself
    (SPARQL 1.1 §18.4 ZeroLengthPath — all subjects and objects)."""
    subs = dataset.select(
        F.col("s").alias("v"),
        F.col("s_type").alias("t"),
        _nstr().alias("d"),
        _nstr().alias("l"),
    )
    objs = dataset.select(
        F.col("o_value").alias("v"),
        F.col("o_type").alias("t"),
        F.col("o_datatype").alias("d"),
        F.col("o_lang").alias("l"),
    )
    terms = subs.unionByName(objs).distinct()
    return terms.select(
        F.col("v").alias("av"), F.col("t").alias("at"),
        F.col("d").alias("ad"), F.col("l").alias("al"),
        F.col("v").alias("bv"), F.col("t").alias("bt"),
        F.col("d").alias("bd"), F.col("l").alias("bl"),
    )


def _minus(left: DataFrame, right: DataFrame) -> DataFrame:
    """left ANTI right on all eight pair columns (null-safe)."""
    allc = list(_ACOLS + _BCOLS)
    r = right
    for c in allc:
        r = r.withColumnRenamed(c, f"k_{c}")
    cond = None
    for c in allc:
        e = F.col(c).eqNullSafe(F.col(f"k_{c}"))
        cond = e if cond is None else (cond & e)
    return left.join(r, cond, "left_anti")


def _closure(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Transitive closure (OneOrMorePath) by PATH DOUBLING: each round
    extends the newly-found paths by every already-known path
    (frontier ∘ reach), so reachable path length doubles per round —
    ``max_iter`` rounds cover any diameter < 2^max_iter (a linear
    frontier ∘ base scheme would cap at max_iter hops and crash on a
    deep chain). Terminates when no new pairs appear; one count action
    per round, plans severed by lazy checkpoints."""
    base = pin(pairs.distinct())
    reach = base
    frontier = base
    for _ in range(max_iter):
        stepped = _pair_join(frontier, reach).distinct()
        new = pin(_minus(stepped, reach), lazy=True)
        if new.count() == 0:
            return reach
        reach = pin(reach.unionByName(new), lazy=True)
        frontier = new
    raise RuntimeError(f"path closure did not converge within {max_iter} rounds")


def _closure_from(
    pairs: DataFrame, seed: DataFrame, max_iter: int = 1000
) -> DataFrame:
    """Single-source reachability: BFS from the ``seed`` pair set (pairs
    whose a-term satisfied a constant endpoint), one hop per round —
    each round's join is bounded by the frontier, not the whole relation,
    which is the plan a constant-endpoint closure wants at scale (the
    all-pairs closure would compute full-graph reachability and then
    filter). Rounds = eccentricity of the source set."""
    base = pin(pairs.distinct())
    reach = pin(seed.distinct())
    frontier = reach
    for _ in range(max_iter):
        stepped = _pair_join(frontier, base).distinct()
        new = pin(_minus(stepped, reach), lazy=True)
        if new.count() == 0:
            return reach
        reach = pin(reach.unionByName(new), lazy=True)
        frontier = new
    raise RuntimeError(f"path closure did not converge within {max_iter} rounds")


def eval_path(dataset: DataFrame, node) -> DataFrame:
    """Path AST → pair relation. ``node`` is an ``IriT`` or a
    ``plans.parser.PathT`` (op in seq/alt/inv/plus/star/opt/nps)."""
    # late import: parser imports nothing from here, avoid cycles
    from ..plans.parser import IriT, PathT

    if isinstance(node, IriT):
        return _step(dataset, node.value)
    if not isinstance(node, PathT):
        raise TypeError(f"unexpected path node {node!r}")
    if node.op == "inv":
        return _swap(eval_path(dataset, node.parts[0]))
    if node.op == "seq":
        out = eval_path(dataset, node.parts[0])
        for part in node.parts[1:]:
            out = _pair_join(out, eval_path(dataset, part))
        return out
    if node.op == "alt":
        out = eval_path(dataset, node.parts[0])
        for part in node.parts[1:]:
            out = out.unionByName(eval_path(dataset, part))
        return out
    if node.op == "nps":
        # negated property set with (iri, inverted) members, SPARQL 1.1
        # §9.1 / §18.2.2.3: split into forward set P and inverse set Pinv;
        # !(P|^Pinv) ≡ NPS(P) ∪ inv(NPS(Pinv)) — each side bans only its
        # own member set, evaluated as one scan with an isin anti-filter
        fwd = [iri for iri, inverted in node.parts if not inverted]
        rev = [iri for iri, inverted in node.parts if inverted]

        def edges(banned: list) -> DataFrame:
            return dataset.where(~F.col("p").isin(banned)).select(
                F.col("s").alias("av"),
                F.col("s_type").alias("at"),
                _nstr().alias("ad"),
                _nstr().alias("al"),
                F.col("o_value").alias("bv"),
                F.col("o_type").alias("bt"),
                F.col("o_datatype").alias("bd"),
                F.col("o_lang").alias("bl"),
            )

        sides = []
        if fwd or not rev:
            sides.append(edges(fwd))
        if rev:
            sides.append(_swap(edges(rev)))
        out = sides[0]
        for extra in sides[1:]:
            out = out.unionByName(extra)
        return out
    if node.op == "opt":
        # ZeroOrOnePath: the step's pairs plus every graph term to itself
        return (
            eval_path(dataset, node.parts[0])
            .unionByName(_identity(dataset))
            .distinct()
        )
    if node.op == "plus":
        return _closure(eval_path(dataset, node.parts[0]))
    if node.op == "star":
        closed = _closure(eval_path(dataset, node.parts[0]))
        return closed.unionByName(_identity(dataset)).distinct()
    raise ValueError(f"unsupported path op {node.op!r}")


def path_solution(dataset: DataFrame, s, path_node, o) -> DataFrame:
    """Compile ``s <path> o`` into a solution-mapping DataFrame shaped
    exactly like :func:`..operators.bgp.pattern` output (var columns +
    ``__type/__dt/__lang`` companions), ready for ``BGPBuilder.join_group``.
    ``s``/``o`` are :class:`Var` or constants (str = IRI for s, plain
    literal for o, or :class:`Term`)."""
    from ..plans.parser import PathT

    def _term_conds(term, vcol, tcol, dcol, lcol, default_type) -> list:
        out = []
        if isinstance(term, Term):
            out.append(F.col(vcol) == term.value)
            out.append(F.col(tcol) == term.type)
            if term.type == LITERAL and term.datatype in (None, _XSD_STRING):
                # RDF 1.1: "x" and "x"^^xsd:string are the SAME term —
                # mirror bgp._object_conds' folding so a constant matches
                # identically whether the predicate is a path or not
                out.append(
                    F.col(dcol).isNull() | (F.col(dcol) == _XSD_STRING)
                )
            else:
                out.append(
                    F.col(dcol).eqNullSafe(F.lit(term.datatype).cast("string"))
                )
            out.append(F.col(lcol).eqNullSafe(F.lit(term.lang).cast("string")))
        elif default_type == "literal":
            out.append(F.col(vcol) == term)
            out.append(F.col(tcol) == default_type)
            out.append(F.col(dcol).isNull() | (F.col(dcol) == _XSD_STRING))
            out.append(F.col(lcol).isNull())
        else:
            out.append(F.col(vcol) == term)
            out.append(F.col(tcol) == default_type)
        return out

    # constant endpoint + top-level closure: seed the iteration from the
    # constant instead of computing ALL-PAIRS reachability and filtering —
    # single-source BFS bounded by the reachable subgraph per round
    closed = None
    if isinstance(path_node, PathT) and path_node.op in ("plus", "star"):
        inner = None
        if not isinstance(s, Var):
            inner = eval_path(dataset, path_node.parts[0])
            seed = inner
            for c in _term_conds(s, "av", "at", "ad", "al", "iri"):
                seed = seed.where(c)
            closed = _closure_from(inner, seed)
        elif not isinstance(o, Var):
            inner = _swap(eval_path(dataset, path_node.parts[0]))
            seed = inner
            for c in _term_conds(o, "av", "at", "ad", "al", "literal"):
                seed = seed.where(c)
            closed = _swap(_closure_from(inner, seed))
        if closed is not None and path_node.op == "star":
            ident = _identity(dataset)
            col_set = (
                ("av", "at", "ad", "al", "iri")
                if not isinstance(s, Var)
                else ("bv", "bt", "bd", "bl", "literal")
            )
            term = s if not isinstance(s, Var) else o
            for c in _term_conds(term, *col_set):
                ident = ident.where(c)
            closed = closed.unionByName(ident).distinct()

    pairs = closed if closed is not None else eval_path(dataset, path_node)
    conds = []
    cols = []

    def _const_conds(term, vcol, tcol, dcol, lcol, default_type):
        conds.extend(_term_conds(term, vcol, tcol, dcol, lcol, default_type))

    if isinstance(s, Var):
        cols += [
            F.col("av").alias(s.name),
            F.col("at").alias(_companion(s.name, "type")),
            F.col("ad").alias(_companion(s.name, "dt")),
            F.col("al").alias(_companion(s.name, "lang")),
        ]
    else:
        _const_conds(s, "av", "at", "ad", "al", "iri")

    if isinstance(o, Var):
        if isinstance(s, Var) and o.name == s.name:
            # ?x path ?x — same term at both ends
            conds.append(
                (F.col("av") == F.col("bv"))
                & (F.col("at") == F.col("bt"))
                & F.col("ad").eqNullSafe(F.col("bd"))
                & F.col("al").eqNullSafe(F.col("bl"))
            )
        else:
            cols += [
                F.col("bv").alias(o.name),
                F.col("bt").alias(_companion(o.name, "type")),
                F.col("bd").alias(_companion(o.name, "dt")),
                F.col("bl").alias(_companion(o.name, "lang")),
            ]
    else:
        _const_conds(o, "bv", "bt", "bd", "bl", "literal")

    out = pairs
    for c in conds:
        out = out.where(c)
    if not cols:
        # both endpoints constant: boolean-shaped solution (0/1 rows)
        return out.select(F.lit(1).alias("__path_hit")).limit(1)
    return out.select(*cols)
