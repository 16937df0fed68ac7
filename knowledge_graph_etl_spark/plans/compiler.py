"""Compile the parsed SPARQL-Update algebra onto DataFrame plans.

The pipeline is: SPARQL text → algebra (:mod:`.parser`) → one declarative
DataFrame expression built from the operator combinators
(:mod:`..operators.bgp`, :mod:`..operators.construct`) → Catalyst owns
physical planning (SURVEY.md §3 entry point 2, §4.2).

Compile-time choices this layer makes (the only "optimizer" we add on
top of Catalyst, SURVEY.md §4.2):

  * **Join-order seed**: within each run of consecutive triple patterns,
    greedy connectivity ordering — start from the most selective pattern
    (constant object, e.g. the custom-field label lookups of
    reference sparql/tl_companies_mapping_org.sparql:39), then always
    prefer a pattern sharing a variable with what's already joined, so
    cross joins only happen when the query itself is disconnected.
  * **notNull template pruning** is inserted by
    :func:`..operators.construct.construct`.

Everything else (pushdown, pruning, broadcast selection, AQE skew
handling) is left to Catalyst — the patterns compile to filtered scans
of the quads table whose g/p/o constants reach the parquet reader.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ckpt import Checkpoints, pin
from ..functions import (
    TermExpr,
    encode_for_uri,
    strafter,
    strbefore,
)
from ..operators.bgp import BGPBuilder, Var, _companion, _term_join, pattern, star_scan
from ..operators.construct import construct
from ..operators.paths import path_solution
from ..terms import (
    BNODE,
    IRI,
    LITERAL,
    QUAD_SCHEMA,
    RDF_LANGSTRING,
    XSD_STRING,
    Term,
)
from .parser import (
    AggCall,
    ArithExpr,
    AskQuery,
    BoolExpr,
    CmpExpr,
    NotExpr,
    BindExpr,
    BNodeT,
    ConstructQuery,
    DeleteData,
    DeleteWhere,
    DescribeQuery,
    FilterExpr,
    FuncCall,
    GraphCopy,
    GraphGroup,
    Group,
    GraphDDL,
    InsertData,
    InsertWhere,
    LoadGraph,
    IriT,
    LitT,
    ExistsFilter,
    MinusGroup,
    OptionalGroup,
    PathT,
    ServiceGroup,
    SubSelect,
    UnionGroup,
    ValuesClause,
    SelectQuery,
    TriplePattern,
    VarT,
)


def _term_to_pattern_arg(t):
    """Convert an AST term to a ``pattern()`` argument."""
    if isinstance(t, VarT):
        return Var(t.name)
    if isinstance(t, IriT):
        return Term(t.value, IRI)
    if isinstance(t, LitT):
        return Term(t.value, LITERAL, t.datatype, t.lang)
    raise TypeError(f"unexpected term {t!r}")


def _pattern_vars(tp: TriplePattern) -> set[str]:
    return {t.name for t in (tp.s, tp.p, tp.o) if isinstance(t, VarT)}


def _order_patterns(patterns: list[TriplePattern]) -> list[TriplePattern]:
    """Greedy connectivity order seeded on selectivity (see module doc)."""
    remaining = list(patterns)
    ordered: list[TriplePattern] = []
    bound: set[str] = set()

    def selectivity(tp: TriplePattern) -> int:
        # lower = more selective: constant object beats constant-subject
        # beats all-var (predicates are almost always constant here);
        # ties keep the input order (min is stable)
        if not isinstance(tp.o, VarT):
            return 0
        if not isinstance(tp.s, VarT):
            return 1
        return 2

    while remaining:
        if not ordered:
            pick = min(remaining, key=selectivity)
        else:
            connected = [tp for tp in remaining if _pattern_vars(tp) & bound]
            pick = min(connected or remaining, key=selectivity)
        remaining.remove(pick)
        ordered.append(pick)
        bound |= _pattern_vars(pick)
    return ordered


# --------------------------------------------------------------------------
# Expression compilation
# --------------------------------------------------------------------------


def _null_str() -> Column:
    return F.lit(None).cast("string")


def _var_term(name: str, cols: set[str]) -> TermExpr:
    c = lambda kind, default: (
        F.col(_companion(name, kind)) if _companion(name, kind) in cols else default
    )
    if name not in cols:
        # referencing a variable that is nowhere in scope: SPARQL evaluates
        # to unbound (e.g. ?amid when the OPTIONAL that binds it matched
        # nothing for any row still exists as a column; a truly absent
        # variable is constant-unbound)
        return TermExpr(_null_str(), _null_str(), _null_str(), _null_str())
    return TermExpr(
        F.col(name),
        c("type", F.lit(LITERAL)),
        c("dt", _null_str()),
        c("lang", _null_str()),
    )


def _lit_str(node) -> str | None:
    """Python string of a literal AST node (for regex/separator args)."""
    return node.value if isinstance(node, LitT) else None


def _term_eq_cond(l: TermExpr, r: TermExpr) -> Column:
    """RDF 1.1 same-term equality between two term expressions — the ONE
    definition shared by FILTER ``=`` (non-numeric branch) and sameTerm():
    lexical form (compared as STRINGS — one side may be a numeric-typed
    expression, and a bare string==double comparison would make ANSI mode
    cast-and-ABORT on non-numeric rows), term type, datatype with
    xsd:string folded to the plain form (RDF 1.1: they are the same term),
    and language tag, all null-safe on the companions."""
    ld = F.when(l.datatype == XSD_STRING, _null_str()).otherwise(l.datatype)
    rd = F.when(r.datatype == XSD_STRING, _null_str()).otherwise(r.datatype)
    return (
        (l.value.cast("string") == r.value.cast("string"))
        & l.type.eqNullSafe(r.type)
        & ld.eqNullSafe(rd)
        & l.lang.eqNullSafe(r.lang)
    )


def compile_expr(node, cols: set[str]) -> TermExpr:
    """AST expression → TermExpr (value + term-metadata columns).

    SPARQL error-propagation (unbound arg → unbound result) maps onto
    Spark NULL propagation for this function set (SURVEY.md §2 op 20).
    """
    if isinstance(node, VarT):
        return _var_term(node.name, cols)
    if isinstance(node, LitT):
        dt = None if node.datatype is None else node.datatype
        return TermExpr(
            F.lit(node.value),
            F.lit(LITERAL),
            F.lit(dt).cast("string"),
            F.lit(node.lang).cast("string"),
        )
    if isinstance(node, IriT):
        return TermExpr(F.lit(node.value), F.lit(IRI), _null_str(), _null_str())
    if isinstance(node, CmpExpr):
        return TermExpr.literal_value(_compile_cmp(node, cols))
    if isinstance(node, ArithExpr):
        # SPARQL §17.3 numeric operators on the lexical store: operands
        # evaluate as doubles (try_cast → non-numeric is a type error →
        # NULL → unbound); division by zero is likewise an error, not inf
        l = compile_expr(node.left, cols).value.try_cast("double")
        r = compile_expr(node.right, cols).value.try_cast("double")
        if node.op == "+":
            out = l + r
        elif node.op == "-":
            out = l - r
        elif node.op == "*":
            out = l * r
        else:
            out = F.when(r != 0, l / r)
        return TermExpr.literal_value(out)
    if isinstance(node, BoolExpr):
        # try_cast: a non-boolean operand is an EBV type error → NULL →
        # the row is dropped; a plain cast would ABORT the query under
        # ANSI mode (Spark 4 default)
        vals = [
            compile_expr(p, cols).value.try_cast("boolean") for p in node.parts
        ]
        out = vals[0]
        for v in vals[1:]:
            out = (out | v) if node.op == "or" else (out & v)
        return TermExpr.literal_value(out)
    if isinstance(node, NotExpr):
        return TermExpr.literal_value(
            ~compile_expr(node.expr, cols).value.try_cast("boolean")
        )
    if not isinstance(node, FuncCall):
        raise TypeError(f"unexpected expression node {node!r}")

    name, args = node.name, node.args
    _check_arity(name, args)

    if name == "CONCAT":
        vals = [compile_expr(a, cols).value for a in args]
        return TermExpr.literal_value(F.concat(*vals))
    if name == "MD5":
        return TermExpr.literal_value(F.md5(compile_expr(args[0], cols).value))
    if name == "URI":
        return TermExpr(
            compile_expr(args[0], cols).value, F.lit(IRI), _null_str(), _null_str()
        )
    if name == "STR":
        return TermExpr.literal_value(compile_expr(args[0], cols).value)
    if name == "LCASE":
        return TermExpr.literal_value(F.lower(compile_expr(args[0], cols).value))
    if name == "UCASE":
        return TermExpr.literal_value(F.upper(compile_expr(args[0], cols).value))
    if name == "STRLANG":
        tag = _lit_str(args[1])
        return TermExpr(
            compile_expr(args[0], cols).value,
            F.lit(LITERAL),
            _null_str(),
            F.lit(tag),
        )
    if name == "REPLACE":
        src = compile_expr(args[0], cols).value
        pat, rep = _lit_str(args[1]), _lit_str(args[2])
        if len(args) > 3:
            pat = _regex_with_flags(pat, _lit_str(args[3]), "REPLACE")
        return TermExpr.literal_value(F.regexp_replace(src, pat, rep))
    if name == "STRAFTER":
        return TermExpr.literal_value(
            strafter(compile_expr(args[0], cols).value, _lit_str(args[1]))
        )
    if name == "STRBEFORE":
        return TermExpr.literal_value(
            strbefore(compile_expr(args[0], cols).value, _lit_str(args[1]))
        )
    if name == "ENCODE_FOR_URI":
        return TermExpr.literal_value(encode_for_uri(compile_expr(args[0], cols).value))
    if name == "BOUND":
        if not isinstance(args[0], VarT):
            raise ValueError("BOUND takes a variable")
        v = args[0].name
        val = F.col(v).isNotNull() if v in cols else F.lit(False)
        return TermExpr.literal_value(val)
    if name == "STRSTARTS":
        a = compile_expr(args[0], cols).value
        b = compile_expr(args[1], cols).value
        return TermExpr.literal_value(a.startswith(b))
    if name == "IF":
        cond = compile_expr(args[0], cols).value.cast("boolean")
        t, e = compile_expr(args[1], cols), compile_expr(args[2], cols)
        # NULL condition = SPARQL error → whole IF errors (NULL), not the
        # else branch (see functions.iif)
        pick = lambda a, b: F.when(cond, a).otherwise(F.when(~cond, b))
        return TermExpr(
            pick(t.value, e.value),
            pick(t.type, e.type),
            pick(t.datatype, e.datatype),
            pick(t.lang, e.lang),
        )

    # -- SPARQL 1.1 §17.4 builtins beyond the reference workload ----------

    if name == "STRLEN":
        return TermExpr.literal_value(
            F.length(compile_expr(args[0], cols).value).cast("long")
        )
    if name == "SUBSTR":
        # fn:substring: 1-based; a start < 1 selects positions p >= 1 with
        # p < start+length, i.e. the start clamps to 1 and the LENGTH
        # shrinks by the clamped amount. (Spark alone would count a
        # negative start from the string's END — different function.)
        src = compile_expr(args[0], cols).value
        start = compile_expr(args[1], cols).value.try_cast("int")
        length = (
            compile_expr(args[2], cols).value.try_cast("int")
            if len(args) > 2
            else F.lit(2147483647)
        )
        eff_start = F.greatest(start, F.lit(1))
        eff_len = F.when(start < 1, length + start - F.lit(1)).otherwise(length)
        return TermExpr.literal_value(F.substring(src, eff_start, eff_len))
    if name == "CONTAINS":
        a = compile_expr(args[0], cols).value
        b = compile_expr(args[1], cols).value
        return TermExpr.literal_value(a.contains(b))
    if name == "STRENDS":
        a = compile_expr(args[0], cols).value
        b = compile_expr(args[1], cols).value
        return TermExpr.literal_value(a.endswith(b))
    if name == "REGEX":
        src = compile_expr(args[0], cols).value
        pat = _regex_with_flags(
            _lit_str(args[1]),
            _lit_str(args[2]) if len(args) > 2 else None,
            "REGEX",
        )
        return TermExpr.literal_value(F.regexp_like(src, F.lit(pat)))
    if name == "COALESCE":
        if not args:
            raise ValueError("COALESCE needs at least one argument")
        terms = [compile_expr(a, cols) for a in args]

        def pick(attr: str) -> Column:
            # companions follow the FIRST BOUND argument, not a blanket
            # coalesce of companions (a later arg's datatype must not leak
            # under an earlier bound plain literal)
            out = F.lit(None).cast("string")
            for t in reversed(terms):
                out = F.when(t.value.isNotNull(), getattr(t, attr)).otherwise(out)
            return out

        return TermExpr(
            F.coalesce(*[t.value for t in terms]),
            pick("type"),
            pick("datatype"),
            pick("lang"),
        )
    if name in ("ABS", "CEIL", "FLOOR", "ROUND"):
        # numeric builtins on the lexical store: try_cast keeps SPARQL's
        # error semantics (non-numeric argument → NULL → unbound). ROUND
        # ties go toward +inf per the spec (ROUND(-2.5) = -2), which is
        # floor(x+0.5) — NOT Spark round() (HALF_UP away from zero → -3).
        v = compile_expr(args[0], cols).value.try_cast("double")
        if name == "ABS":
            return TermExpr.literal_value(F.abs(v))
        if name == "CEIL":
            return TermExpr.literal_value(F.ceil(v).cast("long"))
        if name == "FLOOR":
            return TermExpr.literal_value(F.floor(v).cast("long"))
        return TermExpr.literal_value(F.floor(v + F.lit(0.5)).cast("long"))
    if name == "LANG":
        t = compile_expr(args[0], cols)
        # literal → tag or ""; IRI/bnode argument is a SPARQL type error →
        # NULL (unbound propagates as NULL already)
        return TermExpr.literal_value(
            F.when(t.type == LITERAL, F.coalesce(t.lang, F.lit("")))
        )
    if name == "DATATYPE":
        t = compile_expr(args[0], cols)
        dt = F.when(
            t.type == LITERAL,
            F.coalesce(
                t.datatype,
                F.when(t.lang.isNotNull(), F.lit(RDF_LANGSTRING)).otherwise(
                    F.lit(XSD_STRING)
                ),
            ),
        )
        return TermExpr(dt, F.lit(IRI), _null_str(), _null_str())
    if name == "LANGMATCHES":
        tag = compile_expr(args[0], cols).value
        rng = _lit_str(args[1])
        if rng is None:
            raise ValueError("LANGMATCHES needs a constant language range")
        if rng == "*":
            # NULL tag (unbound / LANG of a non-literal = type error) must
            # PROPAGATE as the error, not collapse to false — a negated
            # filter would otherwise keep rows a conformant engine drops
            return TermExpr.literal_value(F.when(tag.isNotNull(), tag != ""))
        low = F.lower(tag)
        r = rng.lower()
        return TermExpr.literal_value(
            (low == r) | low.startswith(r + "-")
        )
    if name in ("ISIRI", "ISBLANK", "ISLITERAL"):
        t = compile_expr(args[0], cols)
        target = {"ISIRI": IRI, "ISBLANK": BNODE, "ISLITERAL": LITERAL}[name]
        # unbound argument is an error (NULL), not False
        return TermExpr.literal_value(
            F.when(t.value.isNotNull(), t.type == target)
        )
    if name == "ISNUMERIC":
        # Pragmatic divergence, same policy as _compile_cmp: the spec tests
        # for a NUMERIC DATATYPE, but this lexical store's plain "5" should
        # count as numeric wherever comparisons already promote it — so the
        # test is value-parseability, not the datatype companion.
        t = compile_expr(args[0], cols)
        return TermExpr.literal_value(
            F.when(
                t.value.isNotNull(),
                (t.type == LITERAL) & t.value.try_cast("double").isNotNull(),
            )
        )
    if name == "SAMETERM":
        l = compile_expr(args[0], cols)
        r = compile_expr(args[1], cols)
        # strict term identity — NO numeric promotion ("05" vs "5" differ
        # here even though FILTER(?a = ?b) would equate them); the rest of
        # the rule is the shared _term_eq_cond definition
        eq = _term_eq_cond(l, r)
        bound_both = l.value.isNotNull() & r.value.isNotNull()
        return TermExpr.literal_value(
            F.when(~bound_both, F.lit(None).cast("boolean")).otherwise(eq)
        )
    if name == "SHA1":
        return TermExpr.literal_value(F.sha1(compile_expr(args[0], cols).value))
    if name in ("SHA256", "SHA384", "SHA512"):
        return TermExpr.literal_value(
            F.sha2(compile_expr(args[0], cols).value, int(name[3:]))
        )
    if name in ("YEAR", "MONTH", "DAY", "HOURS", "MINUTES", "SECONDS"):
        # xsd:dateTime accessors read the LEXICAL form (XPath semantics:
        # the value's OWN fields, with its own timezone designator) — a
        # try_cast-to-timestamp would renormalize to the session timezone
        # and shift every field of a "+05:00" value (and make results
        # depend on spark.sql.session.timeZone). try_cast is kept only as
        # the VALIDITY gate: a non-dateTime value → NULL → unbound.
        v = compile_expr(args[0], cols).value
        ts = v.try_cast("timestamp")
        if name == "SECONDS":
            return TermExpr.literal_value(
                F.when(
                    ts.isNotNull(),
                    F.regexp_extract(v, r"T\d{2}:\d{2}:(\d{2}(?:\.\d+)?)", 1)
                    .try_cast("double"),
                )
            )
        dt_re = r"^(-?\d{4,})-(\d{2})-(\d{2})T(\d{2}):(\d{2})"
        grp = {"YEAR": 1, "MONTH": 2, "DAY": 3, "HOURS": 4, "MINUTES": 5}[name]
        return TermExpr.literal_value(
            F.when(
                ts.isNotNull(),
                F.regexp_extract(v, dt_re, grp).try_cast("long"),
            )
        )
    if name == "TZ":
        # timezone designator of the lexical form: "Z", "+02:00", … or ""
        # when absent; unbound/non-dateTime propagates as NULL
        v = compile_expr(args[0], cols).value
        ts = v.try_cast("timestamp")
        return TermExpr.literal_value(
            F.when(ts.isNotNull(), F.regexp_extract(v, r"(Z|[+-]\d{2}:\d{2})$", 1))
        )
    if name == "NOW":
        # SPARQL §17.4.5.1: the SAME instant for every row of one query —
        # captured ONCE at compile time (timezone-stable UTC lexical form)
        import datetime as _dt

        now = _dt.datetime.now(_dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3] + "Z"
        return TermExpr(
            F.lit(now),
            F.lit(LITERAL),
            F.lit("http://www.w3.org/2001/XMLSchema#dateTime"),
            _null_str(),
        )
    if name in ("UUID", "STRUUID"):
        # fresh per row, NON-deterministic by spec — excluded from the
        # oracle surface for the same reason rand() would be
        u = F.expr("uuid()")
        if name == "UUID":
            return TermExpr(
                F.concat(F.lit("urn:uuid:"), u), F.lit(IRI), _null_str(), _null_str()
            )
        return TermExpr.literal_value(u)
    if name == "STRDT":
        if not isinstance(args[1], IriT):
            raise ValueError("STRDT needs a constant datatype IRI")
        dt = args[1].value
        return TermExpr(
            compile_expr(args[0], cols).value,
            F.lit(LITERAL),
            F.lit(None if dt == XSD_STRING else dt).cast("string"),
            _null_str(),
        )
    raise ValueError(f"unsupported function {name}")


#: (min_args, max_args) per builtin — None = unbounded. Checked at
#: dispatch so a wrong arity surfaces as a clear error, not an IndexError
#: (or a silently ignored argument) deep in a Column expression.
_ARITY = {
    "CONCAT": (1, None),
    "MD5": (1, 1),
    "URI": (1, 1),
    "STR": (1, 1),
    "LCASE": (1, 1),
    "UCASE": (1, 1),
    "STRLANG": (2, 2),
    "REPLACE": (3, 4),
    "STRAFTER": (2, 2),
    "STRBEFORE": (2, 2),
    "ENCODE_FOR_URI": (1, 1),
    "BOUND": (1, 1),
    "STRSTARTS": (2, 2),
    "IF": (3, 3),
    "STRLEN": (1, 1),
    "SUBSTR": (2, 3),
    "CONTAINS": (2, 2),
    "STRENDS": (2, 2),
    "REGEX": (2, 3),
    "COALESCE": (1, None),
    "ABS": (1, 1),
    "CEIL": (1, 1),
    "FLOOR": (1, 1),
    "ROUND": (1, 1),
    "LANG": (1, 1),
    "DATATYPE": (1, 1),
    "LANGMATCHES": (2, 2),
    "ISIRI": (1, 1),
    "ISBLANK": (1, 1),
    "ISLITERAL": (1, 1),
    "ISNUMERIC": (1, 1),
    "SAMETERM": (2, 2),
    "SHA1": (1, 1),
    "SHA256": (1, 1),
    "SHA384": (1, 1),
    "SHA512": (1, 1),
    "STRDT": (2, 2),
    "YEAR": (1, 1),
    "MONTH": (1, 1),
    "DAY": (1, 1),
    "HOURS": (1, 1),
    "MINUTES": (1, 1),
    "SECONDS": (1, 1),
    "TZ": (1, 1),
    "NOW": (0, 0),
    "UUID": (0, 0),
    "STRUUID": (0, 0),
}


def _check_arity(name: str, args: tuple) -> None:
    lo, hi = _ARITY.get(name, (0, None))
    if len(args) < lo or (hi is not None and len(args) > hi):
        expect = str(lo) if lo == hi else (f"{lo}+" if hi is None else f"{lo}-{hi}")
        raise ValueError(
            f"{name} takes {expect} argument(s), got {len(args)}"
        )


def _regex_with_flags(pat: str | None, flags: str | None, fn: str) -> str:
    """Fold SPARQL regex flags into an embedded-flag prefix. Pattern and
    flags must be constants (the common case; per-row patterns would also
    defeat regex compilation caching)."""
    if pat is None:
        raise ValueError(f"{fn} needs a constant pattern string")
    if not flags:
        return pat
    if not set(flags) <= set("ismxq"):
        raise ValueError(f"unsupported {fn} flags {flags!r}")
    if "q" in flags:
        # XPath 'q': treat the pattern as a literal string
        import re as _re

        pat = _re.escape(pat)
        flags = flags.replace("q", "")
    return f"(?{flags}){pat}" if flags else pat


# --------------------------------------------------------------------------
# Group compilation
# --------------------------------------------------------------------------


#: Compile same-subject constant-predicate pattern groups of this size or
#: larger through the property-table rewrite (operators.bgp.star_scan):
#: one scan + one aggregation on ``s`` replaces N scans + N-1 self-joins.
#: Set to 0 to disable (plain join path) — used for A/B verification.
STAR_REWRITE_MIN = 2


def _star_units(run: list[TriplePattern]):
    """Split a pattern run into star-rewrite units and singleton patterns.

    A pattern joins a star when its subject is a variable, its predicate a
    constant IRI, and its object is not the subject variable itself; one
    pattern per repeated object variable stays a singleton (the equi-join
    on the shared variable enforces the equality star_scan can't)."""
    stars: dict[str, list[TriplePattern]] = {}
    singles: list[TriplePattern] = []
    for tp in run:
        ok = (
            isinstance(tp.s, VarT)
            and isinstance(tp.p, IriT)
            and not (isinstance(tp.o, VarT) and tp.o.name == tp.s.name)
        )
        if ok:
            stars.setdefault(tp.s.name, []).append(tp)
        else:
            singles.append(tp)
    units = []
    for subj, tps in stars.items():
        seen: set[str] = set()
        seen_var_pred: set[str] = set()
        keep: list[TriplePattern] = []
        for tp in tps:
            if isinstance(tp.o, VarT):
                if tp.o.name in seen:
                    singles.append(tp)
                    continue
                # one variable-object pattern per predicate stays in the
                # star: a REPEATED predicate with distinct object vars
                # (?o :cf ?b1 . ?o :cf ?b2 . ?o :cf ?b3) would collect the
                # SAME k-element list per subject and explode it once per
                # pattern — a k^m per-subject cross product materialized
                # BEFORE the chains that narrow each ?bi can apply
                # (measured: tl_companies_mapping_overlay at the 10k-company
                # volume = 10^3 x 10k = 10M bindings, 12 s of its checkpoint).
                # Demoted to singleton equi-joins on the subject, each join
                # expands by at most k and its chain narrows it back —
                # identical multiset (inner joins commute), linear cost.
                if tp.p.value in seen_var_pred:
                    singles.append(tp)
                    continue
                seen.add(tp.o.name)
                seen_var_pred.add(tp.p.value)
            keep.append(tp)
        if STAR_REWRITE_MIN and len(keep) >= STAR_REWRITE_MIN:
            star_vars = {subj} | {
                tp.o.name for tp in keep if isinstance(tp.o, VarT)
            }
            sel = 0 if any(not isinstance(tp.o, VarT) for tp in keep) else 1
            units.append(("star", subj, keep, star_vars, sel))
        else:
            singles.extend(keep)
    for tp in _order_patterns(singles):
        sel = 0 if not isinstance(tp.o, VarT) else (1 if not isinstance(tp.s, VarT) else 2)
        units.append(("single", None, [tp], _pattern_vars(tp), sel))
    # greedy connectivity over units, seeded on selectivity (same policy
    # as _order_patterns, lifted to star granularity)
    ordered = []
    bound: set[str] = set()
    remaining = list(units)
    while remaining:
        if not ordered:
            pick = min(remaining, key=lambda u: u[4])
        else:
            connected = [u for u in remaining if u[3] & bound]
            pick = min(connected or remaining, key=lambda u: u[4])
        remaining.remove(pick)
        ordered.append(pick)
        bound |= pick[3]
    return ordered


def _static_nonnumeric_const(n) -> bool:
    """AST node is a constant that can never compare numerically."""
    if isinstance(n, IriT):
        return True
    if isinstance(n, LitT):
        try:
            float(n.value)
            return False
        except (TypeError, ValueError):
            return True
    return False


def _const_term_eq(var_te: TermExpr, cnode) -> Column:
    """Term equality against a CONSTANT term as a conjunction of SIMPLE
    predicates (the constant's companions folded in Python — mirrors
    bgp._object_conds). Unlike the general CASE-WHEN form, every conjunct
    here is an EqualTo/IsNull Catalyst can push into the parquet scan —
    so FILTER(?x = "const") costs the same as a constant-object pattern."""
    if isinstance(cnode, IriT):
        return (var_te.value == cnode.value) & (var_te.type == IRI)
    conds = (var_te.value == cnode.value) & (var_te.type == LITERAL)
    dt = cnode.datatype
    if dt is None or dt == XSD_STRING:
        conds = conds & (
            var_te.datatype.isNull() | (var_te.datatype == XSD_STRING)
        )
    else:
        conds = conds & (var_te.datatype == dt)
    if cnode.lang is None:
        conds = conds & var_te.lang.isNull()
    else:
        conds = conds & (var_te.lang == cnode.lang)
    return conds


def _compile_cmp(node: CmpExpr, cols: set) -> Column:
    """SPARQL §17.3 operator mapping, pragmatically typed for a lexical
    store: when BOTH operands cast to double the comparison is numeric
    ("05"^^xsd:int = "5"^^xsd:int, 3 < 10); otherwise ``=``/``!=`` are
    TERM equality (value + type/datatype/lang companions) and the
    ordering operators compare codepoint-wise on the lexical form (the
    simple-literal rule; Spark and DuckDB both compare strings as binary
    UTF-8, so the oracle agrees). An unbound operand yields NULL — the
    SPARQL error — which FILTER then drops."""
    l = compile_expr(node.left, cols)
    r = compile_expr(node.right, cols)
    if node.op in ("=", "!="):
        # one side a non-numeric CONSTANT: the numeric branch is
        # statically dead, so emit the simple pushable conjunction
        # (NULL-propagation through == keeps unbound → dropped for both
        # = and !=, same as the general form's explicit guard)
        if _static_nonnumeric_const(node.right):
            eq = _const_term_eq(l, node.right)
            return eq if node.op == "=" else ~eq
        if _static_nonnumeric_const(node.left):
            eq = _const_term_eq(r, node.left)
            return eq if node.op == "=" else ~eq
    ln = l.value.try_cast("double")
    rn = r.value.try_cast("double")
    both_num = ln.isNotNull() & rn.isNotNull()
    if node.op in ("=", "!="):
        # RDF 1.1 same-term equality (shared with sameTerm) — matches
        # the BGP constant-pattern behavior (bgp._object_conds)
        term_eq = _term_eq_cond(l, r)
        eq = F.when(both_num, ln == rn).otherwise(term_eq)
        # an UNBOUND operand is a SPARQL type error → NULL, which FILTER
        # drops for BOTH = and != (an explicit guard: the companion
        # eqNullSafe terms would otherwise turn unbound into plain FALSE,
        # and ~FALSE would wrongly KEEP rows under !=)
        bound = l.value.isNotNull() & r.value.isNotNull()
        eq = F.when(~bound, F.lit(None).cast("boolean")).otherwise(eq)
        return eq if node.op == "=" else ~eq
    ops = {
        "<": lambda a, b: a < b,
        ">": lambda a, b: a > b,
        "<=": lambda a, b: a <= b,
        ">=": lambda a, b: a >= b,
    }
    f = ops[node.op]
    # mixed numeric/non-numeric ordering is a SPARQL type error → NULL →
    # the FILTER drops the row; string comparison applies only when
    # NEITHER side is numeric. (Pragmatic divergence, documented: two
    # digit-like values always compare numerically, even if stored as
    # plain literals — the useful semantics over a lexical store.)
    return (
        F.when(both_num, f(ln, rn))
        .when(
            ln.isNull() & rn.isNull(),
            # lexical comparison — cast both to string so a typed operand
            # can never trigger an ANSI string→numeric comparison cast
            f(l.value.cast("string"), r.value.cast("string")),
        )
        .otherwise(F.lit(None).cast("boolean"))
    )


def _group_pattern_vars(group: Group) -> set[str]:
    """Every variable a group can bind or reference through its patterns —
    used to detect outer-correlation that a bottom-up compile would lose."""
    out: set[str] = set()
    for e in group.elements:
        if isinstance(e, TriplePattern):
            out |= {t.name for t in (e.s, e.p, e.o) if isinstance(t, VarT)}
        elif isinstance(
            e, (OptionalGroup, MinusGroup, GraphGroup, ExistsFilter, ServiceGroup)
        ):
            out |= _group_pattern_vars(e.group)
        elif isinstance(e, UnionGroup):
            for g2 in e.groups:
                if not isinstance(g2, SubSelect):
                    out |= _group_pattern_vars(g2)
        elif isinstance(e, BindExpr):
            out.add(e.var)
        elif isinstance(e, ValuesClause):
            out |= set(e.variables)
    return out


def compile_group(
    group: Group,
    dataset: DataFrame,
    named_dataset: DataFrame | None = None,
    graph_var: str | None = None,
) -> DataFrame:
    """Group graph pattern → solution-mapping DataFrame.

    Elements evaluate in syntactic order (SPARQL group semantics):
    consecutive triple patterns accumulate into a BGP (same-subject stars
    compiled via the property-table rewrite, the rest reordered by the
    connectivity seed), OPTIONAL left-joins its bottom-up-compiled
    subgroup, BIND extends, FILTER restricts.

    ``named_dataset``: the graphs GRAPH blocks match against (FROM NAMED /
    USING NAMED); defaults to ``dataset`` — the pragmatic rule when no
    named-graph clause is given (a conformant reading with an explicit
    FROM but no FROM NAMED would make every GRAPH block empty, which is
    never what a user pointing this engine at a quad store wants).

    ``graph_var`` (inside ``GRAPH ?g``): every pattern exports the quad's
    graph as that variable, so same-graph matching and the ?g binding fall
    out of the ordinary shared-variable join.
    """
    named_ds = named_dataset if named_dataset is not None else dataset
    b = BGPBuilder(dataset)
    run: list[TriplePattern] = []
    deferred: list = []  # FILTER / FILTER [NOT] EXISTS constraints

    def flush_run():
        for kind, subj, tps, _, _sel in _star_units(run):
            if kind == "star":
                b.join_group(
                    star_scan(
                        dataset,
                        Var(subj),
                        [
                            (_term_to_pattern_arg(tp.p), _term_to_pattern_arg(tp.o))
                            for tp in tps
                        ],
                        graph_var=graph_var,
                    )
                )
            else:
                tp = tps[0]
                b.join_group(
                    pattern(
                        dataset,
                        _term_to_pattern_arg(tp.s),
                        _term_to_pattern_arg(tp.p),
                        _term_to_pattern_arg(tp.o),
                        graph_var=graph_var,
                    )
                )
        run.clear()

    def ensure_df():
        if b.df is None:
            # group starts with BIND/FILTER: the unit solution mapping
            # (reference sparql/ldap_mapping_org.sparql:32 BINDs ?ns first)
            b.df = dataset.sparkSession.range(1).select(
                F.lit(1).alias("__unit")
            )

    for el in group.elements:
        if isinstance(el, TriplePattern):
            if isinstance(el.p, PathT):
                if graph_var is not None:
                    # a closure evaluated per named graph would need the
                    # whole semi-naive iteration keyed by g — not built;
                    # reject loudly rather than silently merging graphs
                    raise ValueError(
                        "property paths inside GRAPH ?var are not supported; "
                        "use a constant GRAPH or evaluate the path per graph"
                    )
                # property-path pattern: evaluates to its own solution
                # relation (operators/paths.py) and joins like any group —
                # it never participates in the star rewrite
                flush_run()
                b.join_group(
                    path_solution(
                        dataset,
                        _term_to_pattern_arg(el.s),
                        el.p,
                        _term_to_pattern_arg(el.o),
                    )
                )
                continue
            run.append(el)
            continue
        flush_run()
        if isinstance(el, GraphGroup):
            if el.var is not None:
                # variable GRAPH block: patterns scan the NAMED dataset and
                # export g as the variable — same-graph matching is the
                # ordinary shared-variable join; ?g then joins/filters/
                # projects like any variable
                sub = compile_group(el.group, named_ds, named_ds, el.var)
                if el.var not in sub.columns:
                    # a group with no direct triple pattern (empty, or only
                    # nested constant-GRAPH blocks) never exports the var —
                    # SPARQL would bind ?var to EVERY named graph there;
                    # reject loudly rather than silently leave it unbound
                    raise ValueError(
                        f"GRAPH ?{el.var} group binds nothing to the graph "
                        "variable; it needs at least one direct triple "
                        "pattern"
                    )
            else:
                # constant GRAPH block: the subgroup evaluates against that
                # graph's partition only (pruned scan), then joins as usual
                sub = compile_group(
                    el.group, named_ds.where(F.col("g") == el.graph), named_ds
                )
            b.join_group(sub)
            continue
        if isinstance(el, ServiceGroup):
            # SPARQL 1.1 Federated Query §18.6: eval(Service) joins the
            # remote solution sequence — compile the subgroup against the
            # registered store's quads (same SparkSession: the "remote"
            # scan stays inside Catalyst — pushdown/broadcast apply) and
            # term-join on shared variables. SILENT + unresolvable
            # endpoint → the unit solution (join nothing), per §2.2.
            from ..federation import resolve_service

            try:
                remote = resolve_service(el.endpoint)
            except KeyError:
                if el.silent:
                    continue
                raise
            b.join_group(compile_group(el.group, remote, remote))
            continue
        if isinstance(el, UnionGroup):
            # compile each branch, align columns (a var absent from one
            # branch is unbound there -> typed NULL), union, then term-join
            # into the accumulated solutions on whatever vars are shared.
            # A branch may be a SubSelect: its solution-modifier pipeline
            # runs against the same dataset, companions kept so the outer
            # join stays term-aware.
            if graph_var is not None and any(
                isinstance(sub, SubSelect) for sub in el.groups
            ):
                # the subquery's projection strips the exported graph
                # column, silently losing both the ?var binding and the
                # same-graph constraint — reject loudly (the property-path
                # precedent) rather than return wrong results
                raise ValueError(
                    "subqueries inside GRAPH ?var are not supported; "
                    "evaluate the subquery outside the GRAPH block or use "
                    "a constant graph"
                )
            parts = [
                (
                    _select_pipeline(
                        compile_group(sub.query.where, dataset, named_ds, graph_var),
                        sub.query,
                        with_terms=True,
                    )
                    if isinstance(sub, SubSelect)
                    else compile_group(sub, dataset, named_ds, graph_var)
                )
                for sub in el.groups
            ]
            allcols: list[str] = []
            for pdf in parts:
                for c in pdf.columns:
                    if c not in allcols:
                        allcols.append(c)
            aligned = [
                pdf.select(
                    *[
                        (F.col(c) if c in pdf.columns else _null_str().alias(c))
                        for c in allcols
                    ]
                )
                for pdf in parts
            ]
            u = aligned[0]
            for pdf in aligned[1:]:
                u = u.unionByName(pdf)
            # a var some branch doesn't bind is NULL-as-unbound in the
            # union output → compatible-merge when later joined
            unb = {
                c
                for c in allcols
                if "__" not in c
                and any(c not in pdf.columns for pdf in parts)
            }
            b.join_group(u, maybe_unbound=unb)
            continue
        if isinstance(el, ValuesClause):
            rows = []
            for row in el.rows:
                vals: list = []
                for term in row:
                    if term is None:
                        vals += [None, None, None, None]
                    elif isinstance(term, IriT):
                        vals += [term.value, IRI, None, None]
                    else:  # LitT
                        vals += [term.value, LITERAL, term.datatype, term.lang]
                rows.append(tuple(vals))
            schema = ", ".join(
                f"{n} string, {_companion(n, 'type')} string, "
                f"{_companion(n, 'dt')} string, {_companion(n, 'lang')} string"
                for n in el.variables
            )
            undef_vars = {
                el.variables[i]
                for row in el.rows
                for i, term in enumerate(row)
                if term is None
            }
            b.join_group(
                dataset.sparkSession.createDataFrame(rows, schema),
                maybe_unbound=undef_vars,
            )
            continue
        if isinstance(el, ExistsFilter):
            # FILTER [NOT] EXISTS is a CONSTRAINT: like plain FILTER it
            # applies at the END of the group (§5.2.2), so defer it
            deferred.append(el)
            continue
        if isinstance(el, MinusGroup):
            ensure_df()
            sub = compile_group(el.group, dataset, named_ds, graph_var)
            shared = [
                c for c in sub.columns if "__" not in c and c in b.df.columns
            ]
            # disjoint-domain rule: no shared vars -> MINUS removes
            # nothing (SPARQL 1.1 §8.3)
            if shared:
                compat = frozenset(v for v in shared if v in b.maybe_unbound)
                overlap_builder = None
                if compat:
                    # §8.3 removes a solution only when the pair's domains
                    # INTERSECT: with compatible-merge letting unbound vars
                    # match anything, require at least one shared var
                    # bound on BOTH sides of the candidate pair
                    def overlap_builder(cols, _vs=tuple(shared)):
                        cond = None
                        for v in _vs:
                            c = F.col(v).isNotNull() & F.col(
                                f"__r__{v}"
                            ).isNotNull()
                            cond = c if cond is None else cond | c
                        return cond

                b.df = _term_join(
                    b.df,
                    sub,
                    shared,
                    "left_anti",
                    compat=compat,
                    extra_cond_builder=overlap_builder,
                )
            continue
        if isinstance(el, OptionalGroup):
            ensure_df()
            # SPARQL §6.2 translation: OPTIONAL { P FILTER C } is
            # LeftJoin(A, P, C) — the group's TOP-LEVEL filters join the
            # LEFT-JOIN CONDITION (evaluated in the merged scope, so they
            # may reference outer variables; a failing/erroring C drops
            # the optional bindings but KEEPS the outer row). Inner
            # filters of nested subgroups stay where they are.
            top_filters = [
                e for e in el.group.elements if isinstance(e, FilterExpr)
            ]
            sub_src = (
                Group(
                    elements=[
                        e
                        for e in el.group.elements
                        if not isinstance(e, FilterExpr)
                    ]
                )
                if top_filters
                else el.group
            )
            sub = compile_group(sub_src, dataset, named_ds, graph_var)
            # a FILTER [NOT] EXISTS inside the OPTIONAL that references an
            # OUTER variable would compile bottom-up with the correlation
            # silently dropped (the spec's LeftJoin(A,P,C) evaluates C in
            # the merged scope, but EXISTS-as-join-condition needs a
            # correlated subquery Column we don't build) — reject loudly,
            # matching the plain-FILTER case which IS lifted correctly
            for ef in el.group.elements:
                if not isinstance(ef, ExistsFilter):
                    continue
                for v in _group_pattern_vars(ef.group):
                    if v in b.df.columns and v not in sub.columns:
                        raise ValueError(
                            f"FILTER [NOT] EXISTS inside OPTIONAL references "
                            f"outer variable ?{v}; move the EXISTS to the "
                            "outer group or bind the variable inside the "
                            "OPTIONAL"
                        )
            builder = None
            if top_filters:

                def builder(cols, _fs=tuple(top_filters)):
                    cond = None
                    for f in _fs:
                        c = compile_expr(f.expr, cols).value.try_cast("boolean")
                        cond = c if cond is None else cond & c
                    return cond

            shared = [
                c for c in sub.columns if "__" not in c and c in b.df.columns
            ]
            if shared:
                b.optional(sub, extra_cond_builder=builder)
            else:
                # OPTIONAL sharing no variables: left join on the empty key
                # — every outer row pairs with every subgroup row, and when
                # the subgroup is EMPTY the outer rows survive with the
                # optional vars unbound (a crossJoin would drop them all)
                cond = F.lit(True)
                if builder is not None:
                    extra = builder(set(b.df.columns) | set(sub.columns))
                    if extra is not None:
                        cond = extra
                b.df = b.df.join(sub, cond, "left")
        elif isinstance(el, BindExpr):
            ensure_df()
            cols = set(b.df.columns)
            if el.var in cols:
                # SPARQL §10.1: the BIND target must not be already in
                # scope — withColumn would silently OVERWRITE the binding
                raise ValueError(
                    f"BIND target ?{el.var} is already bound in this group "
                    "(SPARQL forbids re-binding; use a fresh variable)"
                )
            b.bind(el.var, compile_expr(el.expr, cols))
        elif isinstance(el, FilterExpr):
            # constraints evaluate over the WHOLE group (SPARQL §5.2.2) —
            # a FILTER may syntactically precede the pattern that binds
            # its variable, so apply them after every other element;
            # Catalyst pushes the resulting predicate back down to the
            # earliest legal point, so deferral costs no plan quality
            deferred.append(el)
        else:
            raise TypeError(f"unexpected group element {el!r}")
    flush_run()
    if b.df is None:
        b.df = dataset.sparkSession.range(1).select(F.lit(1).alias("__unit"))
    for el in deferred:
        if isinstance(el, FilterExpr):
            b.filter(
                compile_expr(el.expr, set(b.df.columns)).value.try_cast("boolean")
            )
            continue
        # ExistsFilter
        sub = compile_group(el.group, dataset, named_ds, graph_var)
        shared = [
            c for c in sub.columns if "__" not in c and c in b.df.columns
        ]
        if shared:
            how = "left_anti" if el.negated else "left_semi"
            # deferral means OPTIONAL-bound vars are now in scope and may
            # be NULL-as-unbound: SPARQL compatibility lets an unbound var
            # match anything, so those join with compatible-merge — a bare
            # equality key would turn every NULL into a non-match and
            # silently invert the [NOT] EXISTS outcome for such rows
            compat = frozenset(v for v in shared if v in b.maybe_unbound)
            b.df = _term_join(b.df, sub, shared, how, compat=compat)
        else:
            # variable-free (or var-disjoint) EXISTS: a global gate —
            # lazily expressed as a semi/anti join against ONE row of
            # the subgroup, no driver-side count
            how = "left_anti" if el.negated else "left_semi"
            gate = sub.limit(1).select(F.lit(1).alias("__gate"))
            b.df = b.df.join(gate, F.lit(True), how)
    return b.df.drop("__unit") if "__unit" in b.df.columns else b.df


# --------------------------------------------------------------------------
# Update execution
# --------------------------------------------------------------------------


def _template_term(t):
    if isinstance(t, VarT):
        return Var(t.name)
    if isinstance(t, IriT):
        return Term(t.value, IRI)
    if isinstance(t, LitT):
        return Term(t.value, LITERAL, t.datatype, t.lang)
    raise TypeError(f"unexpected template term {t!r}")


def compile_insert_where(
    node: InsertWhere, store, materialize: bool = True,
    carry: list[str] | None = None,
) -> DataFrame:
    """INSERT..WHERE → quads DataFrame ready for ``store.insert``.

    ``USING`` graphs restrict the matched dataset; with no USING,
    ``WITH <g>`` restricts matching to g (SPARQL 1.1 Update: WITH sets the
    dataset for matching unless USING overrides); with neither, the whole
    store matches. Partition pruning on ``g`` applies in every case
    (SURVEY.md §2 ops 22-23).

    ``materialize=True`` pins the WHERE bindings: the deep self-join tree
    is cut from the lineage, so the insert's anti-join and write plan a
    flat leaf with exact sizes (and ``Engine.plan`` callers that union
    many updates stay analysis-cheap). The consumer of the returned plan
    owns the pin (:mod:`..ckpt`; see ``execute_update``).
    ``materialize=False`` (used by ``Engine.plan`` for EXPLAIN) skips the
    eager checkpoint so compiling stays side-effect-free.

    ``carry``: WHERE-variable names projected verbatim onto every output
    quad row (provenance carry — see :func:`..operators.construct
    .construct`); raises if a name is not bound by the WHERE clause."""
    bindings = _update_bindings(node, store)
    if carry:
        companions = ("__type", "__dt", "__lang")
        missing = [c for c in carry if c not in bindings.columns]
        if missing:
            bound = sorted(
                c for c in bindings.columns if not c.endswith(companions)
            )
            raise ValueError(
                f"carry variables not bound by WHERE: {missing} (bound: {bound})"
            )
    if materialize:
        bindings = pin(bindings)
    bindings = _mint_template_bnodes(bindings, node.template)
    return _template_quads(
        bindings, node.template, node.target_graph, carry=carry
    )


def _update_bindings(node, store) -> DataFrame:
    """The WHERE solutions of an INSERT/DELETE…WHERE update, matched
    against its ``USING`` graphs; with no USING, ``WITH <g>`` restricts
    matching to g, and with neither the whole store matches."""
    if node.using:
        dataset = store.dataset(node.using)
    elif node.target_graph is not None:
        dataset = store.graph(node.target_graph)
    else:
        dataset = store.quads()
    named = store.dataset(node.using_named) if node.using_named else None
    return compile_group(node.where, dataset, named)


def _mint_template_bnodes(bindings: DataFrame, template: list) -> DataFrame:
    """SPARQL blank nodes in an INSERT/CONSTRUCT template mint a FRESH
    bnode per solution row (parser desugars them to _anon_* vars never
    bound by WHERE): bind each as a deterministic per-row label — md5 over
    the full binding row INCLUDING the __type/__dt/__lang companions, so
    two solutions agreeing lexically but differing in term type or
    datatype mint distinct bnodes. Deliberate determinism tradeoff vs
    SPARQL 1.1: duplicate solution rows collapse to ONE bnode (spec
    mints a fresh bnode per solution, yielding distinct quads); we
    accept the collapse so re-running an update is idempotent under
    the store's set semantics — the divergence only shows when WHERE
    yields exact-duplicate rows, which DISTINCT-shaped mappings never
    produce."""
    anon = {
        t.name
        for _, tp in template
        for t in (tp.s, tp.p, tp.o)
        if isinstance(t, VarT) and t.name.startswith("_anon_")
    } - set(bindings.columns)
    if anon:
        row_key = F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                    for c in sorted(bindings.columns)
                ],
            )
        )
        for name in sorted(anon):
            bindings = bindings.withColumn(
                name, F.concat(F.lit(f"_:{name}-"), row_key)
            ).withColumn(f"{name}__type", F.lit(BNODE))
    return bindings


def _template_quads(
    bindings: DataFrame,
    template: list,
    target_graph,
    carry: list[str] | None = None,
) -> DataFrame:
    """Instantiate a quad template against a solution mapping — one
    ``construct`` per target graph, unioned. A ``GRAPH ?g`` template block
    routes per binding row (construct reads the variable's column).
    ``materialize=False``: the caller owns the bindings' materialization
    policy. ``carry`` passes through to :func:`construct`."""
    by_graph: dict[object, list] = {}
    for g, tp in template:
        graph = g or target_graph
        if graph is None:
            raise ValueError("template triple has no target graph (no WITH/GRAPH)")
        by_graph.setdefault(graph, []).append(
            (_template_term(tp.s), _template_term(tp.p), _template_term(tp.o))
        )
    outs = [
        construct(
            bindings,
            triples,
            target_graph=Var(g.name) if isinstance(g, VarT) else g,
            carry=carry,
        )
        for g, triples in by_graph.items()
    ]
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def compile_construct(node: ConstructQuery, store) -> DataFrame:
    """Read-side CONSTRUCT → quads DataFrame: the INSERT template machinery
    with the triples RETURNED instead of inserted. ``g`` is NULL for
    default-graph template triples (a CONSTRUCT result is a graph, not a
    dataset) and the GRAPH IRI for ``GRAPH <g> { ... }`` template blocks.
    Unbound template variables skip the triple (construct()'s unbound-skip),
    fresh template bnodes mint per solution row exactly as in updates.
    The bindings are pinned; the returned plan reads them, so its consumer
    owns the pin (:mod:`..ckpt`)."""
    dataset = store.dataset(node.from_graphs) if node.from_graphs else store.quads()
    named = store.dataset(node.from_named) if node.from_named else None
    bindings = pin(compile_group(node.where, dataset, named))
    bindings = _mint_template_bnodes(bindings, node.template)
    by_graph: dict[object, list] = {}
    for g, tp in node.template:
        by_graph.setdefault(g, []).append(
            (_template_term(tp.s), _template_term(tp.p), _template_term(tp.o))
        )
    outs = [
        construct(
            bindings,
            triples,
            target_graph=Var(g.name) if isinstance(g, VarT) else g,
        )
        for g, triples in by_graph.items()
    ]
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def compile_delete_insert(
    node: DeleteWhere, store
) -> tuple[DataFrame, DataFrame | None]:
    """DELETE [INSERT] WHERE → (quads-to-delete, quads-to-insert-or-None).

    Both templates instantiate against the SAME pre-modification WHERE
    solutions (SPARQL 1.1 Update Modify semantics) — the bindings are
    pinned before either write executes, so the delete cannot change
    what the insert template sees. The consumer owns the pin (see
    ``execute_update``)."""
    bindings = pin(_update_bindings(node, store))
    del_df = _template_quads(bindings, node.delete_template, node.target_graph)
    ins_df = (
        _template_quads(bindings, node.insert_template, node.target_graph)
        if node.insert_template
        else None
    )
    return del_df, ins_df


# --------------------------------------------------------------------------
# Read-side queries (SELECT / ASK)
# --------------------------------------------------------------------------


def compile_select(
    node: SelectQuery, store, with_terms: bool = False
) -> DataFrame:
    """SELECT → solution-sequence DataFrame: one column per projected
    variable; ``with_terms=True`` keeps the ``__type/__dt/__lang`` term
    companions in the output (they always participate in DISTINCT —
    SPARQL solutions are term mappings, so ``"42"^^xsd:int`` and plain
    ``"42"`` are distinct solutions even though their value columns tie).

    Modifier pipeline (SPARQL 1.1 §15, mapped onto Catalyst): extend with
    projection expressions → DISTINCT → ORDER BY (unbound sorts lowest:
    nulls-first asc, nulls-last desc) → OFFSET → LIMIT. ORDER+LIMIT
    compiles to TakeOrderedAndProject (a distributed top-k — no global
    sort materialization), which is the plan you want at scale."""
    dataset = store.dataset(node.from_graphs) if node.from_graphs else store.quads()
    named = store.dataset(node.from_named) if node.from_named else None
    df = compile_group(node.where, dataset, named)
    return _select_pipeline(df, node, with_terms)


def _select_pipeline(
    df: DataFrame, node: SelectQuery, with_terms: bool
) -> DataFrame:
    """The SELECT solution-modifier pipeline over an already-compiled
    WHERE mapping — shared by top-level SELECT (compile_select) and
    subqueries (compile_group's SubSelect branch, which keeps companions
    so outer joins stay term-aware)."""
    variables = node.variables
    has_aggs = variables is not None and any(
        isinstance(e, AggCall) for _, e in variables
    )
    if node.group_by and variables is None:
        raise ValueError(
            "SELECT * cannot be combined with GROUP BY — project grouping "
            "keys and aggregates explicitly"
        )
    if (node.group_by or has_aggs) and variables is not None:
        df = _aggregate_select(df, node.group_by or [], variables)
        # every projected var is now a plain column of the aggregate
        variables = [(n, None) for n, _ in variables]
    if node.having is not None:
        if not (node.group_by or has_aggs):
            raise ValueError("HAVING requires GROUP BY or aggregates")
        # HAVING evaluates over the aggregated relation; reference the
        # projected aliases (?n for (COUNT(*) AS ?n)) — the pragmatic
        # subset now that FILTER comparisons exist
        df = df.where(
            compile_expr(node.having, set(df.columns)).value.try_cast("boolean")
        )
    if variables is not None:
        for name, expr in variables:
            if expr is None:
                continue
            te = compile_expr(expr, set(df.columns))
            df = (
                df.withColumn(name, te.value)
                .withColumn(_companion(name, "type"), te.type)
                .withColumn(_companion(name, "dt"), te.datatype)
                .withColumn(_companion(name, "lang"), te.lang)
            )
        names = [n for n, _ in variables]
    else:
        # SELECT *: every in-scope user variable (desugared bnode vars are
        # not variables and never project)
        names = [
            c
            for c in df.columns
            if "__" not in c and not c.startswith("_anon_")
        ]
    have = set(df.columns)
    proj: list[Column] = []
    out_cols: list[str] = []
    for n in names:
        proj.append(F.col(n) if n in have else F.lit(None).cast("string").alias(n))
        out_cols.append(n)
        for kind in ("type", "dt", "lang"):
            comp = _companion(n, kind)
            if comp in have:
                proj.append(F.col(comp))
                out_cols.append(comp)
    # ORDER BY expressions evaluate in the full WHERE scope (legal SPARQL
    # restricts them to projected vars under DISTINCT; computing them
    # before the projection supports the general non-DISTINCT case too)
    ord_cols = []
    for i, (expr, desc) in enumerate(node.order_by):
        # composite sort key: numeric value first (SPARQL orders numeric
        # literals BY VALUE — a lexical sort would put "10" before "9"),
        # lexical form as the tiebreak/fallback for non-numeric terms.
        # Ascending order: unbound first (both keys NULL), then
        # non-numeric terms (numeric key NULL, lexical ordered), then
        # numbers by value — a deterministic total order over the
        # spec's partially-defined one.
        val = compile_expr(expr, set(df.columns)).value
        ord_cols.append((f"__ordn_{i}", desc))
        ord_cols.append((f"__ord_{i}", desc))
        df = df.withColumn(f"__ordn_{i}", val.try_cast("double"))
        df = df.withColumn(f"__ord_{i}", val.cast("string"))
    df = df.select(*proj, *[F.col(c) for c, _ in ord_cols])
    if node.distinct:
        df = df.dropDuplicates(out_cols)
    if ord_cols:
        df = df.orderBy(
            *[
                F.col(c).desc_nulls_last() if desc else F.col(c).asc_nulls_first()
                for c, desc in ord_cols
            ]
        )
    if node.offset:
        df = df.offset(node.offset)
    if node.limit is not None:
        df = df.limit(node.limit)
    drop = [c for c, _ in ord_cols]
    if not with_terms:
        drop += [c for c in out_cols if "__" in c]
    return df.drop(*drop) if drop else df


def _aggregate_select(
    df: DataFrame, group_by: list, variables: list
) -> DataFrame:
    """GROUP BY + aggregate projection (SPARQL 1.1 §11 subset).

    Grouping keys are TERMS: a key var groups on its value column plus
    every companion present, so ``"5"`` and ``"5"^^xsd:integer`` form
    distinct groups. Aggregate semantics on the lexical store:

    * COUNT(*) / COUNT(?v) / COUNT(DISTINCT ?v) — rows / bound terms /
      distinct term values;
    * SUM / AVG — values cast to decimal(28,6) (EXACT, order-independent
      accumulation — a double sum would not be reproducible across
      partitionings or engines), result cast to double; non-numeric
      lexical values become NULL and are ignored, per SPARQL's
      error-ignoring aggregate rule;
    * MIN / MAX — lexicographic on the lexical form (document the corpus
      convention; numeric min/max via a BIND cast upstream);
    * SAMPLE — F.min, a DETERMINISTIC choice (the spec allows any
      element; picking the minimum keeps runs and oracles reproducible).

    A projected plain variable must be a grouping key (SPARQL's own
    restriction) — anything else raises."""
    cols = set(df.columns)
    keys: list[Column] = []
    packed: list[str] = []
    for g in group_by:
        if g not in cols:
            raise ValueError(f"GROUP BY variable ?{g} is not in scope")
        keys.append(F.col(g))
        for kind in ("type", "dt", "lang"):
            comp = _companion(g, kind)
            if comp in cols:
                keys.append(F.col(comp))
    aggs: list[Column] = []
    for name, expr in variables:
        if expr is None:
            if name not in group_by:
                raise ValueError(
                    f"projected variable ?{name} must be aggregated or "
                    "appear in GROUP BY"
                )
            continue
        if not isinstance(expr, AggCall):
            raise ValueError(
                "non-aggregate projection expressions are not supported "
                "together with GROUP BY; BIND before grouping instead"
            )
        if expr.name in ("MIN", "MAX", "SAMPLE"):
            # pack the full TERM so the aggregated column keeps its
            # __type/__dt/__lang companions (an aggregated IRI must stay
            # an IRI downstream); rows with an unbound value become a
            # NULL struct, which min/max skip — SPARQL's error-ignoring
            # aggregates
            te = compile_expr(expr.arg, cols)
            packed_struct = F.when(
                te.value.isNotNull(),
                F.struct(
                    te.value.alias("v"), te.type.alias("t"),
                    te.datatype.alias("d"), te.lang.alias("l"),
                ),
            )
            fn = F.max if expr.name == "MAX" else F.min
            aggs.append(fn(packed_struct).alias(f"__pk_{name}"))
            packed.append(name)
        else:
            aggs.append(_agg_column(expr, cols).alias(name))
    if not aggs:
        raise ValueError("GROUP BY needs at least one aggregate projection")
    out = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    for name in packed:
        pk = f"__pk_{name}"
        out = (
            out.withColumn(name, F.col(pk)["v"])
            .withColumn(_companion(name, "type"), F.col(pk)["t"])
            .withColumn(_companion(name, "dt"), F.col(pk)["d"])
            .withColumn(_companion(name, "lang"), F.col(pk)["l"])
            .drop(pk)
        )
    return out


def _agg_column(expr: AggCall, cols: set) -> Column:
    if expr.name == "COUNT":
        if expr.arg is None:
            return F.count(F.lit(1)).cast("long")
        te = compile_expr(expr.arg, cols)
        if expr.distinct:
            # distinct TERMS, not lexical values: "5" plain and
            # "5"^^xsd:integer are two. Companions are coalesced to a
            # sentinel because multi-column count_distinct skips rows
            # containing ANY null; unbound values (null .value) must
            # still be skipped, which the bare value column ensures.
            sent = "\x00"
            c = F.count_distinct(
                te.value,
                F.coalesce(te.type, F.lit(sent)),
                F.coalesce(te.datatype, F.lit(sent)),
                F.coalesce(te.lang, F.lit(sent)),
            )
        else:
            c = F.count(te.value)
        return c.cast("long")
    val = compile_expr(expr.arg, cols).value
    if expr.name == "SUM":
        # try_cast: a non-numeric lexical value becomes NULL and is
        # ignored by the aggregate (SPARQL's error-ignoring rule); a plain
        # cast would THROW under ANSI mode
        return F.sum(val.try_cast("decimal(28,6)")).cast("double")
    if expr.name == "AVG":
        return F.avg(val.try_cast("decimal(28,6)")).cast("double")
    if expr.name == "MIN":
        return F.min(val)
    if expr.name == "MAX":
        return F.max(val)
    if expr.name == "SAMPLE":
        return F.min(val)
    if expr.name == "GROUP_CONCAT":
        # spec leaves element order undefined; sorting makes the result
        # deterministic (stable across runs, partitionings, engines)
        return F.concat_ws(
            expr.separator, F.array_sort(F.collect_list(val))
        )
    raise ValueError(f"unsupported aggregate {expr.name}")


def compile_describe(node: DescribeQuery, store) -> DataFrame:
    """DESCRIBE → quads DataFrame: all quads whose subject is a described
    resource. Constant IRIs filter directly; variables draw their values
    from the WHERE solutions (IRI/bnode bindings only — a literal cannot
    be a subject) via a semi-join on the uniform subject key."""
    dataset = store.dataset(node.from_graphs) if node.from_graphs else store.quads()
    consts = [t.value for t in node.terms if isinstance(t, IriT)]
    var_names = [t.name for t in node.terms if isinstance(t, VarT)]
    parts = []
    if consts:
        parts.append(dataset.where(F.col("s").isin(consts)))
    if var_names:
        if node.where is None:
            raise ValueError("DESCRIBE with variables needs a WHERE clause")
        named = store.dataset(node.from_named) if node.from_named else None
        bindings = compile_group(node.where, dataset, named)
        res = None
        for v in var_names:
            if v not in bindings.columns:
                continue
            one = bindings.select(F.col(v).alias("__res"), *(
                [F.col(_companion(v, "type")).alias("__rt")]
                if _companion(v, "type") in bindings.columns
                else [F.lit(None).cast("string").alias("__rt")]
            )).where(F.col("__res").isNotNull())
            # a literal binding is never a subject: without this check a
            # literal whose lexical form collides with an IRI/bnode label
            # would leak that resource's description
            one = one.where(
                F.col("__rt").isNull() | F.col("__rt").isin("iri", "bnode")
            ).select("__res")
            res = one if res is None else res.unionByName(one)
        if res is not None:
            parts.append(
                dataset.join(
                    res.distinct(),
                    dataset["s"] == F.col("__res"),
                    "left_semi",
                )
            )
    if not parts:
        return dataset.limit(0)
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out.dropDuplicates()


def compile_ask(node: AskQuery, store) -> DataFrame:
    """ASK → a plan whose non-emptiness is the answer (the caller takes 1
    row; Catalyst short-circuits the scan via the limit)."""
    dataset = store.dataset(node.from_graphs) if node.from_graphs else store.quads()
    named = store.dataset(node.from_named) if node.from_named else None
    return compile_group(node.where, dataset, named).limit(1)


def _const_quad_rows(quads: list, form: str) -> list[tuple]:
    """Constant-term quad list (INSERT DATA / DELETE DATA) → store rows."""
    rows = []
    for g, tp in quads:
        if g is None:
            raise ValueError(f"{form} without GRAPH is not supported")
        s, p, o = tp.s, tp.p, tp.o
        if isinstance(s, IriT):
            s_val, s_type = s.value, IRI
        elif isinstance(s, BNodeT):
            s_val, s_type = s.value, BNODE
        else:
            raise ValueError(
                f"{form} subject must be an IRI or blank node, got {s!r}"
            )
        if not isinstance(p, IriT):
            raise ValueError(f"{form} predicate must be an IRI")
        if isinstance(o, IriT):
            rows.append((g, s_val, s_type, p.value, o.value, IRI, None, None))
        elif isinstance(o, BNodeT):
            rows.append((g, s_val, s_type, p.value, o.value, BNODE, None, None))
        elif isinstance(o, LitT):
            rows.append(
                (g, s_val, s_type, p.value, o.value, LITERAL, o.datatype, o.lang)
            )
        else:
            raise ValueError(f"{form} terms must be constant")
    return rows


def _delete_graphs(node: DeleteWhere) -> list[str] | None:
    """Static delete-target graphs, or None when a GRAPH ?var template
    routes per row (store.delete then derives the graphs from the batch)."""
    targets = {g or node.target_graph for g, _ in node.delete_template}
    if None in targets:
        raise ValueError(
            "delete template triple has no target graph (no WITH/GRAPH)"
        )
    if any(isinstance(t, VarT) for t in targets):
        return None
    return sorted(targets)


def execute_update(node, store) -> None:
    """Run one parsed update against a :class:`..store.GraphStore`."""
    if isinstance(node, GraphDDL):
        op = store.clear if node.verb == "clear" else store.drop
        if node.scope == "graph":
            op(node.graph)
        else:
            # NAMED ≡ ALL in a store with no default graph: every quad
            # lives in a named graph (one partition delete per graph)
            for g in store.list_graphs():
                op(g)
        return
    if isinstance(node, GraphCopy):
        if node.src not in store.list_graphs():
            if node.silent:
                return
            raise ValueError(
                f"{node.verb.upper()}: source graph <{node.src}> does not "
                "exist (SILENT suppresses this error)"
            )
        fn = {
            "add": store.add_graph,
            "copy": store.copy_graph,
            "move": store.move_graph,
        }[node.verb]
        fn(node.src, node.dst)
        return
    if isinstance(node, LoadGraph):
        import os

        from ..sources import read_rdf

        path = node.source
        if path.startswith("file://"):
            path = path[len("file://"):]
        if not os.path.exists(path):
            if node.silent:
                return
            raise ValueError(
                f"LOAD: source {node.source!r} does not exist "
                "(SILENT suppresses this error)"
            )
        try:
            store.insert(
                read_rdf(store.spark, path, node.graph),
                target_graphs=[node.graph],
            )
        except Exception:
            # SPARQL 1.1 Update §3.1.2: SILENT makes the operation always
            # succeed — that includes parse/format failures of the
            # document, not just a missing file
            if not node.silent:
                raise
        return
    if isinstance(node, InsertData):
        store.insert_data(_const_quad_rows(node.quads, "INSERT DATA"))
        return
    if isinstance(node, DeleteData):
        rows = _const_quad_rows(node.quads, "DELETE DATA")
        store.delete(
            store.spark.createDataFrame(rows, QUAD_SCHEMA),
            target_graphs=sorted({r[0] for r in rows}),
        )
        return
    if isinstance(node, (DeleteWhere, InsertWhere)):
        # the update owns its WHERE pin and releases it once the writes
        # have returned: the store's files never read it again
        ck = Checkpoints()
        try:
            _modify(node, store, ck)
        finally:
            ck.release()
        return
    raise TypeError(f"unexpected update node {node!r}")


def _modify(node, store, ck: Checkpoints) -> None:
    """Run an INSERT…WHERE or DELETE [INSERT] WHERE; ``ck`` takes over the
    pinned bindings the compiled quads read."""
    if isinstance(node, DeleteWhere):
        del_df, ins_df = compile_delete_insert(node, store)
        ck.own(del_df)
        # SPARQL Modify order: delete first, then insert, both instantiated
        # from the pre-modification bindings (pinned above)
        store.delete(del_df, target_graphs=_delete_graphs(node))
        template = node.insert_template
    else:
        ins_df = ck.own(compile_insert_where(node, store))
        template = node.template
    if ins_df is None:
        return
    targets = {g or node.target_graph for g, _ in template}
    if None in targets:
        raise ValueError("template triple has no target graph (no WITH/GRAPH)")
    dynamic = any(isinstance(t, VarT) for t in targets)
    # batch_distinct: each construct() output is deduped internally and
    # the per-graph unions are disjoint on g → no second dedup shuffle.
    # With a GRAPH ?var block the targets are data-dependent: the
    # anti-join prunes against the whole store and the batch gets a
    # full dedup (a variable-graph construct may overlap a constant one)
    store.insert(
        ins_df,
        target_graphs=None if dynamic else sorted(targets),
        batch_distinct=not dynamic,
    )
