"""Minimal SPARQL frontend over (subj, pred, obj) triple DataFrames.

The reference pipeline runs arbitrary SPARQL files against its triple store
(RunSPARQLQuery.scala:1-30, RunSPARQLConstruct.scala, RunSPARQLUpdate.scala);
this module covers the language subset its shipped queries actually use
(src/main/sparql/*.rq):

- ``PREFIX`` declarations, ``SELECT ?v ...`` and ``CONSTRUCT { ... }``
  forms (plus the ``CONSTRUCT WHERE { BGP }`` shorthand, spec §10.2.3 —
  plain triple patterns only),
  plus ``ASK`` (one boolean row, computed from a 1-row probe — the
  solution set never materializes) and ``DESCRIBE <iri>...`` /
  ``DESCRIBE ?v WHERE {...}`` (all triples with the resource as subject
  or object; two semi equi-joins, never an OR-join),
- basic graph patterns: IRIs (``<...>`` or prefixed names), variables,
  ``a`` for rdf:type,
- property paths with SPARQL 1.1 grammar and precedence: grouping parens
  ``(p/q)*``, sequence ``p/q``, alternation ``p1|p2`` (binding LOOSER than
  ``/``, per spec — ``p|q+`` is ``p | (q+)``), star ``p*``, plus ``p+``,
  zero-or-one ``p?`` (mid-sequence contributes its zero-length arm;
  leading/bare ``p?`` drops it = ``R_p``, the same KB-build convention as
  bare ``p*``), inverse ``^p`` (applies to the following path element,
  including its modifier), negated property sets ``!iri`` /
  ``!(p1|^p2|...)`` (forward members exclude predicates on forward
  triples, ``^``-members on inverted triples; the two arms union per
  spec; ``!()`` matches any forward triple),
- ``FILTER`` with ``isIRI(?v)``, ``regex(expr, "pat"[, "flags"])``,
  comparisons ``expr OP expr`` (``= != < <= > >=``; full scalar
  expressions on both sides — a side that is statically numeric (a
  number, arithmetic, or STRLEN/ABS/CEIL/FLOOR/ROUND) makes the
  comparison numeric via double try_casts, else both sides compare on
  their canonical string form), ``?v [NOT] IN (term, ...)`` (term
  equality on canonical strings), the boolean builtins ``STRSTARTS /
  STRENDS / CONTAINS / sameTerm / BOUND / isIRI / isURI / isLiteral /
  isNumeric`` over scalar-expression arguments, ``!`` negation, ``&&``
  conjunction and ``||`` disjunction with spec precedence (``&&`` binds
  tighter) and parenthesized sub-expressions. A FILTER referencing a
  variable no pattern in scope binds raises (strict — a typo'd var must
  not silently return unfiltered rows),
- ``OPTIONAL { ... }`` (nests: an OPTIONAL may contain its own OPTIONAL
  groups and UNION blocks, any depth), ``{ ... } UNION { ... }`` —
  multiple UNION blocks per group AND UNIONs nested inside UNION arms
  (flattened into the arm product at parse time, so the solver only ever
  equi-joins statically-bound variable sets — no join sees a null key);
  arms/OPTIONALs may carry their own OPTIONAL groups, BINDs and VALUES.
  A shared variable a subgroup binds only PARTIALLY (optional extension /
  missing from one arm) cannot be an equi-join key and raises rather than
  silently dropping solutions. Group algebra LIMITATION:
  OPTIONAL groups are evaluated AFTER the basic patterns and UNION blocks
  regardless of textual order (left-associative SPARQL group ordering is
  not reproduced; for BGP+UNION+OPTIONAL shapes the results coincide),
- ``FROM <graph>`` (ignored — the input DataFrame IS the graph),
- SELECT-clause algebra: ``DISTINCT``/``REDUCED`` (honored —
  ``dropDuplicates`` after projection), ``SELECT *``, projected
  expressions ``(expr AS ?alias)``, aggregates ``COUNT(*)``,
  ``COUNT/SUM/AVG/MIN/MAX/SAMPLE/GROUP_CONCAT([DISTINCT] expr
  [; SEPARATOR="s"])`` with ``GROUP BY ?v ...`` (conditions may be
  expressions — ``GROUP BY (UCASE(?g) AS ?k)`` or a bare builtin call —
  compiled as Extend-then-Group, i.e. an internal BIND) and ``HAVING(...)``
  (one ``groupBy().agg()`` — Catalyst plans the partial aggregate;
  HAVING accepts both projection-alias references and DIRECT aggregate
  calls — ``HAVING(COUNT(*) > 2)`` — computed in the same agg under
  internal aliases);
  deviation: the solver is set-based, so aggregates run over DISTINCT
  solutions, not SPARQL's bag semantics,
- solution modifiers: ``ORDER BY [ASC|DESC](?v)`` (lexicographic over the
  string-typed store; ``ASC/DESC(xsd:double(?v))`` for numeric order;
  keys may be scalar expressions over projected vars —
  ``DESC(STRLEN(?v))`` — with statically-numeric expressions ordering
  numerically),
  ``LIMIT`` / ``OFFSET``, and the spec's trailing ``VALUES`` clause
  (parameterized queries — joined into the WHERE group's solutions,
  the spec's ``Join(P, ToMultiset(data))`` translation),
- group extensions: ``BIND(expr AS ?v)`` (expr: vars, literals,
  ``+ - * /`` over double casts, ``CONCAT``, ``STR``, the scalar
  builtins ``STRLEN / UCASE / LCASE / SUBSTR / STRBEFORE / STRAFTER /
  REPLACE / ABS / CEIL / FLOOR / ROUND / COALESCE`` and
  ``IF(boolcond, then, else)`` — ROUND is the spec's half-toward-+inf;
  the bound value lands in the solution frame in canonical STRING form,
  preserving the engine-wide all-string invariant; ``LANG / DATATYPE /
  isBlank / BNODE / IRI / UUID / NOW / RAND ...`` are rejected with an
  explanation — the string-typed store erases what they inspect) and
  ``VALUES``
  inline data (single- and multi-var; ``UNDEF`` joins on the row's
  defined columns only via defined-mask grouping — still pure equi-joins;
  always broadcast), ``MINUS { G }`` (left-anti on shared vars; disjoint
  domains remove nothing, per spec) and ``FILTER [NOT] EXISTS { G }``
  (semi-/anti-join on shared vars; uncorrelated groups degrade to a
  non-empty probe) — all four anywhere a group appears, including
  OPTIONAL groups and UNION arms, with G itself a full group (may
  contain OPTIONAL/UNION/BIND/VALUES/MINUS/EXISTS); a group-scoped
  MINUS/EXISTS correlates on the vars its OWN group binds,
- left-join filter semantics: a FILTER inside an OPTIONAL group (and a
  FILTER inside an EXISTS body) may reference ENCLOSING-group vars —
  it becomes a join conjunct (the spec's ``LeftJoin(P1, P2, F)`` /
  EXISTS substitution semantics), so an outer row failing the filter
  survives unextended rather than being dropped; FILTERs apply at
  end-of-group scope, so they also see the group's own OPTIONAL
  extensions. Union-carrying groups still require their filters to bind
  locally (deferral is union-free-only),
- triple patterns may use literal/numeric objects (``?m ex:group "c"``) —
  constants over the string-typed store,
- ``{ SELECT ... }`` subqueries (group-scoped — anywhere a group
  appears, incl. OPTIONAL/UNION arms/MINUS/EXISTS bodies, and nestable):
  evaluated bottom-up with their own aggregation/modifier scope; only
  projected vars join the enclosing group's solutions (SPARQL subquery
  scoping) — enables nested aggregation ("members of groups whose total
  exceeds X"); typed aggregate columns are cast to their canonical string
  form at the merge boundary so every solution frame stays string-typed
  (see :func:`_stringify_frame`),
- numeric coercion anywhere (FILTER comparisons, SELECT arithmetic,
  SUM/AVG, ORDER BY casts) uses ``try_cast`` — a non-numeric term is
  null, never an ANSI runtime error (Spark 4 defaults ANSI on),
- SPARQL 1.1 Update statements (:func:`update`): ``INSERT DATA``,
  ``DELETE DATA``, ``DELETE WHERE``, ``DELETE {..} INSERT {..} WHERE {..}``
  — functional (the updated graph is returned), covering the reference's
  ``RunSPARQLUpdate`` tool; a property path in a ``DELETE WHERE`` pattern
  is rejected, as SPARQL 1.1 forbids it (paths stay legal in the
  ``WHERE`` block of ``DELETE {..} WHERE {..}``).

Path semantics follow the engine's KB-build convention rather than strict
SPARQL 1.1 zero-length-path semantics: a *bare* starred pattern
(``?s p* ?o``) evaluates to the transitive closure WITHOUT zero-length
(x, x) pairs — matching the materialized `subclass_closure` convention.
A pair (x, x) reachable in ≥1 hop (a self-edge, or a cycle through the
graph) IS kept: only the spec's universal zero-length arm is dropped.
A star in sequence position (``p/q*``) includes the zero-length hop
(``R_p ∪ R_p ∘ TC(q)``), matching `instance_closure`
(profile_instance_closure_construct.rq:11). Deviation is documented here
because the reference consumes these queries against a reasoner-materialized
store where the distinction is already baked in.

Evaluation is pure DataFrame composition: each triple pattern becomes a
filtered projection of the triple table, patterns join on shared variables
(Catalyst picks broadcast vs shuffle), star paths reuse
``operators.closure.transitive_closure`` (semi-naive, barrier-checkpointed).
No driver-side row iteration — results stay distributed.
"""

from __future__ import annotations

import dataclasses
import re
from dataclasses import dataclass
from itertools import product

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

_IRI_RE = r"<[^<>\s]*>"
_PNAME_RE = r"[A-Za-z][\w.-]*:[\w.-]*"
_VAR_RE = r"\?[A-Za-z_]\w*"
_STR_RE = r'"(?:[^"\\]|\\.)*"'
_NUM_RE = r"\d+(?:\.\d+)?(?:[eE][+-]?\d+)?"
_TOKEN_RE = re.compile(
    rf"({_IRI_RE}|{_VAR_RE}|{_STR_RE}|{_NUM_RE}|!=|<=|>=|&&|\|\||"
    rf"{_PNAME_RE}|[{{}}()./*|^+<>=!?,;-]|[A-Za-z_]\w*)"
)
# matches an absolute IRI (scheme://... or urn:-style); used for isIRI()
_IS_IRI_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://"


@dataclass(frozen=True)
class Term:
    kind: str  # 'iri' | 'var'
    value: str


@dataclass(frozen=True)
class PathNode:
    """SPARQL 1.1 property-path AST with spec precedence:
    ``alt`` > ``seq`` > ``inv``/modifier > ``primary`` (iri or parens)."""

    op: str  # 'iri'|'seq'|'alt'|'inv'|'star'|'plus'|'opt'|'nps'
    iri: str = ""
    kids: tuple["PathNode", ...] = ()
    # 'nps' (negated property set, !(...)): kids are the EXCLUDED members —
    # 'iri' nodes (forward) and 'inv'-wrapped 'iri' nodes (inverse).


@dataclass(frozen=True)
class Pattern:
    subj: Term
    path: PathNode | Term  # Term only for a variable predicate
    obj: Term

    @property
    def vars(self) -> tuple[str, ...]:
        out = []
        for t in (self.subj, self.path, self.obj):
            if isinstance(t, Term) and t.kind == "var":
                out.append(t.value)
        return tuple(out)


@dataclass
class GroupNode:
    """A parsed ``{ ... }`` group — the recursive SPARQL group algebra.

    ``unions`` holds UNION blocks (each a list of arms); arms are
    union-free by construction: a UNION nested inside an arm is expanded
    at parse time into the arm product (:func:`_dnf`), so the solver only
    ever joins statically-known variable sets — no join sees a null key.
    ``optionals`` nest to any depth. ``binds``/``values``/``minuses``/
    ``exists``/``subqueries`` are group-scoped (they extend/filter THIS
    group's solutions — a group-level MINUS or FILTER EXISTS correlates
    on the variables its OWN group binds; a subquery's projected vars
    join this group's solutions)."""

    patterns: list = dataclasses.field(default_factory=list)
    filters: list = dataclasses.field(default_factory=list)
    optionals: list = dataclasses.field(default_factory=list)  # [GroupNode]
    unions: list = dataclasses.field(default_factory=list)  # [[GroupNode]]
    binds: list = dataclasses.field(default_factory=list)  # [(Expr, var)]
    values: list = dataclasses.field(default_factory=list)  # [(names, rows)]
    minuses: list = dataclasses.field(default_factory=list)  # [GroupNode]
    exists: list = dataclasses.field(default_factory=list)  # [(neg, GroupNode)]
    subqueries: list = dataclasses.field(default_factory=list)  # [Query]


def _merge_nodes(a: GroupNode, b: GroupNode) -> GroupNode:
    """Conjoin two union-free groups (DNF expansion step). Filters keep
    group scope in the flattened join because they only constrain the
    variables they name — joining first and filtering once is equivalent."""
    return GroupNode(a.patterns + b.patterns, a.filters + b.filters,
                     a.optionals + b.optionals, [],
                     a.binds + b.binds, a.values + b.values,
                     a.minuses + b.minuses, a.exists + b.exists,
                     a.subqueries + b.subqueries)


def _dnf(node: GroupNode) -> list[GroupNode]:
    """Distribute a group's UNION blocks into the arm-product list of
    union-free conjunctive groups: Join(P, U(a1,a2), U(b1,b2)) =
    Union over {Join(P, a_i, b_j)}. Arms are already union-free (parse-time
    expansion), so one product level suffices."""
    if not node.unions:
        return [node]
    base = GroupNode(node.patterns, node.filters, node.optionals, [],
                     node.binds, node.values, node.minuses, node.exists,
                     node.subqueries)
    out = []
    for combo in product(*node.unions):
        g = base
        for arm in combo:
            g = _merge_nodes(g, arm)
        out.append(g)
    return out


@dataclass(frozen=True)
class Filter:
    """One FILTER condition, compiled to a Column over the solution frame.

    kinds: ``isiri`` (var matches absolute-IRI regex), ``regex``
    (rhs = pattern, flags = regex flags, 'i' supported), ``cmp``
    (var OP rhs; rhs_kind 'num' compares numerically via a double cast,
    'var' compares against another binding, else string comparison),
    ``cmpe`` (expr OP expr — exprs=(lhs, rhs); numeric=True compares via
    double try_casts when either side is statically numeric, else both
    sides compare on their canonical string form), ``boolfn`` (op = a
    boolean builtin — STRSTARTS/STRENDS/CONTAINS/SAMETERM/BOUND/
    isIRI/isLiteral/isNumeric/REGEX — over Expr args; BOUND and
    isNumeric return False, never null, on an unbound argument, matching
    Spark's isNotNull; sameTerm is string equality over the string-typed
    store; isLiteral = NOT isIRI — the store skolemizes blank nodes),
    ``in`` (exprs=(lhs,), items = canonical term strings; neg = NOT IN;
    a null lhs yields null, per Spark's isin),
    ``and`` / ``or`` (boolean combinations of ``kids`` — a disjunction is a
    plain Column OR over the SAME solution frame, never a UNION rewrite)."""

    kind: str  # 'isiri'|'regex'|'cmp'|'cmpe'|'boolfn'|'in'|'and'|'or'
    var: str
    neg: bool = False
    op: str = ""          # cmp/cmpe: '=' '!=' '<' '<=' '>' '>='; boolfn: name
    rhs: str = ""         # cmp: value/var name; regex/boolfn-regex: pattern
    rhs_kind: str = ""    # cmp: 'var' | 'num' | 'str' | 'iri'
    flags: str = ""       # regex flags
    kids: tuple["Filter", ...] = ()  # and/or: sub-expressions
    exprs: tuple = ()     # cmpe/boolfn/in: Expr operands
    items: tuple = ()     # in: RHS term list (canonical strings)
    numeric: bool = False  # cmpe: compare as doubles

    @property
    def vars(self) -> tuple[str, ...]:
        if self.kind in ("and", "or"):
            seen: dict[str, None] = {}
            for k in self.kids:
                for v in k.vars:
                    seen[v] = None
            return tuple(seen)
        if self.kind in ("cmpe", "boolfn", "in"):
            seen = {}
            for e in self.exprs:
                for v in e.vars:
                    seen[v] = None
            return tuple(seen)
        if self.kind == "cmp" and self.rhs_kind == "var":
            return (self.var, self.rhs)
        return (self.var,)

    _CMP = {
        "=": lambda l, r: l == r, "!=": lambda l, r: l != r,
        "<": lambda l, r: l < r, "<=": lambda l, r: l <= r,
        ">": lambda l, r: l > r, ">=": lambda l, r: l >= r,
    }

    def column(self):
        if self.kind in ("and", "or"):
            cond = self.kids[0].column()
            for k in self.kids[1:]:
                cond = (cond & k.column()) if self.kind == "and" else (cond | k.column())
            return ~cond if self.neg else cond
        if self.kind == "cmpe":
            if self.numeric:
                lhs = self.exprs[0].column().try_cast("double")
                rhs = self.exprs[1].column().try_cast("double")
            else:
                lhs = self.exprs[0].column().cast("string")
                rhs = self.exprs[1].column().cast("string")
            cond = self._CMP[self.op](lhs, rhs)
            return ~cond if self.neg else cond
        if self.kind == "in":
            cond = self.exprs[0].column().cast("string").isin(*self.items)
            return ~cond if self.neg else cond
        if self.kind == "boolfn":
            cond = self._boolfn_column()
            return ~cond if self.neg else cond
        c = F.col(self.var)
        if self.kind == "isiri":
            cond = c.rlike(_IS_IRI_RE)
        elif self.kind == "regex":
            pat = ("(?i)" + self.rhs) if "i" in self.flags else self.rhs
            cond = c.rlike(pat)
        else:
            if self.rhs_kind == "var":
                lhs, rhs = c, F.col(self.rhs)
            elif self.rhs_kind == "num":
                lhs, rhs = c.try_cast("double"), F.lit(float(self.rhs))
            else:
                lhs, rhs = c, F.lit(self.rhs)
            cond = self._CMP[self.op](lhs, rhs)
        return ~cond if self.neg else cond

    def _boolfn_column(self):
        name = self.op
        a = self.exprs[0].column().cast("string")
        if name == "bound":
            return a.isNotNull()
        if name == "isiri":
            return a.rlike(_IS_IRI_RE)
        if name == "isliteral":
            return ~a.rlike(_IS_IRI_RE)
        if name == "isnumeric":
            return a.try_cast("double").isNotNull()
        if name == "regex":
            pat = ("(?i)" + self.rhs) if "i" in self.flags else self.rhs
            return a.rlike(pat)
        b = self.exprs[1].column().cast("string")
        if name == "strstarts":
            return a.startswith(b)
        if name == "strends":
            return a.endswith(b)
        if name == "contains":
            return a.contains(b)
        assert name == "sameterm", name
        return a == b


# scalar built-ins (Expr kind 'fn'), by lowercase name -> arity range.
# Numeric ones go through try_cast(double) (a non-numeric term is null,
# never an ANSI error); string ones cast their argument to string first so
# typed columns (aggregate aliases, arithmetic BINDs) are always safe input.
_SCALAR_FNS = {
    "strlen": (1, 1), "ucase": (1, 1), "lcase": (1, 1),
    "substr": (2, 3), "strbefore": (2, 2), "strafter": (2, 2),
    "replace": (3, 4),
    "abs": (1, 1), "ceil": (1, 1), "floor": (1, 1), "round": (1, 1),
    "coalesce": (1, 99),
}
# statically numeric-valued Expr fns — drives comparison typing (see
# Filter kind 'cmpe') exactly like a numeric literal RHS does
_NUMERIC_FNS = frozenset({"strlen", "abs", "ceil", "floor", "round"})
# boolean-valued builtins (FILTER atoms / IF conditions), name -> arity
_BOOL_FN_ARITY = {
    "strstarts": 2, "strends": 2, "contains": 2, "sameterm": 2,
    "bound": 1, "isiri": 1, "isuri": 1, "isliteral": 1, "isnumeric": 1,
}
# recognized-but-unsupported builtins: the string-typed store erases
# language tags / datatypes / blank-node identity, so these cannot be
# answered honestly — raise a clear error instead of a wrong answer
_REJECTED_FNS = frozenset({
    "lang", "datatype", "langmatches", "strlang", "strdt", "isblank",
    "bnode", "iri", "uri", "uuid", "struuid", "now", "rand",
    "encode_for_uri",
})


@dataclass(frozen=True)
class Expr:
    """Scalar expression (BIND bodies, projected expressions, aggregate
    arguments). Arithmetic casts operands to double (the triple store is
    string-typed); ``concat``/``str``/string builtins stay string-typed.

    kinds: ``var`` | ``num`` | ``str`` | ``iri`` | ``arith`` (op: + - * /)
    | ``concat`` | ``strfn`` (STR(e) — identity over our string store,
    accepted for query compat) | ``neg`` (unary minus) | ``fn`` (op = a
    ``_SCALAR_FNS`` name, kids = args) | ``if`` (cond = a Filter evaluated
    with the engine's three-valued logic; a null condition takes the else
    branch, mirroring Spark's ``when``; both branches surface as their
    canonical string form so the solution frame stays string-typed).

    SUBSTR positions follow the SPARQL spec for pos >= 1 (1-based,
    length-clamped); non-positive positions are Spark ``substr``
    passthrough and outside the supported contract."""

    kind: str
    value: str = ""
    op: str = ""
    kids: tuple["Expr", ...] = ()
    cond: "Filter | None" = None  # 'if' only
    agg: "Aggregate | None" = None  # 'agg' only (HAVING aggregate calls)

    @property
    def vars(self) -> tuple[str, ...]:
        if self.kind == "var":
            return (self.value,)
        if self.kind == "agg":
            return self.agg.vars
        seen: dict[str, None] = {}
        if self.cond is not None:
            for v in self.cond.vars:
                seen[v] = None
        for k in self.kids:
            for v in k.vars:
                seen[v] = None
        return tuple(seen)

    def column(self):
        if self.kind == "agg":
            raise AssertionError(
                "Expr('agg') must be rewritten to its internal alias by "
                "_rewrite_having before compilation")
        if self.kind == "var":
            return F.col(self.value)
        if self.kind == "num":
            return F.lit(float(self.value) if "." in self.value or "e" in self.value.lower() else int(self.value))
        if self.kind in ("str", "iri"):
            return F.lit(self.value)
        if self.kind == "concat":
            return F.concat(*[k.column().cast("string") for k in self.kids])
        if self.kind == "strfn":
            return self.kids[0].column().cast("string")
        if self.kind == "neg":
            return -self.kids[0].column().try_cast("double")
        if self.kind == "if":
            t = self.kids[0].column().cast("string")
            e = self.kids[1].column().cast("string")
            return F.when(self.cond.column(), t).otherwise(e)
        if self.kind == "fn":
            return self._fn_column()
        assert self.kind == "arith", self.kind
        lhs = self.kids[0].column().try_cast("double")
        rhs = self.kids[1].column().try_cast("double")
        return {"+": lhs + rhs, "-": lhs - rhs, "*": lhs * rhs, "/": lhs / rhs}[self.op]

    def _fn_column(self):
        name = self.op
        args = [k.column() for k in self.kids]
        s = args[0].cast("string") if args else None
        if name == "strlen":
            return F.length(s)
        if name == "ucase":
            return F.upper(s)
        if name == "lcase":
            return F.lower(s)
        if name == "substr":
            pos = args[1].try_cast("int")
            if len(args) == 3:
                ln = F.greatest(args[2].try_cast("int"), F.lit(0))
            else:  # to end of string (clamped — never negative)
                ln = F.greatest(F.length(s) - pos + F.lit(1), F.lit(0))
            return s.substr(pos, ln)
        if name in ("strbefore", "strafter"):
            t = args[1].cast("string")
            # instr("abc", "") == 1, which gives the spec's empty-needle
            # answers for free: STRBEFORE -> "", STRAFTER -> whole string
            at = F.instr(s, t)
            if name == "strbefore":
                hit = s.substr(F.lit(1), at - F.lit(1))
            else:
                hit = s.substr(at + F.length(t),
                               F.greatest(F.length(s), F.lit(1)))
            # needle absent -> "" (spec); null operand propagates null
            return F.when(at > 0, hit).otherwise(
                F.when(s.isNull() | t.isNull(), F.lit(None)).otherwise(F.lit("")))
        if name == "replace":
            pat = self.kids[1]
            if pat.kind != "str" or (len(self.kids) > 3 and self.kids[3].kind != "str"):
                raise ValueError(
                    "SPARQL: REPLACE pattern/flags must be string literals")
            p = pat.value
            if len(self.kids) > 3 and "i" in self.kids[3].value:
                p = "(?i)" + p
            rep = args[2].cast("string")
            return F.regexp_replace(s, F.lit(p), rep)
        if name == "coalesce":
            # all arms cast to canonical string form — mixed-typed arms
            # (a string var vs an arithmetic result) must not ANSI-coerce
            return F.coalesce(*[a.cast("string") for a in args])
        x = args[0].try_cast("double")
        if name == "abs":
            return F.abs(x)
        if name == "ceil":
            return F.ceil(x).cast("double")
        if name == "floor":
            return F.floor(x).cast("double")
        assert name == "round", name
        # SPARQL rounds half toward +inf (Spark's round() rounds half
        # away from zero — floor(x + 0.5) is the spec's rule)
        return F.floor(x + F.lit(0.5)).cast("double")


def _numericish(e: Expr) -> bool:
    """True when the expression is statically numeric-valued — a
    comparison with a numericish side compares numerically (both sides
    try_cast to double), exactly as a numeric literal RHS always has."""
    if e.kind in ("num", "arith", "neg"):
        return True
    if e.kind == "fn":
        if e.op in _NUMERIC_FNS:
            return True
        if e.op == "coalesce":
            return all(_numericish(k) for k in e.kids)
        return False
    if e.kind == "if":
        return all(_numericish(k) for k in e.kids)
    if e.kind == "agg":
        return e.agg.func in ("count", "sum", "avg")
    return False


@dataclass(frozen=True)
class Aggregate:
    """One aggregate in the SELECT projection. ``arg is None`` == COUNT(*).

    Semantics note (documented deviation): the solver is set-based (each
    pattern's bindings are distinct), so aggregates run over DISTINCT
    solutions rather than SPARQL's bag semantics — COUNT(?v) here equals
    COUNT(DISTINCT solution rows projecting ?v) of a strict engine."""

    func: str  # 'count' | 'sum' | 'avg' | 'min' | 'max' | 'sample' | 'group_concat'
    arg: Expr | None
    distinct: bool
    alias: str
    separator: str = " "

    @property
    def vars(self) -> tuple[str, ...]:
        return self.arg.vars if self.arg is not None else ()

    def column(self):
        if self.arg is None:  # COUNT(*)
            return F.count(F.lit(1)).alias(self.alias)
        c = self.arg.column()
        if self.func == "count":
            col = F.countDistinct(c) if self.distinct else F.count(c)
        elif self.func == "sum":
            c = c.try_cast("double")
            col = F.sum_distinct(c) if self.distinct else F.sum(c)
        elif self.func == "avg":
            if self.distinct:
                if self.arg.kind != "var":
                    raise ValueError(
                        "SPARQL: AVG(DISTINCT expr) supported for plain "
                        "variables only"
                    )
                col = F.expr(f"avg(DISTINCT TRY_CAST(`{self.arg.value}` AS DOUBLE))")
            else:
                col = F.avg(c.try_cast("double"))
        elif self.func == "min":
            col = F.min(c)
        elif self.func == "max":
            col = F.max(c)
        elif self.func == "sample":
            # deterministic choice — the spec allows any member
            col = F.min(c)
        else:
            assert self.func == "group_concat", self.func
            # sort for determinism across partitionings; DISTINCT -> set
            items = F.collect_set(c.cast("string")) if self.distinct else F.collect_list(c.cast("string"))
            col = F.array_join(F.sort_array(items), self.separator)
        return col.alias(self.alias)


@dataclass
class Query:
    form: str  # 'select' | 'construct' | 'update'
    projection: list[str]  # select vars, in order
    template: list[tuple[Term, Term, Term]]  # construct template triples
    patterns: list[Pattern]
    filters: list[Filter]
    # update-only (SPARQL 1.1 Update, RunSPARQLUpdate.scala:1-29):
    delete_template: list[tuple[Term, Term, Term]] | None = None
    insert_template: list[tuple[Term, Term, Term]] | None = None
    # group algebra: OPTIONAL {..} groups (left-joined on shared vars) and
    # {..} UNION {..} blocks (each a list of union-free GroupNode arms —
    # nested UNIONs were DNF-expanded at parse time); see _Parser.group
    optionals: list[tuple] | None = None
    unions: list[list[tuple]] | None = None
    # SELECT-clause shape: projection items in order — ('var', name) |
    # ('expr', Expr, alias) | ('agg', Aggregate); `projection` keeps the
    # flat output-column-name list for compat
    proj_items: list[tuple] | None = None
    distinct: bool = False
    # group extensions — the TOP group's (a subgroup's BIND/VALUES/
    # MINUS/EXISTS/subqueries live in their GroupNode)
    binds: list[tuple[Expr, str]] | None = None          # BIND(expr AS ?v)
    values_blocks: list[tuple[list[str], list[tuple]]] | None = None
    minuses: list["GroupNode"] | None = None             # MINUS groups
    exists_filters: list[tuple[bool, "GroupNode"]] | None = None
    subqueries: list["Query"] | None = None              # { SELECT ... } blocks
    # solution modifiers
    group_by: list[str] | None = None
    having: list[Filter] | None = None
    order_by: list[tuple[str, bool, bool]] | None = None  # (var, desc, numeric)
    limit: int | None = None
    offset: int | None = None

    @property
    def iri_filters(self) -> list[str]:
        """Vars under a positive FILTER(isIRI(?v)) — compat convenience."""
        return [f.var for f in self.filters if f.kind == "isiri" and not f.neg]


def _strip_comments(text: str) -> str:
    out_lines = []
    for ln in text.splitlines():
        in_iri = in_str = False
        i = 0
        while i < len(ln):
            ch = ln[i]
            if in_str:
                if ch == "\\":
                    i += 1  # skip escaped char
                elif ch == '"':
                    in_str = False
            elif ch == '"':
                in_str = True
            elif ch == "<":
                in_iri = True
            elif ch == ">":
                in_iri = False
            elif ch == "#" and not in_iri:
                ln = ln[:i]
                break
            i += 1
        out_lines.append(ln)
    return "\n".join(out_lines)


def _tokens(text: str) -> list[str]:
    return _TOKEN_RE.findall(text)


class _Parser:
    def __init__(self, text: str):
        text = _strip_comments(text)
        self.prefixes: dict[str, str] = {}
        for m in re.finditer(
            rf"(?i)\bPREFIX\s+([A-Za-z][\w-]*)?\s*:\s*<([^>]*)>", text
        ):
            self.prefixes[m.group(1) or ""] = m.group(2)
        body = re.sub(rf"(?i)\bPREFIX\s+[\w-]*\s*:\s*<[^>]*>", " ", text)
        body = re.sub(rf"(?i)\bFROM\s+(NAMED\s+)?<[^>]*>", " ", body)
        self.toks = _tokens(body)
        self.i = 0

    def peek(self) -> str | None:
        return self.toks[self.i] if self.i < len(self.toks) else None

    def next(self) -> str:
        tok = self.toks[self.i]
        self.i += 1
        return tok

    def expect(self, tok: str) -> None:
        got = self.next()
        if got.lower() != tok.lower():
            raise ValueError(f"SPARQL parse: expected {tok!r}, got {got!r}")

    def resolve(self, tok: str) -> str:
        if tok.startswith("<"):
            return tok[1:-1]
        pfx, _, local = tok.partition(":")
        if pfx not in self.prefixes:
            raise ValueError(f"SPARQL parse: unknown prefix {pfx!r} in {tok!r}")
        return self.prefixes[pfx] + local

    def term(self) -> Term:
        tok = self.next()
        if tok.startswith("?"):
            return Term("var", tok[1:])
        if tok == "a":
            return Term("iri", RDF_TYPE)
        if tok.startswith('"'):
            # literal object — a plain constant over the string-typed store
            # (kind stays 'iri': consumers only branch on var-vs-constant)
            return Term("iri", tok[1:-1])
        if re.fullmatch(_NUM_RE, tok):
            return Term("iri", tok)
        return Term("iri", self.resolve(tok))

    def path(self) -> PathNode | Term:
        """SPARQL 1.1 Path grammar, spec precedence:
        Path := Seq ('|' Seq)* ; Seq := EltOrInv ('/' EltOrInv)* ;
        EltOrInv := '^' Elt | Elt ; Elt := Primary ('*'|'+'|'?')? ;
        Primary := iri | 'a' | '(' Path ')'."""
        nxt = self.peek()
        if nxt is not None and nxt.startswith("?"):
            var = self.term()
            if self.peek() in ("/", "*", "+", "|", "?", "^"):
                raise ValueError("SPARQL parse: variables not allowed inside paths")
            return var  # variable predicate
        return self._path_alt()

    def _path_alt(self) -> PathNode:
        kids = [self._path_seq()]
        while self.peek() == "|":
            self.next()
            kids.append(self._path_seq())
        return kids[0] if len(kids) == 1 else PathNode("alt", kids=tuple(kids))

    def _path_seq(self) -> PathNode:
        kids = [self._path_elt_or_inv()]
        while self.peek() == "/":
            self.next()
            kids.append(self._path_elt_or_inv())
        return kids[0] if len(kids) == 1 else PathNode("seq", kids=tuple(kids))

    def _path_elt_or_inv(self) -> PathNode:
        if self.peek() == "^":
            self.next()
            return PathNode("inv", kids=(self._path_elt(),))
        return self._path_elt()

    def _path_elt(self) -> PathNode:
        node = self._path_primary()
        if self.peek() == "*":
            self.next()
            return PathNode("star", kids=(node,))
        if self.peek() == "+":
            self.next()
            return PathNode("plus", kids=(node,))
        if self.peek() == "?":
            self.next()
            return PathNode("opt", kids=(node,))
        return node

    def _path_primary(self) -> PathNode:
        if self.peek() == "(":
            self.next()
            node = self._path_alt()
            self.expect(")")
            return node
        if self.peek() == "!":
            self.next()
            return self._path_negated_pset()
        t = self.term()
        if t.kind != "iri":
            raise ValueError("SPARQL parse: variables not allowed inside paths")
        return PathNode("iri", iri=t.value)

    def _path_negated_pset(self) -> PathNode:
        """``PathNegatedPropertySet := OneInPSet | '(' (OneInPSet ('|'
        OneInPSet)*)? ')'`` where ``OneInPSet := iri | 'a' | '^'(iri|'a')``."""
        members: list[PathNode] = []
        if self.peek() == "(":
            self.next()
            while self.peek() != ")":
                members.append(self._path_one_in_pset())
                if self.peek() == "|":
                    self.next()
            self.expect(")")
        else:
            members.append(self._path_one_in_pset())
        return PathNode("nps", kids=tuple(members))

    def _path_one_in_pset(self) -> PathNode:
        inverse = self.peek() == "^"
        if inverse:
            self.next()
        t = self.term()
        if t.kind != "iri":
            raise ValueError(
                "SPARQL parse: negated property sets take only IRIs (or 'a')"
            )
        leaf = PathNode("iri", iri=t.value)
        return PathNode("inv", kids=(leaf,)) if inverse else leaf

    def group(self) -> GroupNode:
        """Parse { ... } into a :class:`GroupNode`.

        OPTIONAL groups nest to any depth and may carry their own UNION
        blocks (solved as the union of the group's DNF combinations —
        the left join into the outer solutions does NOT distribute, so
        the union materializes first). UNION arms nest too: an arm's own
        UNION blocks are expanded HERE into the arm product (:func:`_dnf`),
        so every arm the solver sees is union-free and its bound-variable
        set is static — no join ever sees a null key. BIND, VALUES, MINUS,
        FILTER EXISTS and { SELECT } subqueries are all group-scoped
        (allowed inside OPTIONAL groups, UNION arms, MINUS/EXISTS
        bodies)."""
        self.expect("{")
        node = GroupNode()
        patterns = node.patterns
        filters = node.filters
        optionals = node.optionals
        unions = node.unions

        def subgroup(kind: str) -> GroupNode:
            sub = self.group()
            if not sub.patterns and not sub.unions and not sub.subqueries:
                raise ValueError(f"SPARQL parse: empty {kind} group")
            # sub-group filters stay WITH the group: applied to its own
            # solutions before the join, so an OPTIONAL's filter cannot
            # discard outer rows (SPARQL filter scope)
            return sub

        while self.peek() is not None and self.peek() != "}":
            if self.peek().lower() == "optional":
                self.next()
                optionals.append(subgroup("OPTIONAL"))
                if self.peek() == ".":
                    self.next()
                continue
            if self.peek() == "{" and self.i + 1 < len(self.toks) and \
                    self.toks[self.i + 1].lower() == "select":
                # { SELECT ... } subquery — evaluated bottom-up, its
                # projected vars join THIS group's solutions
                self.next()  # {
                self.next()  # SELECT
                node.subqueries.append(self._parse_select(sub=True))
                self.expect("}")
                if self.peek() == ".":
                    self.next()
                continue
            if self.peek() == "{":
                # each arm DNF-expands its own nested UNION blocks, so the
                # block's arm list is flat and union-free (arbitrary nesting
                # depth collapses here)
                arms = list(_dnf(subgroup("UNION")))
                n_blocks = 1
                while self.peek() is not None and self.peek().lower() == "union":
                    self.next()
                    arms.extend(_dnf(subgroup("UNION")))
                    n_blocks += 1
                if n_blocks < 2:
                    raise ValueError("SPARQL parse: bare group braces need UNION")
                for arm in arms:
                    if not arm.patterns and not arm.subqueries:
                        raise ValueError("SPARQL parse: empty UNION arm")
                unions.append(arms)
                if self.peek() == ".":
                    self.next()
                continue
            kw = self.peek().lower()
            if kw == "filter" and self.i + 1 < len(self.toks) and self.toks[
                self.i + 1
            ].lower() in ("exists", "not"):
                self.next()
                negated = False
                if self.peek().lower() == "not":
                    self.next()
                    negated = True
                self.expect("exists")
                node.exists.append((negated, subgroup("FILTER EXISTS")))
                if self.peek() == ".":
                    self.next()
                continue
            if kw == "minus":
                self.next()
                node.minuses.append(subgroup("MINUS"))
                if self.peek() == ".":
                    self.next()
                continue
            if kw == "bind":
                self.next()
                self.expect("(")
                expr = self._expr()
                self.expect("as")
                var = self._filter_var()
                self.expect(")")
                node.binds.append((expr, var))
                if self.peek() == ".":
                    self.next()
                continue
            if kw == "values":
                self.next()
                node.values.append(self._values_block())
                if self.peek() == ".":
                    self.next()
                continue
            if kw == "filter":
                self.next()
                filters.extend(self._filter_constraint())
            else:
                subj = self.term()
                path = self.path()
                obj = self.term()
                patterns.append(Pattern(subj, path, obj))
            if self.peek() == ".":
                self.next()
        self.expect("}")
        return node

    def _values_block(self) -> tuple[list[str], list[tuple]]:
        """``VALUES ?v { t... }`` or ``VALUES (?a ?b) { (t t) ... }``.
        ``UNDEF`` parses to None — the solver joins each row on its
        DEFINED columns only (rows grouped by defined-mask, so every
        join stays an equi-join; see :func:`_values_join`)."""
        def value_term() -> str | None:
            tok = self.next()
            if tok.lower() == "undef":
                return None
            if tok.startswith('"'):
                return tok[1:-1]
            if re.fullmatch(_NUM_RE, tok):
                return tok
            return self.resolve(tok)

        if self.peek() == "(":
            self.next()
            names = []
            while self.peek() != ")":
                names.append(self._filter_var())
            self.next()
            self.expect("{")
            rows = []
            while self.peek() == "(":
                self.next()
                row = tuple(value_term() for _ in names)
                self.expect(")")
                rows.append(row)
            self.expect("}")
            return names, rows
        var = self._filter_var()
        self.expect("{")
        rows = []
        while self.peek() != "}":
            rows.append((value_term(),))
        self.expect("}")
        return [var], rows

    # -- scalar expressions (BIND bodies, projected exprs, aggregate args) --

    def _expr(self) -> Expr:
        node = self._expr_mul()
        while self.peek() in ("+", "-"):
            op = self.next()
            node = Expr("arith", op=op, kids=(node, self._expr_mul()))
        return node

    def _expr_mul(self) -> Expr:
        node = self._expr_prim()
        while self.peek() in ("*", "/"):
            op = self.next()
            node = Expr("arith", op=op, kids=(node, self._expr_prim()))
        return node

    def _expr_prim(self) -> Expr:
        tok = self.peek()
        if tok is None:
            raise ValueError("SPARQL parse: unexpected end of expression")
        if tok == "-":
            self.next()
            return Expr("neg", kids=(self._expr_prim(),))
        if tok == "(":
            self.next()
            node = self._expr()
            self.expect(")")
            return node
        low = tok.lower()
        calls = (":" not in tok and self.i + 1 < len(self.toks)
                 and self.toks[self.i + 1] == "(")
        if low == "concat":
            self.next()
            self.expect("(")
            kids = [self._expr()]
            while self.peek() == ",":
                self.next()
                kids.append(self._expr())
            self.expect(")")
            return Expr("concat", kids=tuple(kids))
        if low == "str":
            self.next()
            self.expect("(")
            kid = self._expr()
            self.expect(")")
            return Expr("strfn", kids=(kid,))
        if calls and low in _SCALAR_FNS:
            self.next()
            self.expect("(")
            kids = [self._expr()]
            while self.peek() == ",":
                self.next()
                kids.append(self._expr())
            self.expect(")")
            lo, hi = _SCALAR_FNS[low]
            if not lo <= len(kids) <= hi:
                raise ValueError(
                    f"SPARQL parse: {tok}() takes {lo}"
                    + (f"-{hi}" if hi != lo and hi < 99 else "+" if hi >= 99 else "")
                    + f" arguments, got {len(kids)}")
            return Expr("fn", op=low, kids=tuple(kids))
        if calls and low == "if":
            self.next()
            self.expect("(")
            cond = self._filter_or()
            self.expect(",")
            then = self._expr()
            self.expect(",")
            other = self._expr()
            self.expect(")")
            return Expr("if", kids=(then, other), cond=cond)
        if calls and low in _REJECTED_FNS:
            raise ValueError(
                f"SPARQL: {tok}() is not supported — the string-typed "
                "store erases language tags, datatypes and blank-node "
                "identity at ingest (and non-deterministic builtins are "
                "rejected by design)")
        if calls and (low in _BOOL_FN_ARITY or low == "regex"):
            raise ValueError(
                f"SPARQL: boolean builtin {tok}() is valid in FILTER and "
                "IF(...) conditions, not as a scalar expression")
        if calls and low in self._AGG_FUNCS:
            if not getattr(self, "_in_having", False):
                raise ValueError(
                    f"SPARQL: aggregate {tok}() is only valid in SELECT "
                    "projections and HAVING constraints")
            return Expr("agg", agg=self._aggregate())
        tok = self.next()
        if tok.startswith("?"):
            return Expr("var", tok[1:])
        if tok.startswith('"'):
            return Expr("str", tok[1:-1])
        if re.fullmatch(_NUM_RE, tok):
            return Expr("num", tok)
        return Expr("iri", self.resolve(tok))

    _AGG_FUNCS = ("count", "sum", "avg", "min", "max", "sample", "group_concat")

    def _aggregate(self) -> "Aggregate":
        """An aggregate call, cursor on the function name."""
        func = self.next().lower()
        self.expect("(")
        distinct = False
        if self.peek() and self.peek().lower() == "distinct":
            self.next()
            distinct = True
        if func == "count" and self.peek() == "*":
            self.next()
            self.expect(")")
            return Aggregate("count", None, distinct, alias="")
        arg = self._expr()
        separator = " "
        if func == "group_concat" and self.peek() == ";":
            self.next()
            if self.peek() and self.peek().lower() == "separator":
                self.next()
                self.expect("=")
                sep_tok = self.next()
                if not sep_tok.startswith('"'):
                    raise ValueError(
                        "SPARQL parse: SEPARATOR needs a string literal"
                    )
                separator = sep_tok[1:-1]
        self.expect(")")
        return Aggregate(func, arg, distinct, alias="", separator=separator)

    def _agg_or_expr(self) -> "Aggregate | Expr":
        """Inside a ``( ... AS ?alias )`` projection item: either an
        aggregate call or a scalar expression (alias attached by caller)."""
        tok = self.peek()
        if tok is not None and tok.lower() in self._AGG_FUNCS and (
            self.i + 1 < len(self.toks) and self.toks[self.i + 1] == "("
        ):
            return self._aggregate()
        return self._expr()

    def _filter_constraint(self) -> list[Filter]:
        """After the FILTER keyword: ``(expr)`` with full ``&&``/``||``
        boolean structure (``&&`` binds tighter than ``||``, per the SPARQL
        grammar), or a bare function call ``regex(..)`` / ``isIRI(..)``.
        A top-level conjunction is flattened into the filter list (each
        conjunct its own Filter); a disjunction stays one ``or`` Filter."""
        if self.peek() == "(":
            self.next()
            f = self._filter_or()
            self.expect(")")
            if f.kind == "and" and not f.neg:
                return list(f.kids)
            return [f]
        return [self._filter_expr()]

    def _filter_or(self) -> Filter:
        out = [self._filter_and()]
        while self.peek() == "||":
            self.next()
            out.append(self._filter_and())
        return out[0] if len(out) == 1 else Filter("or", "", kids=tuple(out))

    def _filter_and(self) -> Filter:
        out = [self._filter_expr()]
        while self.peek() == "&&":
            self.next()
            out.append(self._filter_expr())
        return out[0] if len(out) == 1 else Filter("and", "", kids=tuple(out))

    def _filter_var(self) -> str:
        tok = self.next()
        if not tok.startswith("?"):
            raise ValueError(f"SPARQL parse: FILTER expected a ?var, got {tok!r}")
        return tok[1:]

    def _filter_expr(self) -> Filter:
        neg = False
        while self.peek() == "!":
            self.next()
            neg = not neg
        tok = self.peek()
        low = tok.lower() if tok is not None else ""
        calls = (tok is not None and ":" not in tok
                 and self.i + 1 < len(self.toks)
                 and self.toks[self.i + 1] == "(")
        if calls and low == "regex":
            self.next()
            self.expect("(")
            arg = self._expr()
            self.expect(",")
            pat = self.next()
            if not pat.startswith('"'):
                raise ValueError("SPARQL parse: regex pattern must be a string")
            flags = ""
            if self.peek() == ",":
                self.next()
                ftok = self.next()
                if not ftok.startswith('"'):
                    raise ValueError("SPARQL parse: regex flags must be a string")
                flags = ftok[1:-1]
            self.expect(")")
            if arg.kind == "var":  # legacy AST shape for the common case
                return Filter("regex", arg.value, neg=neg,
                              rhs=pat[1:-1], flags=flags)
            return Filter("boolfn", "", neg=neg, op="regex",
                          rhs=pat[1:-1], flags=flags, exprs=(arg,))
        if calls and low in _BOOL_FN_ARITY:
            self.next()
            self.expect("(")
            args = [self._expr()]
            for _ in range(_BOOL_FN_ARITY[low] - 1):
                self.expect(",")
                args.append(self._expr())
            self.expect(")")
            if low in ("isiri", "isuri") and args[0].kind == "var":
                return Filter("isiri", args[0].value, neg=neg)  # legacy shape
            name = "isiri" if low == "isuri" else low
            return Filter("boolfn", "", neg=neg, op=name, exprs=tuple(args))
        if calls and low in _REJECTED_FNS:
            raise ValueError(
                f"SPARQL: {tok}() is not supported — the string-typed "
                "store erases language tags, datatypes and blank-node "
                "identity at ingest (and non-deterministic builtins are "
                "rejected by design)")
        if tok == "(":
            # either a parenthesized BOOLEAN sub-expression (full &&/||
            # grammar) or a parenthesized ARITHMETIC comparison operand
            # ("(?x + 1) > 2") — try boolean first, backtrack on failure
            save = self.i
            try:
                self.next()
                inner = self._filter_or()
                self.expect(")")
                return dataclasses.replace(inner, neg=inner.neg != neg)
            except ValueError:
                self.i = save
        lhs = self._expr()
        nxt = self.peek()
        nlow = nxt.lower() if nxt is not None else ""
        if nlow == "in" or (
            nlow == "not" and self.i + 1 < len(self.toks)
            and self.toks[self.i + 1].lower() == "in"
        ):
            negated = nlow == "not"
            self.next()
            if negated:
                self.expect("in")
            self.expect("(")
            items: list[str] = []
            while self.peek() != ")":
                t = self.next()
                if t == ",":
                    continue
                if t.startswith('"'):
                    items.append(t[1:-1])
                elif re.fullmatch(_NUM_RE, t):
                    items.append(t)
                else:
                    items.append(self.resolve(t))
            self.expect(")")
            return Filter("in", "", neg=neg != negated,
                          exprs=(lhs,), items=tuple(items))
        if nxt not in ("=", "!=", "<", "<=", ">", ">="):
            raise ValueError(
                "SPARQL parse: expected a comparison, IN, or boolean "
                f"builtin in FILTER, got {nxt!r}")
        op = self.next()
        rhs = self._expr()
        if lhs.kind == "var" and rhs.kind in ("var", "num", "str", "iri"):
            # legacy AST shape: var OP simple-term
            return Filter("cmp", lhs.value, neg=neg, op=op,
                          rhs=rhs.value, rhs_kind=rhs.kind)
        return Filter("cmpe", "", neg=neg, op=op, exprs=(lhs, rhs),
                      numeric=_numericish(lhs) or _numericish(rhs))

    def parse(self) -> Query:
        form = self.next().lower()
        if form == "select":
            q = self._parse_select(sub=False)
            if self.peek() is not None:
                raise ValueError(
                    f"SPARQL parse: unexpected trailing token {self.peek()!r}"
                )
            return q
        return self._parse_non_select(form)

    def _parse_select(self, sub: bool) -> Query:
        """The SELECT clause + WHERE group + modifiers. ``sub=True``
        parses a subquery: it stops at the enclosing ``}``. Group
        extensions (BIND/VALUES/MINUS/EXISTS/nested subqueries) ride on
        the WHERE GroupNode, so a subquery's scope is naturally its own."""
        distinct = False
        star = False
        if self.peek() and self.peek().lower() in ("distinct", "reduced"):
            distinct = self.next().lower() == "distinct"
        proj_items: list[tuple] = []
        n_anon = 0
        while True:
            tok = self.peek()
            if tok is None:
                raise ValueError("SPARQL parse: SELECT without WHERE")
            if tok == "*":
                self.next()
                star = True
                continue
            if tok.startswith("?"):
                proj_items.append(("var", self.next()[1:]))
                continue
            if tok == "(":
                self.next()
                item = self._agg_or_expr()
                alias = ""
                if self.peek() and self.peek().lower() == "as":
                    self.next()
                    alias = self._filter_var()
                elif isinstance(item, Aggregate):
                    n_anon += 1
                    alias = f"agg{n_anon}"
                else:
                    raise ValueError(
                        "SPARQL parse: projected expression needs "
                        "'AS ?alias'"
                    )
                self.expect(")")
                if isinstance(item, Aggregate):
                    import dataclasses

                    proj_items.append(
                        ("agg", dataclasses.replace(item, alias=alias))
                    )
                else:
                    proj_items.append(("expr", item, alias))
                continue
            break
        if star and proj_items:
            raise ValueError("SPARQL parse: SELECT * cannot mix with items")
        if not star and not proj_items:
            raise ValueError("SPARQL parse: empty SELECT projection")
        self.expect("where")
        node = self.group()
        group_by, having, order_by, limit, offset, tvals = self._modifiers(
            stop_at_brace=sub, node=node
        )
        node.values.extend(tvals)
        projection = [
            it[1] if it[0] == "var" else
            (it[1].alias if it[0] == "agg" else it[2])
            for it in proj_items
        ]
        return Query("select", projection, [], node.patterns, node.filters,
                     optionals=node.optionals, unions=node.unions,
                     proj_items=None if star else proj_items,
                     distinct=distinct,
                     binds=node.binds, values_blocks=node.values,
                     minuses=node.minuses, exists_filters=node.exists,
                     subqueries=node.subqueries,
                     group_by=group_by, having=having, order_by=order_by,
                     limit=limit, offset=offset)

    def _parse_non_select(self, form: str) -> Query:
        if form == "construct":
            if self.peek() and self.peek().lower() == "where":
                # CONSTRUCT WHERE { BGP } shorthand (spec §10.2.3): the
                # WHERE patterns double as the template. Only plain triple
                # patterns qualify — a property path has no triple form.
                self.next()
                node = self.group()
                if (node.filters or node.optionals or node.unions
                        or node.binds or node.values or node.minuses
                        or node.exists or node.subqueries):
                    raise ValueError(
                        "SPARQL parse: CONSTRUCT WHERE {...} allows only "
                        "plain triple patterns (spec shorthand)")
                template = []
                for pat in node.patterns:
                    if isinstance(pat.path, PathNode):
                        if pat.path.op != "iri":
                            raise ValueError(
                                "SPARQL parse: CONSTRUCT WHERE {...} cannot "
                                "contain property paths")
                        pred = Term("iri", pat.path.iri)
                    else:
                        pred = pat.path
                    template.append((pat.subj, pred, pat.obj))
            else:
                self.expect("{")
                template = []
                while self.peek() != "}":
                    s, p, o = self.term(), self.term(), self.term()
                    template.append((s, p, o))
                    if self.peek() == ".":
                        self.next()
                self.expect("}")
                if self.peek() and self.peek().lower() == "where":
                    self.next()
                node = self.group()
            group_by, having, order_by, limit, offset, tvals = \
                self._modifiers(node=node)
            node.values.extend(tvals)
            if group_by or having or order_by or offset is not None:
                raise ValueError(
                    "SPARQL parse: CONSTRUCT supports LIMIT only "
                    "(GROUP BY/HAVING/ORDER BY/OFFSET have no meaning for "
                    "an unordered graph result)"
                )
            return Query("construct", [], template, node.patterns, node.filters,
                         optionals=node.optionals, unions=node.unions,
                         binds=node.binds, values_blocks=node.values,
                         minuses=node.minuses, exists_filters=node.exists,
                         subqueries=node.subqueries, limit=limit)
        if form == "ask":
            if self.peek() and self.peek().lower() == "where":
                self.next()
            node = self.group()
            if self.peek() is not None:
                raise ValueError(
                    "SPARQL parse: ASK takes no solution modifiers"
                )
            return Query("ask", [], [], node.patterns, node.filters,
                         optionals=node.optionals, unions=node.unions,
                         binds=node.binds, values_blocks=node.values,
                         minuses=node.minuses, exists_filters=node.exists,
                         subqueries=node.subqueries)
        if form == "describe":
            tok = self.peek()
            if tok is None:
                raise ValueError("SPARQL parse: DESCRIBE needs a resource")
            if tok.startswith("?"):
                var = self._filter_var()
                self.expect("where")
                node = self.group()
                group_by, having, order_by, limit, offset, tvals = \
                    self._modifiers(node=node)
                node.values.extend(tvals)
                if group_by or having or order_by or offset is not None:
                    raise ValueError(
                        "SPARQL parse: DESCRIBE supports LIMIT only"
                    )
                return Query("describe", [var], [], node.patterns, node.filters,
                             optionals=node.optionals, unions=node.unions,
                             binds=node.binds, values_blocks=node.values,
                             minuses=node.minuses,
                             exists_filters=node.exists,
                             subqueries=node.subqueries, limit=limit)
            # DESCRIBE <iri> [<iri> ...] — no WHERE clause; the iri list
            # rides in `projection` (patterns empty distinguishes the form)
            iris = []
            while self.peek() is not None:
                iris.append(self.resolve(self.next()))
            return Query("describe", iris, [], [], [])
        if form in ("insert", "delete"):
            return self._parse_update(form)
        raise ValueError(f"SPARQL parse: unsupported query form {form!r}")

    def _modifiers(self, stop_at_brace: bool = False, node=None):
        """Trailing solution modifiers: GROUP BY / HAVING / ORDER BY /
        LIMIT / OFFSET (LIMIT and OFFSET accepted in either order), plus
        the spec's trailing VALUES clause (joined into the WHERE group's
        solutions — the spec's Join(P, ToMultiset(data)) translation).
        ``stop_at_brace`` (subquery mode) returns at the enclosing '}'.

        GROUP BY conditions may be expressions — ``GROUP BY (expr AS ?v)``
        or a bare builtin call — compiled as a BIND on ``node`` (the
        spec's Extend-then-Group translation) grouping on the (possibly
        synthesized) alias. ORDER BY keys may likewise be scalar
        expressions; a statically-numeric key orders numerically."""
        group_by: list[str] = []
        having: list[Filter] = []
        order_by: list[tuple[str, bool, bool]] = []
        limit: int | None = None
        offset: int | None = None
        trailing_values: list[tuple[list[str], list[tuple]]] = []
        while self.peek() is not None:
            if stop_at_brace and self.peek() == "}":
                break
            kw = self.peek().lower()
            if kw == "group":
                self.next()
                self.expect("by")
                while self.peek() is not None:
                    tok = self.peek()
                    if tok.startswith("?"):
                        group_by.append(self.next()[1:])
                        continue
                    is_call = (":" not in tok
                               and self.i + 1 < len(self.toks)
                               and self.toks[self.i + 1] == "("
                               and (tok.lower() in _SCALAR_FNS
                                    or tok.lower() in ("if", "concat", "str")))
                    if tok != "(" and not is_call:
                        break
                    if node is None:
                        raise ValueError(
                            "SPARQL parse: GROUP BY expressions are not "
                            "supported in this query form")
                    if tok == "(":
                        self.next()
                        e = self._expr()
                        if self.peek() and self.peek().lower() == "as":
                            self.next()
                            var = self._filter_var()
                        else:
                            var = f"__grp{len(node.binds)}"
                        self.expect(")")
                    else:
                        e = self._expr()
                        var = f"__grp{len(node.binds)}"
                    node.binds.append((e, var))  # Extend, then Group
                    group_by.append(var)
                if not group_by:
                    raise ValueError(
                        "SPARQL parse: empty GROUP BY"
                    )
            elif kw == "having":
                self.next()
                self._in_having = True  # aggregate calls become Expr('agg')
                try:
                    having.extend(self._filter_constraint())
                finally:
                    self._in_having = False
            elif kw == "order":
                self.next()
                self.expect("by")
                found = False
                while self.peek() is not None:
                    tok = self.peek().lower()
                    raw = self.peek()
                    key_call = (":" not in raw
                                and self.i + 1 < len(self.toks)
                                and self.toks[self.i + 1] == "("
                                and (tok in _SCALAR_FNS
                                     or tok in ("if", "concat", "str")))
                    if tok in ("asc", "desc"):
                        self.next()
                        desc = tok == "desc"
                        self.expect("(")
                        var, numeric = self._order_key()
                        self.expect(")")
                        order_by.append((var, desc, numeric))
                        found = True
                    elif raw.startswith("?"):
                        order_by.append((self.next()[1:], False, False))
                        found = True
                    elif key_call:  # bare expression key, ascending
                        e = self._expr()
                        order_by.append((e, False, _numericish(e)))
                        found = True
                    else:
                        break
                if not found:
                    raise ValueError("SPARQL parse: empty ORDER BY")
            elif kw == "limit":
                self.next()
                limit = int(self.next())
            elif kw == "offset":
                self.next()
                offset = int(self.next())
            elif kw == "values":
                self.next()
                trailing_values.append(self._values_block())
            else:
                raise ValueError(
                    f"SPARQL parse: unexpected trailing token {self.peek()!r}"
                )
        return group_by, having, order_by, limit, offset, trailing_values

    _NUMERIC_CASTS = (
        "http://www.w3.org/2001/XMLSchema#double",
        "http://www.w3.org/2001/XMLSchema#decimal",
        "http://www.w3.org/2001/XMLSchema#float",
        "http://www.w3.org/2001/XMLSchema#integer",
        "http://www.w3.org/2001/XMLSchema#int",
        "http://www.w3.org/2001/XMLSchema#long",
    )

    def _order_key(self) -> tuple:
        """Inside ASC(..)/DESC(..): ``?var`` (lexicographic — the store is
        string-typed), ``xsd:double(?var)`` etc. for numeric ordering, or
        a scalar expression (``DESC(STRLEN(?v))`` — statically-numeric
        expressions order numerically)."""
        tok = self.peek()
        if tok is not None and tok.startswith("?"):
            return self._filter_var(), False
        if tok is not None and ":" in tok:
            iri = self.resolve(self.next())
            if iri not in self._NUMERIC_CASTS:
                raise ValueError(
                    f"SPARQL parse: ORDER BY function {iri!r} unsupported "
                    "(xsd numeric casts only)"
                )
            self.expect("(")
            var = self._filter_var()
            self.expect(")")
            return var, True
        e = self._expr()
        return e, _numericish(e)

    def template_block(self) -> list[tuple[Term, Term, Term]]:
        self.expect("{")
        template = []
        while self.peek() != "}":
            s, p, o = self.term(), self.term(), self.term()
            template.append((s, p, o))
            if self.peek() == ".":
                self.next()
        self.expect("}")
        return template

    def _parse_update(self, form: str) -> Query:
        """INSERT DATA / DELETE DATA / DELETE [INSERT] WHERE / DELETE WHERE.

        One statement per document (no ';'-chaining); templates are
        IRI-term triples, matching the engine's IRI-valued triple frames.
        """
        delete_template: list | None = None
        insert_template: list | None = None
        nxt = self.peek()
        if nxt is not None and nxt.lower() == "data":
            self.next()
            tmpl = self.template_block()
            for s, p, o in tmpl:
                if "var" in (s.kind, p.kind, o.kind):
                    raise ValueError("SPARQL parse: variables in DATA block")
            if form == "insert":
                insert_template = tmpl
            else:
                delete_template = tmpl
            return Query("update", [], [], [], [], delete_template, insert_template)
        if form == "delete" and nxt is not None and nxt.lower() == "where":
            # DELETE WHERE { P } — the pattern doubles as the template
            self.next()
            node = self.group()
            if (node.optionals or node.unions or node.binds or node.values
                    or node.minuses or node.exists or node.subqueries):
                raise ValueError(
                    "SPARQL parse: DELETE WHERE takes a plain BGP (no "
                    "OPTIONAL/UNION/BIND/VALUES/MINUS/EXISTS/subquery)"
                )
            patterns, filters = node.patterns, node.filters
            delete_template = []
            for pat in patterns:
                if isinstance(pat.path, Term):
                    pred = pat.path
                elif pat.path.op == "iri":
                    pred = Term("iri", pat.path.iri)
                else:
                    # SPARQL 1.1 quad patterns forbid property paths
                    raise ValueError(
                        "SPARQL parse: DELETE WHERE takes no property path "
                        "(use DELETE { template } WHERE { path pattern })"
                    )
                delete_template.append((pat.subj, pred, pat.obj))
            return Query("update", [], [], patterns, filters, delete_template, None)
        if form == "delete":
            delete_template = self.template_block()
            if self.peek() is not None and self.peek().lower() == "insert":
                self.next()
                insert_template = self.template_block()
        else:
            insert_template = self.template_block()
        self.expect("where")
        node = self.group()
        return Query("update", [], [], node.patterns, node.filters,
                     delete_template, insert_template,
                     optionals=node.optionals, unions=node.unions,
                     binds=node.binds, values_blocks=node.values,
                     minuses=node.minuses, exists_filters=node.exists,
                     subqueries=node.subqueries)


def parse(text: str) -> Query:
    return _Parser(text).parse()


def _alt_leaf_iris(node: PathNode) -> list[str] | None:
    """If ``node`` is an iri or an alternation of plain iris (possibly
    nested), the flat iri list — the single-``isin``-scan fast path."""
    if node.op == "iri":
        return [node.iri]
    if node.op == "alt":
        out: list[str] = []
        for k in node.kids:
            leaf = _alt_leaf_iris(k)
            if leaf is None:
                return None
            out.extend(leaf)
        return out
    return None


def _path_relation(triples: DataFrame, node: PathNode) -> DataFrame:
    """Evaluate a property-path AST to a binary relation (s, o).

    Closure semantics follow the engine's KB-build convention (module
    docstring): ``star``/``plus`` evaluate to the transitive closure of the
    sub-path's relation WITHOUT reflexive pairs; a star or ``?`` in
    SEQUENCE position contributes its zero-length arm as ``R ∪ R∘TC(q)``.
    A leading/bare ``p?`` drops its zero-length arm (= ``R_p``), the same
    convention as a leading/bare ``p*`` dropping reflexive pairs — the
    zero-length arm's domain (every term in the graph) is never
    materialized."""
    from phenoscape_owl_tools_spark.operators.closure import transitive_closure

    leaves = _alt_leaf_iris(node)
    if leaves is not None:
        return triples.where(F.col("pred").isin(*leaves)).select(
            F.col("subj").alias("s"), F.col("obj").alias("o")
        )
    if node.op == "nps":
        # !(p1|..|^q1|..): forward triples whose predicate is outside the
        # forward member set, UNION inverted triples whose predicate is
        # outside the inverse member set (SPARQL 1.1 §9.1 NegatedPropertySet).
        # Each arm is one predicate-filtered scan — pushdown-friendly; the
        # arm only exists when it has members, except !() = any forward.
        fwd = [k.iri for k in node.kids if k.op == "iri"]
        inv = [k.kids[0].iri for k in node.kids if k.op == "inv"]
        arms: list[DataFrame] = []
        if fwd or not node.kids:
            scan = triples if not fwd else triples.where(
                ~F.col("pred").isin(*fwd)
            )
            arms.append(
                scan.select(F.col("subj").alias("s"), F.col("obj").alias("o"))
            )
        if inv:
            arms.append(
                triples.where(~F.col("pred").isin(*inv)).select(
                    F.col("obj").alias("s"), F.col("subj").alias("o")
                )
            )
        rel = arms[0]
        for extra in arms[1:]:
            rel = rel.unionByName(extra)
        return rel.dropDuplicates() if len(arms) > 1 else rel
    if node.op == "alt":
        rel = _path_relation(triples, node.kids[0])
        for k in node.kids[1:]:
            rel = rel.unionByName(_path_relation(triples, k))
        return rel.dropDuplicates()
    if node.op == "inv":
        sub = _path_relation(triples, node.kids[0])
        return sub.select(F.col("o").alias("s"), F.col("s").alias("o"))
    if node.op in ("star", "plus"):
        sub = _path_relation(triples, node.kids[0])
        tc = transitive_closure(
            sub.withColumnRenamed("s", "sub").withColumnRenamed("o", "sup")
        ).select(F.col("sub").alias("s"), F.col("sup").alias("o"))
        # transitive_closure is irreflexive by design (the ontology-
        # hierarchy convention: x ⊑ x is never materialized). For property
        # paths over arbitrary graphs, (x, x) reachable in ≥1 hop IS a
        # solution — a direct self-edge, or an edge whose target reaches
        # back through the closure. Only ZERO-length pairs stay excluded
        # (module docstring). One bounded extra join: |R| ⋈ |TC|.
        direct = sub.where(F.col("s") == F.col("o")).select("s")
        e, t = sub.alias("e"), tc.alias("t")
        back = e.join(
            t,
            (F.col("e.o") == F.col("t.s")) & (F.col("t.o") == F.col("e.s")),
            "left_semi",
        ).select("s")
        loops = direct.unionByName(back).dropDuplicates().select(
            F.col("s"), F.col("s").alias("o")
        )
        return tc.unionByName(loops)
    if node.op == "opt":
        # bare p? — zero-length arm dropped (KB-build convention, docstring)
        return _path_relation(triples, node.kids[0])
    assert node.op == "seq", node.op
    rel: DataFrame | None = None
    for kid in node.kids:
        zero_ok = kid.op in ("star", "opt")
        step = _path_relation(triples, kid.kids[0] if kid.op == "opt" else kid)
        if rel is None:
            # leading elem; for a star/? this is the relation WITHOUT its
            # zero-length arm (KB-build convention, module docstring)
            rel = step
        else:
            nxt = step.select(F.col("s").alias("m"), F.col("o").alias("o2"))
            composed = (
                rel.join(nxt, rel["o"] == nxt["m"])
                .select("s", F.col("o2").alias("o"))
            )
            if zero_ok:
                # zero-length hop allowed mid-sequence: R ∪ R ∘ step
                rel = rel.unionByName(composed).dropDuplicates()
            else:
                rel = composed
    assert rel is not None
    return rel


def _bindings(triples: DataFrame, pat: Pattern) -> DataFrame:
    """One pattern -> DataFrame whose columns are the pattern's variables."""
    if isinstance(pat.path, Term):  # variable predicate
        rel = triples.select(
            F.col("subj").alias("s"), F.col("pred").alias("p"), F.col("obj").alias("o")
        )
        cols = {"s": pat.subj, "p": pat.path, "o": pat.obj}
    else:
        rel = _path_relation(triples, pat.path)
        cols = {"s": pat.subj, "o": pat.obj}
    out_cols = []
    seen_vars: dict[str, str] = {}  # var name -> first source column
    for src, term in cols.items():
        if term.kind == "var":
            if term.value in seen_vars:
                # repeated variable in one pattern (e.g. ?a ex:p ?a — a
                # self-loop match): both positions must bind the same term
                rel = rel.where(F.col(src) == F.col(seen_vars[term.value]))
            else:
                seen_vars[term.value] = src
                out_cols.append(F.col(src).alias(term.value))
        else:
            rel = rel.where(F.col(src) == term.value)
    if not out_cols:
        out_cols = [F.lit(1).alias("__const__")]
    return rel.select(*out_cols).dropDuplicates()


def evaluate(triples: DataFrame, query: Query | str) -> DataFrame:
    """Run a parsed (or raw-text) query against a (subj, pred, obj) frame.

    SELECT returns the projected variable columns (names without '?');
    CONSTRUCT returns a distinct (subj, pred, obj) frame.
    """
    if isinstance(query, str):
        query = parse(query)
    if query.form == "update":
        raise ValueError("SPARQL evaluate: use update() for update statements")
    if query.form == "describe" and not query.patterns:
        # DESCRIBE <iri> ... — all triples with the resource as subj or obj
        res = triples.sparkSession.createDataFrame(
            [(i,) for i in query.projection], schema="`__r__` string"
        )
        return _describe(triples, F.broadcast(res))
    if not query.patterns and not query.unions and not query.subqueries:
        raise ValueError("SPARQL evaluate: empty graph pattern")
    bound = _solve(triples, query)
    if query.form == "ask":
        # one boolean row — a global aggregate over a 1-row-probe limit,
        # so the answer never materializes the full solution set
        return bound.limit(1).groupBy().agg(
            (F.count(F.lit(1)) > 0).alias("ask")
        )
    if query.form == "describe":
        var = query.projection[0]
        if var not in bound.columns:
            raise ValueError(
                f"SPARQL: DESCRIBE ?{var} is not bound by the WHERE pattern"
            )
        res = bound.select(F.col(var).alias("__r__")).dropDuplicates()
        if query.limit is not None:
            res = res.limit(query.limit)
        return _describe(triples, res)
    if query.form == "construct":
        if query.limit is not None:
            bound = bound.limit(query.limit)
        return _instantiate(bound, query.template)
    return _project(bound, query)


def _describe(triples: DataFrame, resources: DataFrame) -> DataFrame:
    """All triples whose subject OR object is one of ``resources.__r__`` —
    two semi equi-joins unioned (never an OR-join, which would force a
    nested-loop at scale)."""
    by_subj = triples.join(
        resources, triples["subj"] == resources["__r__"], "left_semi"
    )
    by_obj = triples.join(
        resources, triples["obj"] == resources["__r__"], "left_semi"
    )
    return by_subj.unionByName(by_obj).dropDuplicates()


def _rewrite_having(having):
    """Split HAVING constraints into (rewritten filters, extra aggregates).

    Direct aggregate calls inside HAVING (the spec form
    ``HAVING(COUNT(*) > 2)``) are computed in the SAME ``groupBy().agg()``
    as the projection's aggregates, under internal ``__hav<i>`` aliases;
    each ``Expr('agg')`` node is replaced by a var reference to its alias
    (identical calls share one alias), and the internal columns are
    dropped by the terminal projection."""
    if not having:
        return having, []
    aliased: dict = {}

    def walk_expr(e: Expr) -> Expr:
        if e.kind == "agg":
            if e.agg not in aliased:
                aliased[e.agg] = f"__hav{len(aliased)}"
            return Expr("var", aliased[e.agg])
        changed = False
        kids = []
        for k in e.kids:
            nk = walk_expr(k)
            changed |= nk is not k
            kids.append(nk)
        cond = e.cond
        if cond is not None:
            nc = walk_filter(cond)
            changed |= nc is not cond
            cond = nc
        if not changed:
            return e
        return dataclasses.replace(e, kids=tuple(kids), cond=cond)

    def walk_filter(f: Filter) -> Filter:
        changed = False
        kids = []
        for k in f.kids:
            nk = walk_filter(k)
            changed |= nk is not k
            kids.append(nk)
        exprs = []
        for e in f.exprs:
            ne = walk_expr(e)
            changed |= ne is not e
            exprs.append(ne)
        if not changed:
            return f
        return dataclasses.replace(f, kids=tuple(kids), exprs=tuple(exprs))

    out = [walk_filter(f) for f in having]
    extra = [dataclasses.replace(agg, alias=alias)
             for agg, alias in aliased.items()]
    return out, extra


def _project(bound: DataFrame, query: Query) -> DataFrame:
    """SELECT-clause projection + solution modifiers over the solved frame:
    aggregation (GROUP BY / implicit single group), HAVING, projected
    expressions, DISTINCT, ORDER BY, OFFSET/LIMIT — each a direct
    DataFrame op (groupBy/agg, where, dropDuplicates, orderBy, offset,
    limit), so Catalyst handles partial aggregation and sort planning."""
    items = query.proj_items
    aggs = [it[1] for it in items or [] if it[0] == "agg"]
    if aggs or query.group_by:
        if items is None:
            raise ValueError("SPARQL: SELECT * cannot combine with GROUP BY")
        gb = query.group_by or []
        for it in items:
            if it[0] == "var" and it[1] not in gb:
                raise ValueError(
                    f"SPARQL: projected ?{it[1]} is neither aggregated nor "
                    "in GROUP BY"
                )
            if it[0] == "expr" and any(v not in gb for v in it[1].vars):
                raise ValueError(
                    "SPARQL: projected expression uses non-GROUP-BY variable"
                )
        having, hav_aggs = _rewrite_having(query.having)
        missing = [v for v in gb if v not in bound.columns]
        missing += [
            v for a in list(aggs) + hav_aggs
            for v in a.vars if v not in bound.columns
        ]
        if missing:
            raise ValueError(
                "SPARQL: GROUP BY/aggregate references unbound variable(s): "
                + ", ".join("?" + v for v in sorted(set(missing)))
            )
        out = bound.groupBy(*[F.col(v) for v in gb]).agg(
            *[a.column() for a in list(aggs) + hav_aggs])
        out = _apply_filters(out, having)
        cols = []
        for it in items:
            if it[0] == "var":
                cols.append(F.col(it[1]))
            elif it[0] == "agg":
                cols.append(F.col(it[1].alias))
            else:
                cols.append(it[1].column().alias(it[2]))
        out = out.select(*cols)
    else:
        if query.having:
            raise ValueError("SPARQL: HAVING requires GROUP BY or aggregates")
        if items is None:  # SELECT *
            out = bound.select(*sorted(bound.columns))
        else:
            cols = []
            for it in items:
                if it[0] == "var":
                    if it[1] not in bound.columns:
                        raise ValueError(
                            f"SPARQL: projected ?{it[1]} is not bound by any "
                            "pattern"
                        )
                    cols.append(F.col(it[1]))
                else:
                    for v in it[1].vars:
                        if v not in bound.columns:
                            raise ValueError(
                                f"SPARQL: projected expression references "
                                f"unbound ?{v}"
                            )
                    cols.append(it[1].column().alias(it[2]))
            out = bound.select(*cols)
    if query.distinct:
        out = out.dropDuplicates()
    if query.order_by:
        keys = []
        for var, desc, numeric in query.order_by:
            if isinstance(var, Expr):
                missing = [v for v in var.vars if v not in out.columns]
                if missing:
                    raise ValueError(
                        "SPARQL: ORDER BY expression references "
                        "non-projected variable(s): "
                        + ", ".join("?" + v for v in missing))
                c = var.column()
                c = c.try_cast("double") if numeric else c.cast("string")
            else:
                if var not in out.columns:
                    raise ValueError(
                        f"SPARQL: ORDER BY ?{var} must be a projected column "
                        "(ordering by non-projected variables is unsupported)"
                    )
                c = F.col(var).try_cast("double") if numeric else F.col(var)
            keys.append(c.desc() if desc else c.asc())
        out = out.orderBy(*keys)
    if query.offset:
        out = out.offset(query.offset)
    if query.limit is not None:
        out = out.limit(query.limit)
    return out


def _join_patterns(triples: DataFrame, patterns: list,
                   filters: list[str] | None = None) -> DataFrame:
    bound: DataFrame | None = None
    for pat in patterns:
        b = _bindings(triples, pat)
        if bound is None:
            bound = b
        else:
            shared = sorted(set(bound.columns) & set(b.columns))
            bound = bound.join(b, on=shared) if shared else bound.crossJoin(b)
    assert bound is not None  # parser rejects empty groups
    return _apply_filters(bound, filters)


def _apply_filters(bound: DataFrame, filters: list | None) -> DataFrame:
    """Apply Filter constraints. A filter naming a variable no pattern in
    scope binds raises — it is statically detectable and almost always a
    typo'd query (strict SPARQL evaluates the unbound reference as an
    error that removes every row, i.e. silently empty; silently
    UNfiltered, the previous lenient behavior, was worse)."""
    for f in filters or []:
        missing = [v for v in f.vars if v not in bound.columns]
        if missing:
            raise ValueError(
                "SPARQL: FILTER references variable(s) not bound by any "
                f"pattern in scope: {', '.join('?' + v for v in missing)}"
            )
        bound = bound.where(f.column())
    return bound


def _stringify_frame(df: DataFrame) -> DataFrame:
    """Cast a subquery result back to the store's all-string frame before
    it joins the enclosing group's solutions. Aggregate columns come out
    typed (COUNT → bigint, SUM/AVG → double); if such an alias shares its
    name with an outer string-typed variable, Spark would coerce the
    STRING join key to the numeric type — an ANSI cast error on any IRI
    value. Casting at the boundary keeps every solution frame string-typed
    (the engine-wide convention) and makes such joins term-equality on the
    canonical string form."""
    fields = df.schema.fields
    if all(f.dataType.typeName() == "string" for f in fields):
        return df
    return df.select(*[
        F.col(f.name).cast("string").alias(f.name)
        if f.dataType.typeName() != "string" else F.col(f.name)
        for f in fields
    ])


def _merge(bound: DataFrame | None, other: DataFrame, how: str = "inner") -> DataFrame:
    if bound is None:
        return other
    shared = sorted(set(bound.columns) & set(other.columns))
    if not shared:
        if how == "inner":
            return bound.crossJoin(other)
        # OPTIONAL with no shared vars: every mapping is compatible (cross
        # product); an EMPTY optional must still keep bound's rows with the
        # group's vars unbound — a constant-true left join gives both
        return bound.join(other, F.lit(True), "left")
    return bound.join(other, on=shared, how=how)


def _apply_binds(bound: DataFrame, binds: list) -> DataFrame:
    """BIND(expr AS ?v) extends solutions in place; a BIND may reference
    earlier BIND targets (list order = textual order within the group).

    The bound value is cast to its canonical STRING form — the engine-wide
    all-string frame invariant (see :func:`_stringify_frame`). A typed
    BIND column would otherwise coerce a STRING join key to double when
    the var is shared across groups — an ANSI cast error on any IRI."""
    for expr, var in binds or []:
        if var in bound.columns:
            raise ValueError(f"SPARQL: BIND target ?{var} is already bound")
        missing = [v for v in expr.vars if v not in bound.columns]
        if missing:
            raise ValueError(
                "SPARQL: BIND expression references unbound variable(s): "
                + ", ".join("?" + v for v in missing)
            )
        bound = bound.withColumn(var, expr.column().cast("string"))
    return bound


def _values_join(bound: DataFrame, names: list[str], rows: list[tuple]) -> DataFrame:
    """Join inline VALUES data. UNDEF (None) cells make a row compatible
    with ANY binding of that var — expressed without null join keys by
    grouping rows by their defined-column mask and equi-joining each mask
    group on its defined columns only, then unioning (vars a mask leaves
    undefined surface as nulls = SPARQL's unbound). Inline data is tiny by
    construction — always broadcast, never shuffle."""
    by_mask: dict[tuple, list] = {}
    for r in rows:
        by_mask.setdefault(tuple(v is not None for v in r), []).append(r)
    parts = []
    for mask, rs in by_mask.items():
        cols = [n for n, m in zip(names, mask) if m]
        if not cols:
            # an all-UNDEF row constrains nothing: every solution survives
            parts.append(bound)
            continue
        vdf = bound.sparkSession.createDataFrame(
            [tuple(v for v in r if v is not None) for r in rs],
            schema=", ".join(f"`{n}` string" for n in cols),
        ).dropDuplicates()
        parts.append(_merge(bound, F.broadcast(vdf)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _merge_checked(bound: DataFrame | None, sol: DataFrame,
                   definite: frozenset, how: str = "inner") -> DataFrame:
    """Merge a subgroup's solution into the accumulated solutions.

    Join keys are the shared columns; a shared column the subgroup binds
    only SOMETIMES (an OPTIONAL extension, or a var missing from some
    UNION arm) would put nulls in a join key — SPARQL's compatible-join
    treats unbound as compatible-with-anything, which an equi-join cannot
    express — so that statically-detectable case raises instead of
    silently dropping solutions."""
    if bound is None:
        return sol
    maybe = sorted(set(bound.columns) & set(sol.columns) - definite)
    if maybe:
        raise ValueError(
            "SPARQL: variable(s) "
            + ", ".join("?" + v for v in maybe)
            + " are shared with the outer group but only partially bound "
            "inside it (OPTIONAL extension or missing from a UNION arm); "
            "an unbound-compatible join is not expressible as an equi-join "
            "— bind them in every arm / outside the OPTIONAL"
        )
    return _merge(bound, sol, how=how)


def _conditioned_join(bound: DataFrame, sol: DataFrame, deferred: list,
                      how: str) -> DataFrame:
    """Join with extra filter conjuncts referencing BOTH sides — the
    engine form of SPARQL's LeftJoin(P1, P2, F) and of a correlated
    FILTER EXISTS body. Shared vars join by equality as usual; each
    deferred filter becomes a join conjunct (so a left-join row failing
    it survives unextended, and a semi-/anti-join probes under it).
    Shared columns are renamed on the probe side to keep every name in
    the condition unambiguous; a filter var that is shared resolves to
    the outer copy, which the equality conjuncts make equivalent."""
    shared = sorted(set(bound.columns) & set(sol.columns))
    ren = {c: "__grp__" + c for c in shared}
    sol2 = sol
    for c, t in ren.items():
        sol2 = sol2.withColumnRenamed(c, t)
    cond = F.lit(True)
    for c, t in ren.items():
        cond = cond & (F.col(c) == F.col(t))
    for f in deferred:
        missing = [v for v in f.vars
                   if v not in bound.columns and v not in sol.columns]
        if missing:
            raise ValueError(
                "SPARQL: FILTER references variable(s) bound neither in "
                "its group nor in the enclosing solutions: "
                + ", ".join("?" + v for v in missing)
            )
        cond = cond & f.column()
    out = bound.join(sol2, cond, how)
    if how == "left":
        out = out.drop(*ren.values())
    return out


def _apply_exists_minus(triples: DataFrame, bound: DataFrame,
                        exists_filters: list, minuses: list) -> DataFrame:
    """FILTER [NOT] EXISTS semi-/anti-joins, then MINUS anti-joins, over
    the current solutions. Group-scoped: the bodies correlate on the vars
    ``bound`` carries at this point — including, per the spec's
    substitution semantics, body FILTERs that reference enclosing vars
    (they become join conjuncts). Shared vars the body binds only
    partially raise (they would be null join keys)."""
    for negated, ex_node in exists_filters or []:
        other, defs, defer = _group_solution(triples, ex_node,
                                             allow_defer=True)
        shared = sorted(set(bound.columns) & set(other.columns))
        maybe = sorted(set(shared) - defs)
        if maybe:
            raise ValueError(
                "SPARQL: FILTER EXISTS correlates on "
                + ", ".join("?" + v for v in maybe)
                + " which the group binds only partially — bind them in "
                "every UNION arm / outside the OPTIONAL"
            )
        how = "left_anti" if negated else "left_semi"
        if defer:
            bound = _conditioned_join(bound, other, defer, how)
        elif shared:
            bound = bound.join(other, on=shared, how=how)
        else:
            # uncorrelated EXISTS: keep all rows iff the group is non-empty
            bound = bound.join(other.limit(1), F.lit(True), how)
    for mi_node in minuses or []:
        other, defs, _ = _group_solution(triples, mi_node)
        shared = sorted(set(bound.columns) & set(other.columns))
        maybe = sorted(set(shared) - defs)
        if maybe:
            raise ValueError(
                "SPARQL: MINUS correlates on "
                + ", ".join("?" + v for v in maybe)
                + " which the group binds only partially — bind them in "
                "every UNION arm / outside the OPTIONAL"
            )
        if shared:  # disjoint-domain MINUS removes nothing (SPARQL spec)
            bound = bound.join(
                other.select(*shared).dropDuplicates(), on=shared, how="left_anti"
            )
    return bound


def _node_definite(c: "GroupNode") -> set:
    """Vars a union-free group combination definitely binds in every
    solution row (OPTIONAL vars excluded; VALUES columns count only when
    no row leaves them UNDEF; a subquery contributes the projected vars
    it itself definitely binds)."""
    d: set = set()
    for p in c.patterns:
        d.update(p.vars)
    d.update(v for _, v in c.binds)
    for names, rows in c.values:
        d.update(
            n for i, n in enumerate(names)
            if all(r[i] is not None for r in rows)
        )
    for sq in c.subqueries:
        d.update(_query_definite(sq))
    return d


def _query_definite(q: "Query") -> set:
    """The subset of a SELECT query's output columns bound in EVERY
    solution row — drives the enclosing group's null-key join check when
    the query appears as a ``{ SELECT ... }`` subquery. Aggregate aliases
    count as definite (GROUP BY groups are non-empty by construction; the
    lone edge — an implicit-group SUM/MIN/MAX over zero rows — yields one
    all-null row that the outer equi-join then drops, matching the
    engine's unbound-join convention)."""
    d: set = set()
    for p in q.patterns:
        d.update(p.vars)
    d.update(v for _, v in q.binds or [])
    for names, rows in q.values_blocks or []:
        d.update(
            n for i, n in enumerate(names)
            if all(r[i] is not None for r in rows)
        )
    for sq in q.subqueries or []:
        d.update(_query_definite(sq))
    for block in q.unions or []:
        arm_defs = [_node_definite(arm) for arm in block]
        if arm_defs:
            d.update(set.intersection(*arm_defs))
    if q.proj_items is None:  # SELECT *
        return d
    out: set = set()
    for it in q.proj_items:
        if it[0] == "var" and it[1] in d:
            out.add(it[1])
        elif it[0] == "agg":
            out.add(it[1].alias)
        elif it[0] == "expr" and all(v in d for v in it[1].vars):
            out.add(it[2])
    return out


def _left_merge(bound: DataFrame, sol: DataFrame, definite: frozenset,
                deferred: list) -> DataFrame:
    """OPTIONAL merge: plain equi-left-join when the group's filters all
    resolved inside it; with deferred (outer-referencing) filters it is
    the full LeftJoin(P1, P2, F) — the filters join the equality
    condition, so a row failing F keeps its P1 solution unextended."""
    if not deferred:
        return _merge_checked(bound, sol, definite, how="left")
    maybe = sorted(set(bound.columns) & set(sol.columns) - set(definite))
    if maybe:
        raise ValueError(
            "SPARQL: variable(s) " + ", ".join("?" + v for v in maybe)
            + " are shared with the outer group but only partially bound "
            "inside it — bind them in every arm / outside the OPTIONAL"
        )
    return _conditioned_join(bound, sol, deferred, "left")


def _group_solution(triples: DataFrame, node: "GroupNode",
                    allow_defer: bool = False
                    ) -> tuple[DataFrame, frozenset, list]:
    """Solve one subgroup (OPTIONAL / UNION arm / MINUS / EXISTS body)
    independently of the outer solutions.

    The group's UNION blocks expand to their DNF combinations; each
    combination is patterns-join → subqueries → BIND → VALUES → nested
    OPTIONALs → EXISTS/MINUS → end-of-group filters, then the
    combinations union (allowMissingColumns: vars a combination never
    binds become nulls = unbound). Returns ``(frame, definite_vars,
    deferred_filters)``: definite_vars are bound in EVERY solution row
    (callers use them to keep join keys null-free,
    :func:`_merge_checked`); deferred_filters are this group's filters
    that reference variables the group does not bind — produced only
    under ``allow_defer`` (OPTIONAL and EXISTS bodies, where the spec
    lets a filter see the enclosing solutions) and only for union-free
    groups, and consumed by the caller as join conjuncts
    (:func:`_conditioned_join`); otherwise such filters raise."""
    combos = _dnf(node)
    frames, defs = [], []
    deferred: list = []
    for c in combos:
        if not c.patterns and not c.subqueries:
            raise ValueError(
                "SPARQL: a group needs at least one triple pattern"
            )
        df = _join_patterns(triples, c.patterns) if c.patterns else None
        for sq in c.subqueries:
            # bottom-up: the subquery solves + projects first; only its
            # projected vars join this group's solutions (subquery scope)
            df = _merge(df, _stringify_frame(_project(_solve(triples, sq), sq)))
        df = _apply_binds(df, c.binds)
        for names, rows in c.values:
            df = _values_join(df, names, rows)
        definite = _node_definite(c)
        for opt in c.optionals:
            sol, sub_def, sub_defer = _group_solution(triples, opt,
                                                      allow_defer=True)
            df = _left_merge(df, sol, sub_def, sub_defer)
        df = _apply_exists_minus(triples, df, c.exists, c.minuses)
        # end-of-group filter scope (SPARQL: FILTERs apply to the whole
        # group, so they may see this group's own OPTIONAL extensions)
        now = []
        for f in c.filters:
            if (allow_defer and len(combos) == 1
                    and any(v not in df.columns for v in f.vars)):
                deferred.append(f)
            else:
                now.append(f)  # _apply_filters raises if truly unbound
        df = _apply_filters(df, now)
        frames.append(df)
        defs.append(definite)
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out, frozenset(set.intersection(*defs)), deferred


def _solve(triples: DataFrame, query: Query) -> DataFrame:
    """Join the BGP's pattern bindings into one solution frame.

    Group algebra: UNION blocks distribute over the join — Join(P, U(a1,
    a2), U(b1, b2)) = U over the arm PRODUCT of Join(P, a_i, b_j) (nested
    UNIONs were already flattened into the arm lists at parse time). Each
    combination joins every arm's full solution (with the arm's own
    filters/BINDs/VALUES/OPTIONALs), then the combinations union (vars a
    combination never binds become nulls = SPARQL's unbound). Joining
    per-combination rather than after the union keeps every join an
    equi-join on definitely-bound vars — no null keys. OPTIONAL groups
    (possibly nested, possibly with their own UNIONs) left-join on their
    shared vars afterwards.
    """
    base = _join_patterns(triples, query.patterns) if query.patterns else None
    for sq in query.subqueries or []:
        # a subquery is a complete SELECT evaluated bottom-up (its own
        # aggregation/modifiers run first); only its PROJECTED vars are
        # visible to the outer query (SPARQL subquery scoping)
        base = _merge(base, _stringify_frame(_project(_solve(triples, sq), sq)))
    if query.unions:
        combos = []
        for arm_combo in product(*query.unions):
            bound = base
            for arm in arm_combo:
                sol, defs, _ = _group_solution(triples, arm)
                bound = _merge_checked(bound, sol, defs)
            combos.append(bound)
        u = combos[0]
        for f in combos[1:]:
            u = u.unionByName(f, allowMissingColumns=True)
        bound = u
    else:
        bound = base
    for opt in query.optionals or []:
        sol, defs, defer = _group_solution(triples, opt, allow_defer=True)
        bound = _left_merge(bound, sol, defs, defer)
    assert bound is not None
    # top-level group extensions, in algebra order: BIND extends the
    # solution (filters may reference its vars), VALUES joins inline data,
    # then filters, then EXISTS semi-/anti-joins, then MINUS.
    bound = _apply_binds(bound, query.binds)
    for names, rows in query.values_blocks or []:
        bound = _values_join(bound, names, rows)
    bound = _apply_filters(bound, query.filters)
    return _apply_exists_minus(triples, bound,
                               query.exists_filters, query.minuses)


def _instantiate(bound: DataFrame, template: list) -> DataFrame:
    """Apply solutions to a triple template (CONSTRUCT / update halves).

    A solution leaving any of a template triple's variables unbound (an
    OPTIONAL extension that did not match) produces NO triple from that
    template — incomplete triples are dropped per the spec's CONSTRUCT
    semantics, not emitted with null components."""

    def _tcol(term: Term, alias: str):
        return (
            F.col(term.value) if term.kind == "var" else F.lit(term.value)
        ).alias(alias)

    missing = sorted({
        t.value for triple in template for t in triple
        if t.kind == "var" and t.value not in bound.columns
    })
    if missing:
        # statically detectable: a template var no pattern binds would
        # instantiate zero triples from EVERY solution — almost always a
        # typo'd query; raise like the FILTER/BIND strictness checks do
        raise ValueError(
            "SPARQL: template references variable(s) not bound by any "
            "pattern: " + ", ".join("?" + v for v in missing)
        )
    parts = []
    for s, p, o in template:
        src = bound
        for term in (s, p, o):
            if term.kind == "var":
                src = src.where(F.col(term.value).isNotNull())
        parts.append(
            src.select(_tcol(s, "subj"), _tcol(p, "pred"), _tcol(o, "obj"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.dropDuplicates()


def update(triples: DataFrame, statement: Query | str) -> DataFrame:
    """Apply a SPARQL 1.1 Update statement, returning the new graph.

    The reference's RunSPARQLUpdate (RunSPARQLUpdate.scala:1-29) mutates a
    Blazegraph store in place; DataFrames are immutable, so the updated
    graph is returned (set semantics — the result is distinct, as an RDF
    graph is a set of triples). Supported: INSERT DATA, DELETE DATA,
    DELETE WHERE, and DELETE/INSERT(/WHERE) with templates. A property
    path in a DELETE WHERE pattern is rejected at :func:`parse`, as
    SPARQL 1.1 forbids it; paths stay legal in the WHERE block of
    DELETE/INSERT … WHERE.
    """
    if isinstance(statement, str):
        statement = parse(statement)
    if statement.form != "update":
        raise ValueError("SPARQL update: not an update statement")
    spark = triples.sparkSession
    cols = ["subj", "pred", "obj"]

    def _ground(template: list) -> DataFrame:
        rows = [(s.value, p.value, o.value) for s, p, o in template]
        return spark.createDataFrame(rows, schema="subj string, pred string, obj string")

    if statement.patterns or statement.unions or statement.optionals:
        bound = _solve(triples, statement)
        delete_df = (
            _instantiate(bound, statement.delete_template)
            if statement.delete_template else None
        )
        insert_df = (
            _instantiate(bound, statement.insert_template)
            if statement.insert_template else None
        )
    else:  # INSERT DATA / DELETE DATA
        delete_df = _ground(statement.delete_template) if statement.delete_template else None
        insert_df = _ground(statement.insert_template) if statement.insert_template else None

    out = triples.select(*cols).dropDuplicates()
    if delete_df is not None:
        out = out.join(F.broadcast(delete_df) if not statement.patterns else delete_df,
                       on=cols, how="left_anti")
    if insert_df is not None:
        out = out.unionByName(insert_df.select(*cols)).dropDuplicates()
    return out


def run_file(triples: DataFrame, path: str) -> DataFrame:
    with open(path, "r", encoding="utf-8") as fh:
        return evaluate(triples, fh.read())
