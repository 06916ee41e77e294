"""Naive pure-Python SPARQL interpreter — differential oracle for sparql.py.

Interprets the SAME parsed AST (``sparql.parse``) the engine compiles to
DataFrames, but executes with Python sets/loops, so any divergence points
at the DataFrame algebra compilation (join keys, null semantics, union
column alignment, deferred-filter conditioning, VALUES UNDEF masks,
EXISTS/MINUS correlation) rather than the parser.

Semantics mirrored from the engine's documented conventions
(``sparql.py`` module docstring + solver docstrings):

- star/plus = transitive closure WITHOUT reflexive pairs; bare/leading
  ``p?`` = R_p; mid-sequence star/? contributes its zero-length arm as
  ``R ∪ R∘step``.
- Spark three-valued logic in filters and join conditions: a null
  (unbound) operand makes a comparison NULL; NOT(NULL)=NULL; Kleene
  AND/OR; a row survives a FILTER only when the condition is TRUE; an
  equality join conjunct with a null key never matches.
- Group algebra order: patterns → subqueries → BIND → VALUES → nested
  OPTIONALs → EXISTS/MINUS → end-of-group filters; UNION blocks expand
  through the arm product (same ``_dnf``); OPTIONAL deferral of filters
  referencing enclosing vars (union-free groups only).
- The strictness checks raise ``ValueError`` exactly where the engine
  raises (partially-bound shared vars, unbound FILTER/BIND vars).
"""
from __future__ import annotations

import re
from dataclasses import dataclass, field

from phenoscape_owl_tools_spark import sparql
from phenoscape_owl_tools_spark.sparql import (
    _IS_IRI_RE,
    Expr,
    Filter,
    GroupNode,
    PathNode,
    Pattern,
    Query,
    Term,
    _dnf,
    _node_definite,
)

Triple = tuple[str, str, str]


@dataclass
class NFrame:
    """A solution frame: explicit column list + rows as dicts (None =
    unbound, mirroring a null cell in the engine's DataFrame)."""

    cols: list[str]
    rows: list[dict] = field(default_factory=list)


# ---------------------------------------------------------------- paths


def _tc(rel: set[tuple[str, str]]) -> set[tuple[str, str]]:
    out = set(rel)
    while True:
        new = {(s, o2) for (s, o) in out for (o_, o2) in out if o == o_} - out
        if not new:
            return out
        out |= new


def n_path(triples: list[Triple], node: PathNode) -> set[tuple[str, str]]:
    if node.op == "iri":
        return {(s, o) for s, p, o in triples if p == node.iri}
    if node.op == "nps":
        fwd = [k.iri for k in node.kids if k.op == "iri"]
        inv = [k.kids[0].iri for k in node.kids if k.op == "inv"]
        out: set[tuple[str, str]] = set()
        if fwd or not node.kids:
            out |= {(s, o) for s, p, o in triples if p not in fwd}
        if inv:
            out |= {(o, s) for s, p, o in triples if p not in inv}
        return out
    if node.op == "alt":
        out = set()
        for k in node.kids:
            out |= n_path(triples, k)
        return out
    if node.op == "inv":
        return {(o, s) for s, o in n_path(triples, node.kids[0])}
    if node.op in ("star", "plus"):
        return _tc(n_path(triples, node.kids[0]))
    if node.op == "opt":
        return n_path(triples, node.kids[0])
    assert node.op == "seq", node.op
    rel: set[tuple[str, str]] | None = None
    for kid in node.kids:
        zero_ok = kid.op in ("star", "opt")
        step = n_path(triples, kid.kids[0] if kid.op == "opt" else kid)
        if rel is None:
            rel = step
        else:
            composed = {(s, o2) for (s, o) in rel for (m, o2) in step if o == m}
            rel = (rel | composed) if zero_ok else composed
    assert rel is not None
    return rel


def n_bindings(triples: list[Triple], pat: Pattern) -> NFrame:
    if isinstance(pat.path, Term):  # variable predicate
        rel3 = [(s, p, o) for s, p, o in triples]
        cols = {"s": pat.subj, "p": pat.path, "o": pat.obj}
        rows3 = rel3
    else:
        rows3 = [(s, None, o) for s, o in n_path(triples, pat.path)]
        cols = {"s": pat.subj, "o": pat.obj}
    out_vars: list[tuple[str, str]] = []  # (src, varname), first occurrence
    repeats: list[tuple[str, str]] = []   # (src, src_of_first_occurrence)
    consts: list[tuple[str, str]] = []
    first_src: dict[str, str] = {}
    for src, term in cols.items():
        if term.kind == "var":
            if term.value in first_src:
                repeats.append((src, first_src[term.value]))
            else:
                first_src[term.value] = src
                out_vars.append((src, term.value))
        else:
            consts.append((src, term.value))
    idx = {"s": 0, "p": 1, "o": 2}
    seen = set()
    rows = []
    for r in rows3:
        if any(r[idx[src]] != v for src, v in consts):
            continue
        if any(r[idx[a]] != r[idx[b]] for a, b in repeats):
            continue
        key = tuple(r[idx[src]] for src, _ in out_vars)
        if key in seen:
            continue
        seen.add(key)
        rows.append({var: r[idx[src]] for src, var in out_vars})
    if not out_vars:
        # engine emits a single lit(1) __const__ row (deduped)
        return NFrame(["__const__"], [{"__const__": 1}] if rows else [])
    return NFrame([v for _, v in out_vars], rows)


# ------------------------------------------------------------- filters


def _num(v):
    if v is None:
        return None
    try:
        return float(v)
    except (TypeError, ValueError):
        return None  # engine uses try_cast('double'): non-numeric -> null


def _canon(v):
    """Canonical string form — mirrors Spark's cast(x AS STRING) for the
    value ranges the differential generator emits (ints, small doubles,
    strings). None stays None (null propagates)."""
    if v is None or isinstance(v, str):
        return v
    if isinstance(v, float):
        return str(v)
    return str(v)


def _k_not(v):
    return None if v is None else (not v)


def _k_and(a, b):
    if a is False or b is False:
        return False
    if a is None or b is None:
        return None
    return True


def _k_or(a, b):
    if a is True or b is True:
        return True
    if a is None or b is None:
        return None
    return False


_CMP_FNS = {
    "=": lambda l, r: l == r, "!=": lambda l, r: l != r,
    "<": lambda l, r: l < r, "<=": lambda l, r: l <= r,
    ">": lambda l, r: l > r, ">=": lambda l, r: l >= r,
}


def feval(f: Filter, row: dict):
    """Three-valued filter evaluation (True / False / None)."""
    if f.kind in ("and", "or"):
        comb = _k_and if f.kind == "and" else _k_or
        acc = feval(f.kids[0], row)
        for k in f.kids[1:]:
            acc = comb(acc, feval(k, row))
        return _k_not(acc) if f.neg else acc
    if f.kind == "cmpe":
        if f.numeric:
            lhs, rhs = _num(eeval(f.exprs[0], row)), _num(eeval(f.exprs[1], row))
        else:
            lhs, rhs = _canon(eeval(f.exprs[0], row)), _canon(eeval(f.exprs[1], row))
        cond = None if lhs is None or rhs is None else _CMP_FNS[f.op](lhs, rhs)
        return _k_not(cond) if f.neg else cond
    if f.kind == "in":
        v = _canon(eeval(f.exprs[0], row))
        cond = None if v is None else v in f.items
        return _k_not(cond) if f.neg else cond
    if f.kind == "boolfn":
        cond = _boolfn_eval(f, row)
        return _k_not(cond) if f.neg else cond
    val = row.get(f.var)
    if f.kind == "isiri":
        cond = None if val is None else bool(re.search(_IS_IRI_RE, val))
    elif f.kind == "regex":
        pat = ("(?i)" + f.rhs) if "i" in f.flags else f.rhs
        cond = None if val is None else bool(re.search(pat, str(val)))
    else:
        assert f.kind == "cmp", f.kind
        if f.rhs_kind == "var":
            lhs, rhs = val, row.get(f.rhs)
        elif f.rhs_kind == "num":
            lhs, rhs = _num(val), float(f.rhs)
        else:
            lhs, rhs = val, f.rhs
        if lhs is None or rhs is None:
            cond = None
        else:
            lhs, rhs = str(lhs), str(rhs)
            if f.rhs_kind == "num":
                lhs, rhs = float(lhs), float(rhs)  # type: ignore[assignment]
            cond = {
                "=": lhs == rhs, "!=": lhs != rhs, "<": lhs < rhs,
                "<=": lhs <= rhs, ">": lhs > rhs, ">=": lhs >= rhs,
            }[f.op]
    return _k_not(cond) if f.neg else cond


def n_apply_filters(frame: NFrame, filters) -> NFrame:
    for f in filters or []:
        missing = [v for v in f.vars if v not in frame.cols]
        if missing:
            raise ValueError(
                "SPARQL: FILTER references variable(s) not bound by any "
                f"pattern in scope: {', '.join('?' + v for v in missing)}"
            )
        frame = NFrame(frame.cols,
                       [r for r in frame.rows if feval(f, r) is True])
    return frame


def _boolfn_eval(f: Filter, row: dict):
    """Boolean builtins — mirrors Filter._boolfn_column exactly:
    BOUND/isNumeric return False (never None) on a null argument
    (Spark's isNotNull); the rest null-propagate."""
    a = _canon(eeval(f.exprs[0], row))
    if f.op == "bound":
        return a is not None
    if f.op == "isnumeric":
        return _num(a) is not None
    if a is None:
        return None
    if f.op == "isiri":
        return bool(re.search(_IS_IRI_RE, a))
    if f.op == "isliteral":
        return not re.search(_IS_IRI_RE, a)
    if f.op == "regex":
        pat = ("(?i)" + f.rhs) if "i" in f.flags else f.rhs
        return bool(re.search(pat, a))
    b = _canon(eeval(f.exprs[1], row))
    if b is None:
        return None
    if f.op == "strstarts":
        return a.startswith(b)
    if f.op == "strends":
        return a.endswith(b)
    if f.op == "contains":
        return b in a
    assert f.op == "sameterm", f.op
    return a == b


def eeval(e: Expr, row: dict):
    if e.kind == "var":
        return row.get(e.value)
    if e.kind == "num":
        return (float(e.value)
                if "." in e.value or "e" in e.value.lower()
                else int(e.value))
    if e.kind in ("str", "iri"):
        return e.value
    if e.kind == "concat":
        parts = [eeval(k, row) for k in e.kids]
        if any(p is None for p in parts):
            return None
        return "".join(str(p) for p in parts)
    if e.kind == "strfn":
        v = eeval(e.kids[0], row)
        return None if v is None else str(v)
    if e.kind == "neg":
        v = _num(eeval(e.kids[0], row))
        return None if v is None else -v
    if e.kind == "if":
        # a null/false condition takes the else branch (Spark's when);
        # branches surface in canonical string form (engine casts both)
        branch = e.kids[0] if feval(e.cond, row) is True else e.kids[1]
        return _canon(eeval(branch, row))
    if e.kind == "fn":
        return _fn_eval(e, row)
    assert e.kind == "arith", e.kind
    lhs = _num(eeval(e.kids[0], row))
    rhs = _num(eeval(e.kids[1], row))
    if lhs is None or rhs is None:
        return None
    if e.op == "/":
        return lhs / rhs if rhs != 0 else None  # Spark double div-by-0 -> null? (engine tests avoid it)
    return {"+": lhs + rhs, "-": lhs - rhs, "*": lhs * rhs}[e.op]


def _fn_eval(e: Expr, row: dict):
    """Scalar builtins — mirrors Expr._fn_column: string fns operate on
    canonical string forms, numeric fns on try_cast doubles, nulls
    propagate. SUBSTR is implemented for pos >= 1 (the engine contract)."""
    import math

    name = e.op
    if name == "coalesce":
        for k in e.kids:
            v = eeval(k, row)
            if v is not None:
                return _canon(v)
        return None
    s = _canon(eeval(e.kids[0], row))
    if name in ("abs", "ceil", "floor", "round"):
        x = _num(s)
        if x is None:
            return None
        if name == "abs":
            return abs(x)
        if name == "ceil":
            return float(math.ceil(x))
        if name == "floor":
            return float(math.floor(x))
        return float(math.floor(x + 0.5))  # spec: half toward +inf
    if s is None:
        return None
    if name == "strlen":
        return len(s)
    if name == "ucase":
        return s.upper()
    if name == "lcase":
        return s.lower()
    if name == "substr":
        p = _num(_canon(eeval(e.kids[1], row)))
        if p is None:
            return None
        pos = int(p)
        if len(e.kids) == 3:
            l = _num(_canon(eeval(e.kids[2], row)))
            if l is None:
                return None
            ln = max(int(l), 0)
        else:
            ln = max(len(s) - pos + 1, 0)
        return s[pos - 1: pos - 1 + ln]
    if name in ("strbefore", "strafter"):
        t = _canon(eeval(e.kids[1], row))
        if t is None:
            return None
        idx = s.find(t)
        if idx < 0:
            return ""
        return s[:idx] if name == "strbefore" else s[idx + len(t):]
    assert name == "replace", name
    rep = _canon(eeval(e.kids[2], row))
    if rep is None:
        return None
    pat = e.kids[1].value
    if len(e.kids) > 3 and "i" in e.kids[3].value:
        pat = "(?i)" + pat
    return re.sub(pat, rep, s)


# --------------------------------------------------------------- joins


def n_merge(bound: NFrame | None, other: NFrame, how: str = "inner") -> NFrame:
    if bound is None:
        return other
    shared = sorted(set(bound.cols) & set(other.cols))
    extra = [c for c in other.cols if c not in bound.cols]
    rows = []
    for br in bound.rows:
        matched = False
        for orow in other.rows:
            if shared and any(
                br[c] is None or orow[c] is None or br[c] != orow[c]
                for c in shared
            ):
                continue
            matched = True
            merged = dict(br)
            merged.update({c: orow[c] for c in extra})
            rows.append(merged)
        if how == "left" and not matched:
            rows.append({**br, **{c: None for c in extra}})
    return NFrame(bound.cols + extra, rows)


def n_union(a: NFrame, b: NFrame) -> NFrame:
    cols = a.cols + [c for c in b.cols if c not in a.cols]
    rows = [{**{c: None for c in cols}, **r} for r in a.rows]
    rows += [{**{c: None for c in cols}, **r} for r in b.rows]
    return NFrame(cols, rows)


def n_join_patterns(triples, patterns, filters=None) -> NFrame:
    bound: NFrame | None = None
    for pat in patterns:
        b = n_bindings(triples, pat)
        bound = b if bound is None else n_merge(bound, b)
    assert bound is not None
    return n_apply_filters(bound, filters)


def n_apply_binds(bound: NFrame, binds) -> NFrame:
    for expr, var in binds or []:
        if var in bound.cols:
            raise ValueError(f"SPARQL: BIND target ?{var} is already bound")
        missing = [v for v in expr.vars if v not in bound.cols]
        if missing:
            raise ValueError(
                "SPARQL: BIND expression references unbound variable(s): "
                + ", ".join("?" + v for v in missing)
            )
        # engine stringifies BIND values (all-string frame invariant)
        bound = NFrame(bound.cols + [var],
                       [{**r, var: _canon(eeval(expr, r))} for r in bound.rows])
    return bound


def n_values_join(bound: NFrame, names, rows) -> NFrame:
    by_mask: dict[tuple, list] = {}
    for r in rows:
        by_mask.setdefault(tuple(v is not None for v in r), []).append(r)
    parts = []
    for mask, rs in by_mask.items():
        cols = [n for n, m in zip(names, mask) if m]
        if not cols:
            parts.append(bound)
            continue
        seen, vrows = set(), []
        for r in rs:
            key = tuple(v for v in r if v is not None)
            if key not in seen:
                seen.add(key)
                vrows.append(dict(zip(cols, key)))
        parts.append(n_merge(bound, NFrame(cols, vrows)))
    out = parts[0]
    for p in parts[1:]:
        out = n_union(out, p)
    return out


def n_merge_checked(bound: NFrame | None, sol: NFrame, definite,
                    how: str = "inner") -> NFrame:
    if bound is None:
        return sol
    maybe = sorted(set(bound.cols) & set(sol.cols) - set(definite))
    if maybe:
        raise ValueError(
            "SPARQL: variable(s) " + ", ".join("?" + v for v in maybe)
            + " are shared with the outer group but only partially bound"
        )
    return n_merge(bound, sol, how=how)


def n_conditioned_join(bound: NFrame, sol: NFrame, deferred, how: str) -> NFrame:
    shared = sorted(set(bound.cols) & set(sol.cols))
    extra = [c for c in sol.cols if c not in bound.cols]
    for f in deferred:
        missing = [v for v in f.vars
                   if v not in bound.cols and v not in sol.cols]
        if missing:
            raise ValueError(
                "SPARQL: FILTER references variable(s) bound neither in "
                "its group nor in the enclosing solutions: "
                + ", ".join("?" + v for v in missing)
            )
    rows = []
    for br in bound.rows:
        matches = []
        for sr in sol.rows:
            if any(br[c] is None or sr[c] is None or br[c] != sr[c]
                   for c in shared):
                continue
            env = dict(sr)
            env.update(br)  # shared vars resolve to the outer copy
            if all(feval(f, env) is True for f in deferred):
                matches.append(sr)
        if how == "left":
            if matches:
                for sr in matches:
                    rows.append({**br, **{c: sr[c] for c in extra}})
            else:
                rows.append({**br, **{c: None for c in extra}})
        elif how == "left_semi":
            if matches:
                rows.append(dict(br))
        else:
            assert how == "left_anti", how
            if not matches:
                rows.append(dict(br))
    cols = bound.cols + extra if how == "left" else bound.cols
    return NFrame(cols, rows)


def n_left_merge(bound: NFrame, sol: NFrame, definite, deferred) -> NFrame:
    if not deferred:
        return n_merge_checked(bound, sol, definite, how="left")
    maybe = sorted(set(bound.cols) & set(sol.cols) - set(definite))
    if maybe:
        raise ValueError(
            "SPARQL: variable(s) " + ", ".join("?" + v for v in maybe)
            + " are shared with the outer group but only partially bound"
        )
    return n_conditioned_join(bound, sol, deferred, "left")


def n_apply_exists_minus(triples, bound: NFrame, exists_filters,
                         minuses) -> NFrame:
    for negated, ex_node in exists_filters or []:
        other, defs, defer = n_group_solution(triples, ex_node,
                                              allow_defer=True)
        shared = sorted(set(bound.cols) & set(other.cols))
        maybe = sorted(set(shared) - set(defs))
        if maybe:
            raise ValueError(
                "SPARQL: FILTER EXISTS correlates on "
                + ", ".join("?" + v for v in maybe)
                + " which the group binds only partially"
            )
        how = "left_anti" if negated else "left_semi"
        if defer:
            bound = n_conditioned_join(bound, other, defer, how)
        elif shared:
            rows = []
            for br in bound.rows:
                hit = any(
                    all(br[c] is not None and br[c] == orow[c]
                        for c in shared)
                    for orow in other.rows
                )
                if hit == (how == "left_semi"):
                    rows.append(br)
            bound = NFrame(bound.cols, rows)
        else:
            keep = bool(other.rows) == (how == "left_semi")
            bound = NFrame(bound.cols, list(bound.rows) if keep else [])
    for mi_node in minuses or []:
        other, defs, _ = n_group_solution(triples, mi_node)
        shared = sorted(set(bound.cols) & set(other.cols))
        maybe = sorted(set(shared) - set(defs))
        if maybe:
            raise ValueError(
                "SPARQL: MINUS correlates on "
                + ", ".join("?" + v for v in maybe)
                + " which the group binds only partially"
            )
        if shared:
            keys = {tuple(orow[c] for c in shared) for orow in other.rows}
            rows = [
                br for br in bound.rows
                if any(br[c] is None for c in shared)
                or tuple(br[c] for c in shared) not in keys
            ]
            bound = NFrame(bound.cols, rows)
    return bound


# --------------------------------------------------------------- solve


def n_stringify(frame: NFrame) -> NFrame:
    """Mirror the engine's _stringify_frame: a subquery's typed aggregate
    values (int COUNT, float SUM/AVG) become their canonical string form
    at the merge boundary, so shared-var joins compare strings (Spark's
    bigint/double cast-to-string == Python's str for this domain)."""
    rows = [
        {k: (str(v) if isinstance(v, (int, float)) and not isinstance(v, bool)
             else v)
         for k, v in r.items()}
        for r in frame.rows
    ]
    return NFrame(frame.cols, rows)


def n_group_solution(triples, node: GroupNode, allow_defer: bool = False):
    combos = _dnf(node)
    frames, defs = [], []
    deferred: list = []
    for c in combos:
        if not c.patterns and not c.subqueries:
            raise ValueError("SPARQL: a group needs at least one triple pattern")
        df = n_join_patterns(triples, c.patterns) if c.patterns else None
        for sq in c.subqueries:
            df = n_merge(df, n_stringify(n_project(n_solve(triples, sq), sq)))
        df = n_apply_binds(df, c.binds)
        for names, rows in c.values:
            df = n_values_join(df, names, rows)
        definite = _node_definite(c)
        for opt in c.optionals:
            sol, sub_def, sub_defer = n_group_solution(triples, opt,
                                                       allow_defer=True)
            df = n_left_merge(df, sol, sub_def, sub_defer)
        df = n_apply_exists_minus(triples, df, c.exists, c.minuses)
        now = []
        for f in c.filters:
            if (allow_defer and len(combos) == 1
                    and any(v not in df.cols for v in f.vars)):
                deferred.append(f)
            else:
                now.append(f)
        df = n_apply_filters(df, now)
        frames.append(df)
        defs.append(definite)
    out = frames[0]
    for f in frames[1:]:
        out = n_union(out, f)
    return out, frozenset(set.intersection(*defs)), deferred


def n_solve(triples, query: Query) -> NFrame:
    from itertools import product

    base = (n_join_patterns(triples, query.patterns)
            if query.patterns else None)
    for sq in query.subqueries or []:
        base = n_merge(base, n_stringify(n_project(n_solve(triples, sq), sq)))
    if query.unions:
        combos = []
        for arm_combo in product(*query.unions):
            bound = base
            for arm in arm_combo:
                sol, arm_defs, _ = n_group_solution(triples, arm)
                bound = n_merge_checked(bound, sol, arm_defs)
            combos.append(bound)
        u = combos[0]
        for f in combos[1:]:
            u = n_union(u, f)
        bound = u
    else:
        bound = base
    for opt in query.optionals or []:
        sol, defs, defer = n_group_solution(triples, opt, allow_defer=True)
        bound = n_left_merge(bound, sol, defs, defer)
    assert bound is not None
    bound = n_apply_binds(bound, query.binds)
    for names, rows in query.values_blocks or []:
        bound = n_values_join(bound, names, rows)
    bound = n_apply_filters(bound, query.filters)
    return n_apply_exists_minus(triples, bound,
                                query.exists_filters, query.minuses)


def _agg_eval(a, rows: list[dict]):
    """One aggregate over a group's rows — mirrors Aggregate.column():
    COUNT(*) counts rows; others skip null/failed-cast inputs; SUM/AVG
    over empty input are null; GROUP_CONCAT sorts for determinism and
    yields '' on empty; SAMPLE is the deterministic MIN."""
    if a.arg is None:  # COUNT(*)
        return len(rows)
    vals = [v for v in (eeval(a.arg, r) for r in rows) if v is not None]
    if a.func == "count":
        return len(set(vals)) if a.distinct else len(vals)
    if a.func in ("sum", "avg"):
        nums = [n for n in (_num(v) for v in vals) if n is not None]
        if a.distinct:
            nums = list(set(nums))
        if not nums:
            return None
        return sum(nums) if a.func == "sum" else sum(nums) / len(nums)
    if a.func in ("min", "max", "sample"):
        if not vals:
            return None
        svals = [str(v) for v in vals]
        return max(svals) if a.func == "max" else min(svals)
    assert a.func == "group_concat", a.func
    strs = [str(v) for v in vals]
    if a.distinct:
        strs = list(set(strs))
    return a.separator.join(sorted(strs))


def _project_aggregated(bound: NFrame, query: Query) -> NFrame:
    items = query.proj_items
    if items is None:
        raise ValueError("SPARQL: SELECT * cannot combine with GROUP BY")
    aggs = [it[1] for it in items if it[0] == "agg"]
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
    # direct aggregate calls in HAVING: same rewrite as the engine
    having, hav_aggs = sparql._rewrite_having(query.having)
    missing = [v for v in gb if v not in bound.cols]
    missing += [v for a in list(aggs) + hav_aggs
                for v in a.vars if v not in bound.cols]
    if missing:
        raise ValueError(
            "SPARQL: GROUP BY/aggregate references unbound variable(s): "
            + ", ".join("?" + v for v in sorted(set(missing)))
        )
    groups: dict[tuple, list[dict]] = {}
    for r in bound.rows:
        groups.setdefault(tuple(r.get(v) for v in gb), []).append(r)
    if not gb and not groups:
        groups[()] = []  # implicit single group over empty input
    out_rows = []
    for key, rows in groups.items():
        row = dict(zip(gb, key))
        for a in list(aggs) + hav_aggs:
            row[a.alias] = _agg_eval(a, rows)
        out_rows.append(row)
    frame = NFrame(list(gb) + [a.alias for a in list(aggs) + hav_aggs],
                   out_rows)
    frame = n_apply_filters(frame, having)
    cols = []
    for it in items:
        if it[0] == "var":
            cols.append(it[1])
        elif it[0] == "agg":
            cols.append(it[1].alias)
        else:
            # projected expression over GROUP BY vars
            alias = it[2]
            for r in frame.rows:
                r[alias] = eeval(it[1], r)
            cols.append(alias)
    return NFrame(cols, [{c: r.get(c) for c in cols} for r in frame.rows])


def n_project(bound: NFrame, query: Query) -> NFrame:
    """SELECT-clause projection, mirroring ``_project`` (aggregates,
    HAVING, DISTINCT; no ORDER/LIMIT — the differential compares
    unordered multisets)."""
    items = query.proj_items
    aggs = [it[1] for it in items or [] if it[0] == "agg"]
    if aggs or query.group_by:
        out = _project_aggregated(bound, query)
        if query.distinct:
            seen, ded = set(), []
            for r in out.rows:
                key = tuple(r[c] for c in out.cols)
                if key not in seen:
                    seen.add(key)
                    ded.append(r)
            out = NFrame(out.cols, ded)
        return out
    if query.having:
        raise ValueError("SPARQL: HAVING requires GROUP BY or aggregates")
    if query.proj_items is None:
        cols = sorted(bound.cols)
    else:
        cols = []
        for it in query.proj_items:
            assert it[0] == "var", it
            if it[1] not in bound.cols:
                raise ValueError(
                    f"SPARQL: projected ?{it[1]} is not bound by any pattern"
                )
            cols.append(it[1])
    rows = [{c: r.get(c) for c in cols} for r in bound.rows]
    if query.distinct:
        seen, ded = set(), []
        for r in rows:
            key = tuple(r[c] for c in cols)
            if key not in seen:
                seen.add(key)
                ded.append(r)
        rows = ded
    return NFrame(cols, rows)


def n_modifiers(frame: NFrame, query: Query) -> NFrame:
    """ORDER BY / OFFSET / LIMIT, mirroring the engine's conventions:
    Spark default null placement (ASC = NULLS FIRST, DESC = NULLS LAST —
    both fall out of treating unbound as the smallest value), lexicographic
    string comparison, ``xsd:double(?v)`` casting non-numeric strings to
    null. Keys are applied last-first over Python's stable sort, which is
    equivalent to one multi-key comparison."""
    rows = frame.rows
    if query.order_by:
        for var, desc, numeric in reversed(query.order_by):
            if isinstance(var, Expr):
                missing = [v for v in var.vars if v not in frame.cols]
                if missing:
                    raise ValueError(
                        "SPARQL: ORDER BY expression references "
                        "non-projected variable(s): "
                        + ", ".join("?" + v for v in missing))

                def key(r, e=var, numeric=numeric):
                    v = eeval(e, r)
                    v = _num(v) if numeric else _canon(v)
                    return (v is not None, v)
            else:
                if var not in frame.cols:
                    raise ValueError(
                        f"SPARQL: ORDER BY ?{var} must be a projected column "
                        "(ordering by non-projected variables is unsupported)"
                    )

                def key(r, var=var, numeric=numeric):
                    v = r.get(var)
                    if numeric and v is not None:
                        try:
                            v = float(v)
                        except ValueError:
                            v = None
                    return (v is not None, v)

            rows = sorted(rows, key=key, reverse=desc)
    if query.offset:
        rows = rows[query.offset:]
    if query.limit is not None:
        rows = rows[: query.limit]
    return NFrame(frame.cols, rows)


def n_evaluate(triples: list[Triple], text: str) -> NFrame:
    q = sparql.parse(text)
    assert q.form == "select", q.form
    return n_modifiers(n_project(n_solve(triples, q), q), q)


def n_construct(triples: list[Triple], text: str) -> NFrame:
    """CONSTRUCT, mirroring ``_instantiate``: template vars unbound by any
    pattern raise; a solution leaving a template triple's var null emits
    no triple from that template; the result is a SET of triples."""
    q = sparql.parse(text)
    assert q.form == "construct", q.form
    bound = n_solve(triples, q)
    missing = sorted({
        t.value for triple in q.template for t in triple
        if t.kind == "var" and t.value not in bound.cols
    })
    if missing:
        raise ValueError(
            "SPARQL: template references variable(s) not bound by any "
            "pattern: " + ", ".join("?" + v for v in missing)
        )
    out = set()
    for r in bound.rows:
        for s, p, o in q.template:
            vals = tuple(
                r.get(t.value) if t.kind == "var" else t.value
                for t in (s, p, o)
            )
            if all(v is not None for v in vals):
                out.add(vals)
    return NFrame(["subj", "pred", "obj"],
                  [dict(zip(("subj", "pred", "obj"), t)) for t in out])
