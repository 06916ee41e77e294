"""Randomized differential testing of the SPARQL group algebra.

A seeded generator emits random (but syntactically valid) SELECT queries
over random small graphs; each query runs through BOTH the Spark engine
(``sparql.evaluate``) and the naive pure-Python interpreter
(``tests/naive_sparql.py``) and the solution MULTISETS must agree —
including unbound (null) cells from OPTIONAL / UNION / VALUES-UNDEF.

The engine's strictness errors (partially-bound shared vars, unbound
FILTER/BIND references) must also agree: when one side raises
``ValueError``, the other must too.

Feature space exercised: property paths (iri / seq / alt / inv / star /
plus / ? / negated property sets / variable predicates), FILTER booleans
(&& || ! parens, = != < > against var/str/num/expressions, regex, isIRI,
STRSTARTS/STRENDS/CONTAINS over expressions, BOUND/isNumeric/isLiteral,
[NOT] IN), the scalar builtin library in BIND and comparison operands
(STRLEN/UCASE/LCASE/SUBSTR/STRBEFORE/STRAFTER/REPLACE/ABS/CEIL/FLOOR/
ROUND/COALESCE/IF/CONCAT/STR, nested, with null inputs from OPTIONAL
vars and non-numeric terms), OPTIONAL (nested, with outer-referencing
deferred filters), multiple UNION blocks, VALUES with UNDEF, MINUS,
FILTER [NOT] EXISTS, DISTINCT.
"""
from __future__ import annotations

import random
from collections import Counter

import pytest

from phenoscape_owl_tools_spark import sparql

import naive_sparql as ns

EX = "http://example.org/"
PREFIX = f"PREFIX ex: <{EX}>\n"

SUBJECTS = [f"ex:n{i}" for i in range(8)]
PREDS = [f"ex:p{i}" for i in range(4)]
LITERALS = ['"5"', '"12"', '"abc"', '"abd"']
VARS = ["a", "b", "c", "d", "e"]


def _mk_graph(rng: random.Random) -> list[tuple[str, str, str]]:
    n = rng.randint(15, 30)
    triples = set()
    while len(triples) < n:
        s = EX + f"n{rng.randrange(8)}"
        p = EX + f"p{rng.randrange(4)}"
        o = (EX + f"n{rng.randrange(8)}") if rng.random() < 0.8 else \
            rng.choice(LITERALS).strip('"')
        triples.add((s, p, o))
    return sorted(triples)


def _mk_path(rng: random.Random, depth: int = 0) -> str:
    r = rng.random()
    if depth >= 2 or r < 0.55:
        return rng.choice(PREDS)
    if r < 0.63:
        return f"({_mk_path(rng, depth + 1)}/{_mk_path(rng, depth + 1)})"
    if r < 0.71:
        return f"({_mk_path(rng, depth + 1)}|{_mk_path(rng, depth + 1)})"
    if r < 0.78:
        return f"^{rng.choice(PREDS)}"
    if r < 0.84:
        return f"{rng.choice(PREDS)}{rng.choice(['*', '+', '?'])}"
    if r < 0.92:
        members = rng.sample(PREDS, rng.randint(1, 2))
        if rng.random() < 0.5:
            members = [("^" if rng.random() < 0.5 else "") + m
                       for m in members]
        return "!(" + "|".join(members) + ")"
    return f"({_mk_path(rng, depth + 1)}/{rng.choice(PREDS)}?)"


def _mk_term(rng: random.Random, pool: list[str]) -> str:
    r = rng.random()
    if r < 0.7:
        return "?" + rng.choice(pool)
    if r < 0.9:
        return rng.choice(SUBJECTS)
    return rng.choice(LITERALS)


def _mk_pattern(rng: random.Random, pool: list[str], paths: bool = True) -> str:
    subj = _mk_term(rng, pool)
    obj = _mk_term(rng, pool)
    if not subj.startswith("?") and not obj.startswith("?"):
        subj = "?" + rng.choice(pool)  # avoid the all-constant __const__ path
    if subj.startswith('"'):
        subj = "?" + rng.choice(pool)  # literal subjects don't occur
    if rng.random() < 0.08:
        pred = "?" + rng.choice([v for v in VARS if "?" + v not in (subj, obj)])
    else:
        pred = _mk_path(rng) if paths else rng.choice(PREDS)
    return f"{subj} {pred} {obj} ."


def _mk_sexpr(rng: random.Random, pool: list[str], depth: int = 0) -> str:
    """A scalar expression over bound vars — exercises the builtin
    function library (string fns, numeric fns, COALESCE/IF) with null
    inputs flowing from OPTIONAL vars and non-numeric terms."""
    r = rng.random()
    v = "?" + rng.choice(pool)
    if depth >= 2 or r < 0.35:
        return v if rng.random() < 0.75 else rng.choice(LITERALS)
    inner = lambda: _mk_sexpr(rng, pool, depth + 1)  # noqa: E731
    r = rng.random()
    if r < 0.12:
        return f"STRLEN({inner()})"
    if r < 0.22:
        return f"{rng.choice(['UCASE', 'LCASE'])}({inner()})"
    if r < 0.32:
        return f"SUBSTR({inner()}, {rng.randint(1, 4)})" if rng.random() < 0.5 \
            else f"SUBSTR({inner()}, {rng.randint(1, 3)}, {rng.randint(0, 3)})"
    if r < 0.42:
        fn = rng.choice(["STRBEFORE", "STRAFTER"])
        return f'{fn}({inner()}, "{rng.choice(["b", "n", "1", ""])}")'
    if r < 0.50:
        return f'REPLACE({inner()}, "[0-9]", "{rng.choice(["#", ""])}")'
    if r < 0.62:
        fn = rng.choice(["ABS", "CEIL", "FLOOR", "ROUND"])
        return f"{fn}({inner()})"
    if r < 0.72:
        return f"COALESCE({inner()}, {inner()})"
    if r < 0.82:
        cond = _mk_filter(rng, pool, [], depth=1)
        return f"IF({cond}, {inner()}, {inner()})"
    if r < 0.92:
        return f"({inner()} {rng.choice(['+', '-', '*'])} {inner()})"
    return f"CONCAT(STR({inner()}), {rng.choice(LITERALS)})"


def _mk_filter(rng: random.Random, bound: list[str], outer: list[str],
               depth: int = 0) -> str:
    r = rng.random()
    if depth < 1 and r < 0.25:
        op = rng.choice(["&&", "||"])
        return (f"({_mk_filter(rng, bound, outer, depth + 1)} {op} "
                f"{_mk_filter(rng, bound, outer, depth + 1)})")
    if depth < 1 and r < 0.32:
        return f"!({_mk_filter(rng, bound, outer, depth + 1)})"
    pool = bound + outer if outer and rng.random() < 0.4 else bound
    v = rng.choice(pool)
    r = rng.random()
    if r < 0.1:
        return f"isIRI(?{v})"
    if r < 0.18:
        arg = f"?{v}" if rng.random() < 0.6 else _mk_sexpr(rng, pool, 1)
        return f'regex({arg}, "n[0-3]")'
    if r < 0.26:  # boolean builtins over expressions
        fn = rng.choice(["STRSTARTS", "STRENDS", "CONTAINS"])
        lit = rng.choice(['"a"', '"1"', '"n"', '"abc"'])
        arg = f"?{v}" if rng.random() < 0.6 else _mk_sexpr(rng, pool, 1)
        return f"{fn}({arg}, {lit})"
    if r < 0.32:
        fn = rng.choice(["BOUND", "isNumeric", "isLiteral"])
        return f"{fn}(?{v})"
    if r < 0.38:  # [NOT] IN over term lists
        items = rng.sample(SUBJECTS + LITERALS, rng.randint(1, 3))
        neg = "NOT " if rng.random() < 0.4 else ""
        return f"?{v} {neg}IN (" + ", ".join(items) + ")"
    if r < 0.46:  # expression comparison (numeric or string typing)
        lhs = _mk_sexpr(rng, pool, 1)
        rhs = _mk_sexpr(rng, pool, 1) if rng.random() < 0.5 \
            else rng.choice(["1", "2", "3", '"5"', '"abc"'])
        return f"{lhs} {rng.choice(['=', '!=', '<', '>'])} {rhs}"
    op = rng.choice(["=", "!=", "<", ">"])
    rhs_r = rng.random()
    if rhs_r < 0.4 and len(pool) > 1:
        rhs = "?" + rng.choice([x for x in pool if x != v] or [v])
    elif rhs_r < 0.7:
        rhs = rng.choice(LITERALS)
    else:
        rhs = rng.choice(SUBJECTS)
    return f"?{v} {op} {rhs}"


def _pat_vars(pat: str) -> list[str]:
    return [tok[1:-len(" .")] if tok.endswith(" .") else tok[1:]
            for tok in pat.split() if tok.startswith("?")]


def _mk_group(rng: random.Random, pool: list[str], outer: list[str],
              depth: int = 0) -> tuple[str, list[str]]:
    """A `{ ... }` group body; returns (text, vars bound by its patterns)."""
    pats = [_mk_pattern(rng, pool) for _ in range(rng.randint(1, 2))]
    bound = sorted({v for p in pats for v in _pat_vars(p)})
    parts = list(pats)
    if depth < 1 and rng.random() < 0.15:
        # nested UNION inside this group (engine flattens to the arm
        # product at parse time; arms may carry their own filters)
        a1, v1 = _mk_group(rng, pool, outer, depth + 1)
        a2, v2 = _mk_group(rng, pool, outer, depth + 1)
        parts.append(f"{{ {a1} }} UNION {{ {a2} }}")
        bound = sorted(set(bound) | (set(v1) & set(v2)))
    if bound and rng.random() < 0.45:
        parts.append(f"FILTER({_mk_filter(rng, bound, outer)})")
    if depth < 1 and bound and rng.random() < 0.2:
        sub, _ = _mk_group(rng, pool, bound, depth + 1)
        parts.append(f"OPTIONAL {{ {sub} }}")
    if depth < 1 and bound and rng.random() < 0.15:
        # group-scoped { SELECT } subquery joining on one bound var
        sv = rng.choice(bound)
        ov = next(v for v in VARS if v != sv)
        sub_pat = f"?{sv} {rng.choice(PREDS)} ?{ov} ."
        if rng.random() < 0.5:
            fresh = next(v for v in VARS if v not in bound and v != ov)
            parts.append(
                f"{{ SELECT ?{sv} (COUNT(?{ov}) AS ?{fresh}) "
                f"WHERE {{ {sub_pat} }} GROUP BY ?{sv} }}"
            )
        else:
            parts.append(f"{{ SELECT ?{sv} WHERE {{ {sub_pat} }} }}")
    return " ".join(parts), bound


def _mk_query(rng: random.Random) -> str:
    pool = VARS[: rng.randint(2, 4)]
    pats = [_mk_pattern(rng, pool) for _ in range(rng.randint(1, 3))]
    bound = sorted({v for p in pats for v in _pat_vars(p)})
    if not bound:
        pats.append(f"?{pool[0]} {rng.choice(PREDS)} ?{pool[-1]} .")
        bound = sorted({v for p in pats for v in _pat_vars(p)})
    parts = list(pats)
    if rng.random() < 0.5:
        parts.append(f"FILTER({_mk_filter(rng, bound, [])})")
    if rng.random() < 0.45:
        g, _ = _mk_group(rng, pool, bound)
        parts.append(f"OPTIONAL {{ {g} }}")
    if rng.random() < 0.35:
        a1, _ = _mk_group(rng, pool, bound)
        a2, _ = _mk_group(rng, pool, bound)
        parts.append(f"{{ {a1} }} UNION {{ {a2} }}")
    if rng.random() < 0.2:
        g, _ = _mk_group(rng, pool, bound)
        parts.append(f"MINUS {{ {g} }}")
    if rng.random() < 0.2:
        g, _ = _mk_group(rng, pool, bound)
        neg = "NOT " if rng.random() < 0.5 else ""
        parts.append(f"FILTER {neg}EXISTS {{ {g} }}")
    if rng.random() < 0.35:
        tgt = next((v for v in VARS if v not in bound), None)
        if tgt:
            src = rng.choice(bound)
            body = (f'CONCAT(STR(?{src}), "_x")' if rng.random() < 0.3
                    else _mk_sexpr(rng, bound))
            parts.append(f"BIND({body} AS ?{tgt})")
    if rng.random() < 0.25:
        vs = rng.sample(bound, min(len(bound), rng.randint(1, 2)))
        rows = []
        for _ in range(rng.randint(1, 3)):
            cells = []
            for v in vs:
                if rng.random() < 0.25:
                    cells.append("UNDEF")
                else:
                    cells.append(rng.choice(SUBJECTS))
            rows.append("(" + " ".join(cells) + ")")
        parts.append(
            "VALUES (" + " ".join("?" + v for v in vs) + ") { "
            + " ".join(rows) + " }"
        )
    if rng.random() < 0.25:
        # { SELECT ... } subquery: only its projected vars join the outer
        # solutions; half the time it aggregates (alias var is fresh)
        sv = rng.choice(bound)
        ov = next(v for v in VARS if v != sv)
        sub_pat = f"?{sv} {rng.choice(PREDS)} ?{ov} ."
        if rng.random() < 0.5:
            agg = rng.choice(["COUNT(*)", f"MIN(?{ov})", f"COUNT(?{ov})"])
            fresh = next(v for v in VARS if v not in bound and v != ov)
            parts.append(
                f"{{ SELECT ?{sv} ({agg} AS ?{fresh}) "
                f"WHERE {{ {sub_pat} }} GROUP BY ?{sv} }}"
            )
        else:
            parts.append(f"{{ SELECT ?{sv} WHERE {{ {sub_pat} }} }}")
    distinct = "DISTINCT " if rng.random() < 0.3 else ""
    return PREFIX + f"SELECT {distinct}* WHERE {{ " + " ".join(parts) + " }"


def _mk_mod_query(rng: random.Random) -> str:
    """Solution-modifier branch: ORDER BY (mixed ASC/DESC, optional
    xsd:double cast) + LIMIT/OFFSET. The ORDER BY key list always ends
    with every projected variable lexicographically, so the ordering is
    total up to fully-identical rows — which makes the ordered-list
    comparison against the naive interpreter deterministic even under
    LIMIT (interchangeable duplicates are the only ties)."""
    pool = VARS[: rng.randint(2, 3)]
    pats = [_mk_pattern(rng, pool) for _ in range(rng.randint(1, 2))]
    bound = sorted({v for p in pats for v in _pat_vars(p)})
    if not bound:
        pats.append(f"?{pool[0]} {rng.choice(PREDS)} ?{pool[-1]} .")
        bound = sorted({v for p in pats for v in _pat_vars(p)})
    parts = list(pats)
    if rng.random() < 0.4:  # OPTIONAL => null cells exercise null ordering
        g, _ = _mk_group(rng, pool, bound)
        parts.append(f"OPTIONAL {{ {g} }}")
    if rng.random() < 0.3:
        parts.append(f"FILTER({_mk_filter(rng, bound, [])})")
    distinct = "DISTINCT " if rng.random() < 0.3 else ""
    keys = []
    if rng.random() < 0.4:  # numeric-cast key first (IRIs cast to null)
        v = rng.choice(bound)
        kw = rng.choice(["ASC", "DESC"])
        keys.append(f"{kw}(xsd:double(?{v}))")
    if rng.random() < 0.35:  # expression key (numeric or string form)
        v = rng.choice(bound)
        keys.append(rng.choice([
            f"DESC(STRLEN(?{v}))", f"ASC(STRLEN(?{v}))",
            f"LCASE(?{v})", f'ASC(STRAFTER(?{v}, "n"))',
        ]))
    for v in rng.sample(bound, len(bound)):  # total-order tail
        r = rng.random()
        if r < 0.4:
            keys.append(f"?{v}")
        else:
            keys.append(f"{rng.choice(['ASC', 'DESC'])}(?{v})")
    tail = " ORDER BY " + " ".join(keys)
    if rng.random() < 0.7:
        tail += f" LIMIT {rng.randint(1, 8)}"
    if rng.random() < 0.4:
        tail += f" OFFSET {rng.randint(1, 3)}"
    xsd = "PREFIX xsd: <http://www.w3.org/2001/XMLSchema#>\n"
    return (PREFIX + xsd + f"SELECT {distinct}"
            + " ".join("?" + v for v in bound)
            + " WHERE { " + " ".join(parts) + " }" + tail)


AGG_TEMPLATES = [
    "COUNT(*)",
    "COUNT(?{v})",
    "COUNT(DISTINCT ?{v})",
    "SUM(?{v})",
    "AVG(?{v})",
    "MIN(?{v})",
    "MAX(?{v})",
    "SAMPLE(?{v})",
    'GROUP_CONCAT(?{v}; SEPARATOR="|")',
    "GROUP_CONCAT(DISTINCT ?{v})",
    # builtin-fn aggregate args: numeric fns under SUM/AVG (both sides
    # numeric), string fns under MIN/MAX/COUNT/GROUP_CONCAT (both sides
    # compare/collect canonical strings)
    "SUM(STRLEN(?{v}))",
    "AVG(STRLEN(?{v}))",
    "COUNT(SUBSTR(?{v}, 2))",
    "MAX(UCASE(?{v}))",
    "MIN(LCASE(?{v}))",
    'GROUP_CONCAT(SUBSTR(?{v}, 1, 2); SEPARATOR="-")',
    'SUM(IF(isIRI(?{v}), 1, 0))',
]


def _mk_agg_query(rng: random.Random) -> str:
    """GROUP BY + aggregates over a BGP (optionally with OPTIONAL/UNION,
    so null group keys and null aggregate inputs occur)."""
    pool = VARS[:3]
    pats = [_mk_pattern(rng, pool) for _ in range(rng.randint(1, 2))]
    bound = sorted({v for p in pats for v in _pat_vars(p)})
    if not bound:
        pats.append(f"?{pool[0]} {rng.choice(PREDS)} ?{pool[-1]} .")
        bound = sorted({v for p in pats for v in _pat_vars(p)})
    parts = list(pats)
    if rng.random() < 0.4:
        g, _ = _mk_group(rng, pool, bound)
        parts.append(f"OPTIONAL {{ {g} }}")
    if rng.random() < 0.25:
        a1, _ = _mk_group(rng, pool, bound)
        a2, _ = _mk_group(rng, pool, bound)
        parts.append(f"{{ {a1} }} UNION {{ {a2} }}")
    gvar = rng.choice(bound)
    avars = [v for v in VARS[:4] if v != gvar]
    group_expr = rng.random() < 0.2  # GROUP BY (expr AS ?k)
    if group_expr:
        kvar = next(v for v in VARS if v not in bound)
        sel = [f"?{kvar}"]
    else:
        sel = [f"?{gvar}"]
    want_having = rng.random() < 0.35
    having_direct = want_having and rng.random() < 0.5
    n_aggs = rng.randint(1, 2)
    for i in range(n_aggs):
        if i == 0 and want_having and not having_direct:
            tpl = "COUNT(*)"  # HAVING references the alias, numerically
        else:
            tpl = rng.choice(AGG_TEMPLATES)
        sel.append(f"({tpl.format(v=rng.choice(avars))} AS ?agg{i})")
    having = ""
    if want_having:
        if having_direct:  # direct aggregate call (spec form)
            lhs = rng.choice(
                ["COUNT(*)", f"COUNT(?{rng.choice(avars)})",
                 f"SUM(STRLEN(?{rng.choice(avars)}))"])
        else:  # projection-alias reference
            lhs = "?agg0"
        having = f" HAVING({lhs} {rng.choice(['>', '>='])} {rng.randint(1, 2)})"
    ovar = kvar if group_expr else gvar
    tail = ""
    if rng.random() < 0.4:
        # group keys are distinct after GROUP BY, so ORDER BY the key alone
        # is a total order — safe for ordered-list comparison under LIMIT
        kw = rng.choice(["", "ASC", "DESC"])
        key = f"?{ovar}" if not kw else f"{kw}(?{ovar})"
        tail = f" ORDER BY {key}"
        if rng.random() < 0.6:
            tail += f" LIMIT {rng.randint(1, 5)}"
        if rng.random() < 0.3:
            tail += f" OFFSET {rng.randint(1, 2)}"
    if group_expr:
        gexpr = rng.choice([f"UCASE(?{gvar})", f"STRLEN(?{gvar})",
                            f"SUBSTR(?{gvar}, 1, 2)"])
        group = f" GROUP BY ({gexpr} AS ?{kvar})"
    else:
        group = f" GROUP BY ?{gvar}"
    return (PREFIX + "SELECT " + " ".join(sel)
            + " WHERE { " + " ".join(parts) + " }"
            + group + having + tail)


def _norm_val(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def _spark_frame(spark, triples):
    return spark.createDataFrame(
        triples, "subj string, pred string, obj string"
    )


def _mk_construct_query(rng: random.Random) -> str:
    """CONSTRUCT branch: template instantiation over a solved WHERE —
    exercises per-template null-drop (OPTIONAL vars in templates), set
    semantics of the emitted graph, and the unbound-template-var
    strictness error (~1 in 12 queries uses a var no pattern binds)."""
    pool = VARS[: rng.randint(2, 3)]
    pats = [_mk_pattern(rng, pool) for _ in range(rng.randint(1, 2))]
    bound = sorted({v for p in pats for v in _pat_vars(p)})
    if not bound:
        pats.append(f"?{pool[0]} {rng.choice(PREDS)} ?{pool[-1]} .")
        bound = sorted({v for p in pats for v in _pat_vars(p)})
    parts = list(pats)
    opt_vars: list[str] = []
    if rng.random() < 0.5:  # OPTIONAL vars may be null in the template
        g, ovars = _mk_group(rng, pool, bound)
        parts.append(f"OPTIONAL {{ {g} }}")
        opt_vars = [v for v in ovars if v not in bound]
    if rng.random() < 0.3:
        parts.append(f"FILTER({_mk_filter(rng, bound, [])})")

    def term(kind: str) -> str:
        r = rng.random()
        template_pool = bound + opt_vars
        if r < 0.08:  # unbound template var -> both sides must raise
            unused = [v for v in VARS if v not in template_pool]
            if unused:
                return "?" + rng.choice(unused)
        if kind == "pred":
            return ("?" + rng.choice(template_pool)) if r < 0.25 \
                else rng.choice(PREDS)
        if r < 0.7:
            return "?" + rng.choice(template_pool)
        if kind == "obj" and r < 0.85:
            return rng.choice(LITERALS)
        return rng.choice(SUBJECTS)

    tmpl = " . ".join(
        f"{term('subj')} {term('pred')} {term('obj')}"
        for _ in range(rng.randint(1, 3))
    )
    return (PREFIX + "CONSTRUCT { " + tmpl + " } WHERE { "
            + " ".join(parts) + " }")


_MAKERS = {"select": _mk_query, "agg": _mk_agg_query, "mod": _mk_mod_query,
           "construct": _mk_construct_query}


def _run_both(spark, seed: int, kind: str = "select"):
    rng = random.Random(seed)
    triples = _mk_graph(rng)
    text = _MAKERS[kind](rng)
    tdf = _spark_frame(spark, triples)
    # ORDER BY makes row ORDER part of the contract — compare ordered
    # lists instead of multisets (generators only emit total-order keys)
    try:
        ordered = bool(sparql.parse(text).order_by)
    except ValueError:
        ordered = False  # parse error: both sides must raise below
    wrap = list if ordered else Counter

    engine_err = naive_err = None
    engine_rows = naive_rows = None
    engine_cols: list[str] = []
    try:
        out = sparql.evaluate(tdf, text)
        engine_cols = out.columns
        engine_rows = wrap(
            tuple(_norm_val(r[c]) for c in sorted(engine_cols))
            for r in out.collect()
        )
    except ValueError as e:
        engine_err = e
    try:
        nf = (ns.n_construct if kind == "construct"
              else ns.n_evaluate)(triples, text)
        naive_rows = wrap(
            tuple(_norm_val(r.get(c)) for c in sorted(nf.cols))
            for r in nf.rows
        )
        naive_cols = nf.cols
    except ValueError as e:
        naive_err = e

    if engine_err is not None or naive_err is not None:
        assert engine_err is not None and naive_err is not None, (
            f"seed {seed}: one side raised, the other did not\n"
            f"query:\n{text}\nengine: {engine_err!r}\nnaive: {naive_err!r}"
        )
        return "raised"
    assert sorted(engine_cols) == sorted(naive_cols), (
        f"seed {seed}: column mismatch {engine_cols} vs {naive_cols}\n{text}"
    )
    if isinstance(engine_rows, Counter):
        detail = (f"engine-only: {engine_rows - naive_rows}\n"
                  f"naive-only: {naive_rows - engine_rows}")
    else:
        detail = f"engine: {engine_rows}\nnaive: {naive_rows}"
    assert engine_rows == naive_rows, (
        f"seed {seed}: solution {'list' if kind == 'mod' else 'multiset'} "
        f"mismatch\nquery:\n{text}\ngraph: {triples}\n{detail}"
    )
    return "compared"


@pytest.mark.parametrize("seed", list(range(40)))
def test_differential_random_query(spark, seed):
    _run_both(spark, seed)


@pytest.mark.parametrize("seed", list(range(1000, 1020)))
def test_differential_random_aggregate(spark, seed):
    _run_both(spark, seed, kind="agg")


@pytest.mark.parametrize("seed", list(range(2000, 2020)))
def test_differential_random_modifiers(spark, seed):
    _run_both(spark, seed, kind="mod")


@pytest.mark.parametrize("seed", list(range(3000, 3020)))
def test_differential_random_construct(spark, seed):
    _run_both(spark, seed, kind="construct")


def test_differential_yields_comparisons(spark):
    """Guard the generator's health: across a block of seeds, most queries
    must actually evaluate (not raise) — otherwise the differential is
    silently testing only the error paths."""
    outcomes = [_run_both(spark, seed) for seed in range(40, 60)]
    assert outcomes.count("compared") >= 12, Counter(outcomes)


# --------------- DELETE WHERE (IRI or variable predicates; SPARQL 1.1
# forbids property paths in its quad pattern)


def _mk_delete_query(rng: random.Random) -> str:
    pool = VARS[:3]
    pats = [_mk_pattern(rng, pool, paths=False)]
    if rng.random() < 0.35:
        pats.append(_mk_pattern(rng, pool, paths=False))
    return (f"PREFIX ex: <{EX}>\n"
            "DELETE WHERE { " + " ".join(pats) + " }")


def _n_delete_where(triples, text):
    """Naive DELETE WHERE: solve the pattern block, instantiate the
    template per solution, then subtract."""
    q = sparql.parse(text)
    frame = ns.n_join_patterns(triples, q.patterns, q.filters)
    deletions = {
        tuple(row[t.value] if t.kind == "var" else t.value for t in triple)
        for row in frame.rows
        for triple in q.delete_template
        if all(row.get(t.value) is not None
               for t in triple if t.kind == "var")
    }
    return set(triples) - deletions


@pytest.mark.parametrize("seed", list(range(4000, 4030)))
def test_differential_random_delete_where(spark, seed):
    """Every seed compares graphs: a plain-BGP DELETE WHERE raises on
    neither side."""
    rng = random.Random(seed)
    triples = _mk_graph(rng)
    text = _mk_delete_query(rng)
    got = {(r.subj, r.pred, r.obj)
           for r in sparql.update(_spark_frame(spark, triples), text).collect()}
    expect = _n_delete_where(triples, text)
    assert got == expect, (
        f"seed {seed}: graph mismatch\nquery:\n{text}\n"
        f"engine-only: {sorted(got - expect)}\n"
        f"naive-only: {sorted(expect - got)}")
