"""The analyst query mix and its DuckDB SQL twins.

Each template is a SPARQL text over the built KB plus a SQL statement over
a DuckDB table ``t(subj, pred, obj)`` holding the same triples; the two
must return the same multiset of rows. Path semantics follow the engine's
documented conventions (``sparql.py``): ``p+`` is the transitive closure,
and ``p/q*`` in mid-sequence is ``R_p ∪ R_p ∘ TC(q)``. Updates are applied
to the unmodified graph and answered by the size of the resulting graph.

The mix is a fixed 10-query cycle of query kinds (4 path, 3 lookup, 1 join,
1 aggregate, 1 update); the seed picks each query's template and constants.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

TERM = "http://kg.example.org/term/"
NS_ROOT = "http://kg.example.org/root/"
ROOT = "http://kg.example.org/root"
SUB = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
EXHIBITS = "http://purl.org/phenoscape/vocab.owl#exhibits_state"
DESCRIBES = "http://purl.org/phenoscape/vocab.owl#describes_phenotype"
DEPICTS = "http://xmlns.com/foaf/0.1/depicts"
IMAGE = "http://xmlns.com/foaf/0.1/Image"
STATE = "http://kg.example.org/State"

# the generator's vocabulary split by the KB's namespace rule
ANATOMY = "a agg batch big column customer data dup fast filter".split()
ALL_WORDS = ANATOMY + (
    "group hash join key line merge order part query row scan slow small "
    "sort spark stream table the value vector window"
).split()
TAXA = "scan slow small sort".split()
CLASSES = [ROOT, NS_ROOT + "anatomy", NS_ROOT + "quality", NS_ROOT + "taxon"]

# the cycle's query kinds, 40% path, 30% lookup, 10% each join, aggregate and
# update; the seed draws each query's template of that kind and its constants
CYCLE = ["path", "lookup", "path", "join", "path", "lookup", "aggregate",
         "path", "update", "lookup"]
TEMPLATES = {
    "path": ["subclass_plus", "type_subclass_star"],
    "lookup": ["lookup_subject", "describe", "lookup_depicts"],
    "join": ["join_states"],
    "aggregate": ["count_by_pred", "count_by_type"],
    "update": ["delete_where", "insert_where"],
}


@dataclass(frozen=True)
class Op:
    template: str
    kind: str
    sparql: str
    sql: str


def _op(template: str, rng: random.Random) -> Op:
    if template == "subclass_plus":
        c = rng.choice(CLASSES)
        return Op(template, "path",
                  f"SELECT ?c WHERE {{ ?c <{SUB}>+ <{c}> }}",
                  f"""WITH RECURSIVE r(s) AS (
                        SELECT subj FROM t WHERE pred = '{SUB}' AND obj = '{c}'
                        UNION SELECT t.subj FROM t JOIN r ON t.obj = r.s
                        WHERE t.pred = '{SUB}')
                      SELECT s FROM r""")
    if template == "type_subclass_star":
        c = IMAGE
        return Op(template, "path",
                  f"SELECT ?x WHERE {{ ?x <{TYPE}>/<{SUB}>* <{c}> }}",
                  f"""WITH RECURSIVE r(s) AS (
                        SELECT subj FROM t WHERE pred = '{SUB}' AND obj = '{c}'
                        UNION SELECT t.subj FROM t JOIN r ON t.obj = r.s
                        WHERE t.pred = '{SUB}')
                      SELECT DISTINCT subj FROM t WHERE pred = '{TYPE}'
                        AND (obj = '{c}' OR obj IN (SELECT s FROM r))""")
    if template == "lookup_subject":
        s = TERM + rng.choice(ALL_WORDS)
        return Op(template, "lookup",
                  f"SELECT ?p ?o WHERE {{ <{s}> ?p ?o }}",
                  f"SELECT pred, obj FROM t WHERE subj = '{s}'")
    if template == "describe":
        s = TERM + rng.choice(ANATOMY)
        return Op(template, "lookup", f"DESCRIBE <{s}>",
                  f"SELECT DISTINCT subj, pred, obj FROM t WHERE subj = '{s}' OR obj = '{s}'")
    if template == "lookup_depicts":
        o = TERM + rng.choice(ANATOMY)
        return Op(template, "lookup",
                  f"SELECT ?m WHERE {{ ?m <{DEPICTS}> <{o}> }}",
                  f"SELECT subj FROM t WHERE pred = '{DEPICTS}' AND obj = '{o}'")
    if template == "join_states":
        tx = TERM + rng.choice(TAXA)
        return Op(template, "join",
                  f"SELECT ?st ?ph WHERE {{ <{tx}> <{EXHIBITS}> ?st . ?st <{DESCRIBES}> ?ph }}",
                  f"""SELECT a.obj, b.obj FROM t a JOIN t b ON a.obj = b.subj
                      WHERE a.subj = '{tx}' AND a.pred = '{EXHIBITS}'
                        AND b.pred = '{DESCRIBES}'""")
    if template == "count_by_pred":
        return Op(template, "aggregate",
                  "SELECT ?p (COUNT(*) AS ?n) WHERE { ?s ?p ?o } GROUP BY ?p",
                  "SELECT pred, count(*) FROM t GROUP BY pred")
    if template == "count_by_type":
        return Op(template, "aggregate",
                  f"SELECT ?o (COUNT(?s) AS ?n) WHERE {{ ?s <{TYPE}> ?o }} GROUP BY ?o",
                  f"SELECT obj, count(subj) FROM t WHERE pred = '{TYPE}' GROUP BY obj")
    if template == "delete_where":
        tx = TERM + rng.choice(TAXA)
        return Op(template, "update",
                  f"DELETE WHERE {{ <{tx}> <{EXHIBITS}> ?st }}",
                  f"""SELECT (SELECT count(*) FROM (SELECT DISTINCT * FROM t))
                           - (SELECT count(DISTINCT obj) FROM t
                              WHERE subj = '{tx}' AND pred = '{EXHIBITS}')""")
    if template == "insert_where":
        tx = TERM + rng.choice(TAXA)
        return Op(template, "update",
                  f"INSERT {{ ?st <{TYPE}> <{STATE}> }} WHERE {{ <{tx}> <{EXHIBITS}> ?st }}",
                  f"""SELECT count(*) FROM (
                        SELECT DISTINCT subj, pred, obj FROM t
                        UNION SELECT obj, '{TYPE}', '{STATE}' FROM t
                        WHERE subj = '{tx}' AND pred = '{EXHIBITS}')""")
    raise ValueError(f"unknown template {template!r}")


def schedule(seed: int, cycles: int) -> list[Op]:
    """``cycles`` repetitions of the query cycle, drawn from ``seed``."""
    rng = random.Random(seed)
    return [_op(rng.choice(TEMPLATES[kind]), rng) for _ in range(cycles) for kind in CYCLE]


def normalize(rows) -> list[tuple[str, ...]]:
    """Rows as sorted tuples of strings: the multiset both sides compare."""
    return sorted(tuple("" if v is None else str(v) for v in r) for r in rows)
