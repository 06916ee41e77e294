"""Connected components via hash-to-min label propagation (C5).

The reference collapses equivalence classes into reasoner ``Node``s
(sim/OWLsim.scala:175-198, 352-362) inside ELK; we canonicalize with
connected components over equivalence / sameAs / synonym edges: every node
converges to the minimum IRI in its component (hash-to-min), which becomes
the canonical representative — the north-star canonicalization step.

Scale notes: converges in O(log n) iterations for hash-to-min on undirected
graphs whose components are small (OBO equivalence clusters are 2-5 nodes;
diameter-bounded). Each iteration = one shuffle on node id.
``localCheckpoint`` per iteration truncates lineage.

Routing: an undirected edge set that fits one barrier partition
(``iterbarrier.fits_driver``) is collected once and the same hash-to-min
rounds with pointer doubling run in Python on the driver
(:func:`_driver_hash_to_min`). On a cold 2k-document KB build (4 cores,
local[4]) the Spark loop labelled a few dozen nodes in 1.1 s, nearly all of it
planning and scheduling ~5 jobs per round; the driver route takes 0.4 s
(BENCH.md §22). Larger edge sets keep the Spark loop; labels never
outgrow the edge set, so no mid-run hand-off is needed.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _driver_hash_to_min(pairs, max_iterations: int) -> dict:
    """The Spark loop's rounds over a symmetric ``(x, y)`` edge list:
    hook to the neighbours' minimum, then one pointer-doubling step."""
    nbrs: dict = defaultdict(list)
    for x, y in pairs:
        nbrs[x].append(y)
    labels = {n: n for n in nbrs}
    for _ in range(max_iterations):
        hooked = {
            n: min(c, min(labels[m] for m in nbrs[n])) for n, c in labels.items()
        }
        updated = {n: min(c, hooked[c]) for n, c in hooked.items()}
        stable = updated == labels
        labels = updated
        if stable:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations"
    )


def connected_components(
    edges: DataFrame, a: str = "a", b: str = "b", max_iterations: int = 50
) -> DataFrame:
    """Label every node with min(IRI) of its component.

    Returns ``(node, component)``; isolated nodes absent from ``edges`` are
    their own representatives by convention (callers coalesce).
    """
    import pandas as pd

    from phenoscape_owl_tools_spark import iterbarrier

    barrier = iterbarrier.IterationBarrier("cc")
    und = barrier(
        edges.select(F.col(a).alias("x"), F.col(b).alias("y"))
        .unionByName(edges.select(F.col(b).alias("x"), F.col(a).alias("y")))
        .where(F.col("x").isNotNull() & F.col("y").isNotNull())
        .dropDuplicates(),
        "und",
    )
    # one row over the threshold is enough to decide; a set that fits is
    # already collected
    pdf = und.limit(iterbarrier.TARGET_ROWS_PER_PARTITION + 1).toPandas()
    if iterbarrier.fits_driver(len(pdf)):
        labels = _driver_hash_to_min(zip(pdf["x"], pdf["y"]), max_iterations)
        node_type = und.schema["x"].dataType
        schema = StructType([StructField("node", node_type, True),
                             StructField("component", node_type, True)])
        out = pd.DataFrame({"node": list(labels), "component": list(labels.values())})
        return barrier.from_pandas(und.sparkSession, out, schema, "labels")
    labels = barrier(
        und.select(F.col("x").alias("node"))
        .dropDuplicates()
        .withColumn("component", F.col("node")),
        "labels",
    )

    converged = False
    for _ in range(max_iterations):
        # hook: component = min(own, neighbors' components) — one hop
        neighbor_min = (
            und.join(labels, und["y"] == labels["node"])
            .groupBy(F.col("x").alias("node2"))
            .agg(F.min("component").alias("nbr_min"))
        )
        hooked = labels.join(
            neighbor_min, labels["node"] == neighbor_min["node2"], "left"
        ).select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))
            ).alias("component"),
            F.col("component").alias("old_component"),
        )
        # pointer doubling (the hash-to-min accelerant): component :=
        # component(component). Label distance to the component min doubles
        # per round, so long-diameter components converge in O(log d)
        # instead of O(d) one-hop rounds.
        ptr = hooked.select(
            F.col("node").alias("p_node"), F.col("component").alias("p_comp")
        )
        updated = barrier(
            hooked.join(ptr, hooked["component"] == ptr["p_node"], "left").select(
                "node",
                F.least(
                    F.col("component"), F.coalesce(F.col("p_comp"), F.col("component"))
                ).alias("component"),
                "old_component",
            ),
            "labels",
        )
        stable = updated.where(F.col("component") != F.col("old_component")).isEmpty()
        labels = updated.select("node", "component")
        if stable:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} iterations"
        )
    return labels


def canonicalize_triples(triples: DataFrame, components: DataFrame) -> DataFrame:
    """Re-key (subj, pred, obj) to component representatives.

    Broadcast-joins the (small) component map on both subject and object —
    two map-side joins, no shuffle of the triple table.
    """
    comp = F.broadcast(components)
    s_map = comp.select(F.col("node").alias("s_node"), F.col("component").alias("s_comp"))
    o_map = comp.select(F.col("node").alias("o_node"), F.col("component").alias("o_comp"))
    return (
        triples.join(s_map, triples["subj"] == s_map["s_node"], "left")
        .join(o_map, triples["obj"] == o_map["o_node"], "left")
        .select(
            F.coalesce("s_comp", "subj").alias("subj"),
            F.col("pred"),
            F.coalesce("o_comp", "obj").alias("obj"),
        )
        .dropDuplicates()
    )
