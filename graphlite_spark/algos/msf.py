"""Minimum spanning forest via Borůvka rounds (Borůvka 1926; the
canonical Pregel-style MSF — Malewicz et al. mention it as the classic
beyond-PageRank example; public literature).

Each round every component selects its minimum outgoing edge under the
TOTAL order (w, lo, hi) — totality makes the chosen forest unique even
with duplicate weights, so both engines derive the identical MSF — the
chosen edges join the forest, and components contract by running the
pointer-doubling CC over the forest built so far.  Components at least
halve every round: O(log V) rounds, like every fixpoint in this repo.

Weights: integer micro-units.  When the edge table has no weight column
the entry query synthesizes deterministic ``1 + hash48(lo:hi) % 10^6``
weights (mirrored in SQL) so the MSF is non-trivial on the unweighted
transcript graph.

Scale shape per round: one comp-label equi-join onto the edge table
(edges keep their cached layout, only the vertex-sized label frame
shuffles), one map-side-combined min-of-struct per component, and one
CC fixpoint over the (tiny) accumulated forest.  No sorting of the full
edge set ever happens — Borůvka is the MSF algorithm that avoids
Kruskal's global sort, which is exactly why it is the one that scales.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphlite_spark.algos.components import connected_components_fast
from graphlite_spark.checkpoint import loop_scope


def boruvka_msf(
    vertices: DataFrame,
    edges: DataFrame,
    weight_col: str = "w",
    max_rounds: int = 10,
) -> DataFrame:
    """(lo, hi, w) — the minimum spanning forest of the undirected graph
    given by ``edges (src, dst, weight_col)``; self-loops dropped,
    parallel edges collapse to their minimum weight, (w, lo, hi) is the
    total order.  Unique given the total order, so hash-exact."""
    und = (
        edges.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .where(F.col("lo") != F.col("hi"))
        .groupBy("lo", "hi")
        .agg(F.min("w").alias("w"))
    )
    spark = edges.sparkSession
    comp = vertices.select("id", F.col("id").alias("comp"))
    forest = spark.createDataFrame([], "lo long, hi long, w long")
    converged = False
    # the loop's own rounds; the caller's vertices are never released
    chosen = staged_comp = staged_forest = None
    with loop_scope(spark) as scope:
        # static side of the per-round label joins: partition + pre-sort
        # by the first join key so the round's SMJ re-sorts only the hi leg
        staged, _ = scope.stage(und, truncate=True)
        und = scope.leaf(staged, "lo")
        scope.release(staged)
        for _ in range(max_rounds):
            cl = comp.select(
                F.col("id").alias("lo"), F.col("comp").alias("c1")
            )
            ch = comp.select(
                F.col("id").alias("hi"), F.col("comp").alias("c2")
            )
            ec = (
                und.join(cl, "lo")
                .join(ch, "hi")
                .where(F.col("c1") != F.col("c2"))
            )
            # each endpoint component nominates its min cross edge under
            # the (w, lo, hi) total order; (lo, hi) is unique per edge,
            # so appending the component pair to the struct can never
            # change which edge wins — it just rides along so the
            # CONTRACTED edge (c1, c2) is known without a re-join
            cand = ec.select(
                F.col("c1").alias("comp"), "w", "lo", "hi", "c1", "c2"
            ).unionByName(
                ec.select(
                    F.col("c2").alias("comp"), "w", "lo", "hi", "c1", "c2"
                )
            )
            chosen, row = scope.stage(
                cand.groupBy("comp")
                .agg(F.min(F.struct("w", "lo", "hi", "c1", "c2")).alias("m"))
                .select("m.lo", "m.hi", "m.w", "m.c1", "m.c2")
                .distinct(),
                truncate=True,
                prev=chosen,
            )
            # the convergence probe rides the materialization: no chosen
            # edge ⟺ no cross-component edge remains (every component
            # with a cross edge nominates one)
            if not row["n"]:
                converged = True
                break
            # chosen edges never repeat across rounds (they always join
            # two DIFFERENT components, while every prior forest edge is
            # intra-component by construction) — plain append, no distinct
            forest = staged_forest = scope.stage(
                forest.unionByName(chosen.select("lo", "hi", "w")),
                truncate=True,
                prev=staged_forest,
            )[0]
            # Borůvka contraction: merge classes along the CONTRACTED
            # chosen edges (component ids, a table that at least halves
            # every round) instead of re-running CC over the whole
            # accumulated forest from scratch.  Old labels are the min
            # vertex id of their class, so the contracted CC label (min
            # old label in the merged class) IS the merged class's min
            # vertex id — identical labels to the from-scratch run.
            cv = (
                chosen.select(F.col("c1").alias("id"))
                .unionByName(chosen.select(F.col("c2").alias("id")))
                .distinct()
            )
            mapping = scope.own(connected_components_fast(
                cv,
                chosen.select(
                    F.col("c1").alias("src"), F.col("c2").alias("dst")
                ),
                max_rounds=64,
            ))
            comp = staged_comp = scope.stage(
                comp.join(
                    mapping.withColumnRenamed("id", "mid"),
                    comp["comp"] == F.col("mid"),
                    "left",
                ).select(
                    "id",
                    F.coalesce("component", F.col("comp")).alias("comp"),
                ),
                truncate=True,
                prev=staged_comp,
            )[0]
            scope.release(mapping)
        scope.keep(forest)
        if not converged:
            # Same loud-PARTIAL convention as scc / connected_components
            # (round-4 advisor): Borůvka needs up to log2(V) rounds — if
            # the cap binds, cross-component edges remain and the forest
            # does NOT span.  single_linkage_clusters inherits the
            # truncation (it would over-fragment), so the warning must be
            # loud, not fatal.
            cl = comp.select(
                F.col("id").alias("lo"), F.col("comp").alias("c1")
            )
            ch = comp.select(
                F.col("id").alias("hi"), F.col("comp").alias("c2")
            )
            remaining = (
                und.join(cl, "lo").join(ch, "hi")
                .where(F.col("c1") != F.col("c2"))
                .limit(1)
                .count()
            )
            if remaining:
                import warnings

                warnings.warn(
                    f"boruvka_msf: hit max_rounds ({max_rounds}) with "
                    "cross-component edges remaining — the forest is "
                    "PARTIAL (non-spanning); raise max_rounds (log2(V) "
                    "bounds the rounds needed) for an exact MSF",
                    RuntimeWarning,
                    stacklevel=2,
                )
    return forest.select("lo", "hi", "w")


def single_linkage_clusters(
    vertices: DataFrame,
    edges: DataFrame,
    k: int = 8,
    weight_col: str = "w",
    max_rounds: int = 10,
) -> DataFrame:
    """(id, cluster) — exact single-linkage agglomerative clustering into
    (up to) ``k`` clusters per connected component's share: compute the
    Borůvka MSF, remove the k−1 globally heaviest forest edges under the
    (w, lo, hi) total order (ties deterministic), and label the remaining
    forest's components.  The textbook MSF↔single-linkage equivalence
    (Gower & Ross 1969, public literature) — the distance-based
    clustering whose result is EXACT, with no seeding or iteration count
    to tune.

    Cluster ids are the min vertex id of each cluster (the CC label
    convention).  If the graph already has ≥ k components, nothing is
    cut beyond the forest's own gaps.  Scale: the cut is a forest-sized
    TakeOrdered (V−1 rows at most), then one CC fixpoint."""
    msf = boruvka_msf(vertices, edges, weight_col=weight_col,
                      max_rounds=max_rounds)
    heavy = (
        msf.orderBy(F.desc("w"), F.desc("lo"), F.desc("hi"))
        .limit(max(0, k - 1))
        .select("lo", "hi")
    )
    kept = msf.join(heavy, ["lo", "hi"], "left_anti")
    labels = connected_components_fast(
        vertices,
        kept.select(F.col("lo").alias("src"), F.col("hi").alias("dst")),
        max_rounds=64,
    )
    return labels.select("id", F.col("component").alias("cluster"))
