"""Densest subgraph by distributed peeling (Bahmani, Kumar &
Vassilvitskii, VLDB 2012).

Charikar's greedy peels one min-degree vertex at a time (inherently
sequential); the BKV variant removes EVERY vertex whose degree is at
most 2(1+eps) times the current average density in one synchronous
round, finishing in O(log_{1+eps} n) rounds with a 2(1+eps)
approximation — the canonical "make the greedy parallel" transform and
a natural fit for the engine's superstep discipline.

Exactness: the removal test cross-multiplies to integers —

    remove v  <=>  deg(v) * V_t * 1000 <= 2 * (1000 + eps_permille) * E_t

(every factor a BIGINT; no density ratio is ever materialized as a
float), and the reported per-round density is the exact integer
micro-division 1e6*E_t div V_t.  The output is the whole peel trace
(round, n_vertices, n_edges, density_ppm) while vertices remain — the
densest iterate is the max-density row, and the trace makes the
approximation's progress inspectable.

Scale shape: each round is one alive-semi-join + one map-side-combined
degree count + 1-row aggregates cross-joined back as scalars (no
collect in the loop, no driver round-trip); lineage truncated per round
with lazy localCheckpoint, AQE off in-loop (linear fixpoint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphlite_spark.checkpoint import loop_scope


def densest_subgraph_peel(
    vertices: DataFrame,
    edges: DataFrame,
    rounds: int = 8,
    eps_permille: int = 100,
) -> DataFrame:
    """(round, n_vertices, n_edges, density_ppm) — the BKV peel trace
    over the undirected simple graph; rows emitted while vertices
    remain.  density_ppm = 1e6 * E div V (exact)."""
    thresh = 2 * (1000 + eps_permille)
    trace = []
    with loop_scope(edges.sparkSession) as scope:
        pairs = scope.leaf(
            edges.select(
                F.least("src", "dst").alias("lo"),
                F.greatest("src", "dst").alias("hi"),
            )
            .where(F.col("lo") != F.col("hi"))
            .distinct(),
            "lo",
        )
        alive = scope.own(vertices.select("id").localCheckpoint(eager=False))
        for r in range(rounds + 1):
            e_t = scope.own(
                pairs.join(alive.select(F.col("id").alias("lo")), "lo", "left_semi")
                .join(alive.select(F.col("id").alias("hi")), "hi", "left_semi")
                .localCheckpoint(eager=False)
            )
            stats = alive.agg(
                F.count(F.lit(1)).cast("long").alias("v_t")
            ).crossJoin(F.broadcast(e_t.agg(F.count(F.lit(1)).cast("long").alias("e_t"))))
            trace.append(
                stats.where(F.col("v_t") > 0).select(
                    F.lit(r).cast("long").alias("round"),
                    F.col("v_t").alias("n_vertices"),
                    F.col("e_t").alias("n_edges"),
                    (
                        (1000000 * F.col("e_t")
                         - (1000000 * F.col("e_t")) % F.col("v_t"))
                        / F.col("v_t")
                    )
                    .cast("long")
                    .alias("density_ppm"),
                )
            )
            if r == rounds:
                break
            deg = (
                e_t.select(F.col("lo").alias("id"))
                .unionAll(e_t.select(F.col("hi").alias("id")))
                .groupBy("id")
                .agg(F.count(F.lit(1)).cast("long").alias("deg"))
            )
            alive = scope.own(
                alive.join(deg, "id", "left")
                .crossJoin(F.broadcast(stats))
                .where(
                    F.coalesce("deg", F.lit(0)) * F.col("v_t") * 1000
                    > thresh * F.col("e_t")
                )
                .select("id")
                .localCheckpoint(eager=False)
            )
        out = trace[0]
        for t in trace[1:]:
            out = out.unionByName(t)
        out = out.localCheckpoint(eager=False)
        out.count()
    return out
