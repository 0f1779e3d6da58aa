"""Sampled-source, bounded-distance Brandes betweenness.

Betweenness centrality (Freeman 1977) counts, for every vertex v, the
fraction of shortest paths passing through it.  Exact computation is
one Brandes (2001) sweep PER SOURCE — O(V·E), out of the question at
web scale — so the standard estimator samples k sources (Brandes &
Pich, "Centrality Estimation in Large Networks", 2007) and, for graphs
whose interesting paths are short, truncates the sweep at a hop bound
("k-betweenness" / bounded-distance Brandes — same paper, §4).  This
module is that estimator on DataFrames:

* **forward** — level-synchronous multi-source BFS on a frame keyed
  ``(s, v)`` carrying ``(dist, sigma)`` where sigma counts shortest
  s→v paths: the frontier at depth t scatters along out-arcs, sigma
  sums per (s, v) (map-side combined), an anti-join against the
  reached set keeps first arrivals only.  ``max_depth`` rounds.
* **backward** — Brandes' dependency accumulation run level by level
  DOWN the BFS DAG (in an unweighted graph shortest-path DAG arcs only
  connect consecutive levels):
      delta(s,v) = sum over arcs v->w, dist(s,w) = dist(s,v)+1 of
                   sigma(s,v) / sigma(s,w) * (1 + delta(s,w))
  held in integer micro-units with the per-term exact BIGINT form
  ``(sigma_v * (10^6 + delta_w)) div sigma_w`` — each term is an exact
  integer, so the sum is partitioning- and engine-independent (the
  repo's determinism discipline; float ratios would be
  summation-order-dependent).  Truncation error < 1 micro per term.
* **accumulate** — betweenness(v) = Σ_s delta(s, v), v ≠ s.

Scale shape: every step is an equi-join + map-side-combined groupBy on
``(s, v)`` keys; state ≤ k·V rows, per-level work ≤ k·E — k BFS
sweeps' cost for the whole estimate, no quadratic path.  The forward
anti-join makes the loop self-referential, so each round rides
``truncate_plan`` (checkpoint.py — lineage AND stat truncation); loop
discipline matches the engine (AQE off, fixed shuffle width).

The reference ships no betweenness; this is SURVEY §2.1 #21 surplus —
a user program the Pregel API alone cannot express (the backward sweep
needs per-level ordering), built from the public Brandes math.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphlite_spark.checkpoint import loop_scope, truncate_plan

MICRO = 1_000_000


def betweenness_sampled(
    vertices: DataFrame,
    edges: DataFrame,
    sources: list[int],
    max_depth: int = 6,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, betweenness_micros) for every vertex: bounded-distance
    Brandes dependency from the sampled ``sources``, only shortest
    paths of hop-length ≤ ``max_depth`` counted.  Directed; multi-arcs
    collapse (shortest-path counting is over the simple digraph);
    self-loops ignored.  Deterministic integer micro-units."""
    if not sources or len(set(sources)) != len(sources):
        raise ValueError("sources must be non-empty and distinct")
    spark = edges.sparkSession
    src_df = spark.createDataFrame([(int(s),) for s in sources], "s long")
    with loop_scope(spark, num_partitions) as scope:
        # width: num_partitions, else the session's
        arcs = scope.own(
            edges.select("src", "dst")
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .repartition("src")
            .persist()
        )
        # ---- forward: levels[t] = (s, v, sigma) first reached at hop t
        lvl0 = truncate_plan(
            src_df.select(
                "s", F.col("s").alias("v"), F.lit(1).cast("long").alias("sigma")
            ),
            eager=True,
        )
        levels = [lvl0]
        reached = lvl0.select("s", "v")
        frontier = lvl0
        for _ in range(max_depth):
            cand = (
                frontier.join(arcs, frontier["v"] == arcs["src"])
                .groupBy("s", F.col("dst").alias("v"))
                .agg(F.sum("sigma").alias("sigma"))
            )
            nxt = truncate_plan(
                cand.join(reached, ["s", "v"], "left_anti"), eager=True
            )
            levels.append(nxt)
            reached = truncate_plan(
                reached.unionByName(nxt.select("s", "v")), eager=True
            )
            frontier = nxt
        # ---- backward: delta per level, deepest first (delta there = 0)
        deltas = []  # (s, v, delta) for t = max_depth-1 .. 1
        below = levels[max_depth].select(
            "s", "v", "sigma", F.lit(0).cast("long").alias("delta")
        )
        for t in range(max_depth - 1, 0, -1):
            ft = levels[t]
            succ = below.select(
                "s",
                F.col("v").alias("w"),
                F.col("sigma").alias("sigma_w"),
                F.col("delta").alias("delta_w"),
            )
            contrib = (
                ft.join(arcs, ft["v"] == arcs["src"])
                .join(
                    succ,
                    (ft["s"] == succ["s"]) & (arcs["dst"] == succ["w"]),
                )
                .select(
                    ft["s"],
                    ft["v"],
                    F.expr(
                        f"(sigma * ({MICRO} + delta_w)) div sigma_w"
                    ).alias("term"),
                )
                .groupBy("s", "v")
                .agg(F.sum("term").alias("dl"))
            )
            dt = truncate_plan(
                ft.join(contrib, ["s", "v"], "left").select(
                    "s",
                    "v",
                    "sigma",
                    F.coalesce("dl", F.lit(0)).cast("long").alias("delta"),
                ),
                eager=True,
            )
            deltas.append(dt)
            below = dt
        # ---- accumulate: B(v) = sum_s delta(s, v); v != s by level >= 1
        if deltas:
            alld = deltas[0]
            for d in deltas[1:]:
                alld = alld.unionByName(d)
            bsum = alld.groupBy("v").agg(
                F.sum("delta").alias("betweenness_micros")
            )
        else:
            bsum = spark.createDataFrame(
                [], "v long, betweenness_micros long"
            )
        out = truncate_plan(
            vertices.select("id")
            .join(bsum, vertices["id"] == bsum["v"], "left")
            .select(
                "id",
                F.coalesce("betweenness_micros", F.lit(0))
                .cast("long")
                .alias("betweenness_micros"),
            ),
            eager=True,
        )
    return out
