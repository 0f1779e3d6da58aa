"""BFS / single-source shortest hop-distance.

Demonstrates the user-program surface (the Spark analogue of writing a new
GraphLite vertex program against include/Vertex.h): a fourth+ algorithm on
the same Pregel contract.  Unit edge weights => hop distance; min-combine;
classic reactivation semantics:

  ss0   : the source adopts distance 0 and broadcasts 1; everyone halts.
  ss>=1 : a reactivated vertex takes m = min(inbox); if m < dist it adopts
          m and broadcasts m+1; always votes to halt.

Unreached vertices keep the sentinel ``INF`` (long max / 4 to keep +1
arithmetic overflow-free).  Converges in O(eccentricity) supersteps via
the engine's act==0 && sent==0 test; ``fixed_supersteps`` caps the run for
the SQL-oracle parity query (k-hop bounded BFS, unrolled min-plus SQL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphlite_spark.checkpoint import loop_scope
from graphlite_spark.operators.pregel import (
    PregelAlgorithm,
    PregelEngine,
    PregelResult,
    warn_if_not_converged,
)

INF = (1 << 62) - 1


class BFS(PregelAlgorithm):
    name = "bfs"
    value_type = "long"
    combine_expr = staticmethod(F.min)

    def __init__(self, source: int = 0, max_supersteps: int = 200,
                 fixed_supersteps: int | None = None):
        self.source = source
        self.max_supersteps = (
            fixed_supersteps if fixed_supersteps is not None else max_supersteps
        )

    def init_value(self) -> Column:
        return F.lit(INF)

    def update_value(self, superstep: int, aggr: dict[str, float]) -> Column:
        if superstep == 0:
            return F.when(F.col("id") == self.source, F.lit(0)).otherwise(F.col("value"))
        return F.when(
            F.col("has_msg") & (F.col("msg") < F.col("value")), F.col("msg")
        ).otherwise(F.col("value"))

    def update_send(self, superstep: int, aggr: dict[str, float]) -> Column:
        if superstep == 0:
            return F.col("id") == self.source
        return F.col("has_msg") & (F.col("msg") < F.col("value"))

    def update_halt(self, superstep: int, aggr: dict[str, float]) -> Column:
        return F.lit(True)

    def message(self, superstep: int, aggr: dict[str, float]) -> Column:
        return F.col("value") + 1


def bfs(
    vertices: DataFrame,
    edges: DataFrame,
    source: int = 0,
    num_partitions: int | None = None,
    checkpointer=None,
    run_id: str = "bfs",
    fixed_supersteps: int | None = None,
) -> PregelResult:
    algo = BFS(source=source, fixed_supersteps=fixed_supersteps)
    eng = PregelEngine(num_partitions=num_partitions, checkpointer=checkpointer,
                       run_id=run_id)
    res = eng.run(vertices, edges, algo)
    if fixed_supersteps is None:
        warn_if_not_converged(res, "bfs")
    return res


def shortest_path_counts(
    vertices: DataFrame,
    edges: DataFrame,
    source: int = 0,
    depth: int = 7,
) -> DataFrame:
    """(id, dist, sigma) — hop distance AND the number of distinct
    shortest paths from ``source`` over directed edges (σ in Brandes'
    betweenness notation — the integer-exact forward pass; the backward
    dependency pass needs rational accumulation and is out of the
    hash-exact oracle's reach).  Layered propagation: every shortest
    path to a depth-d vertex arrives through a depth-(d-1) in-neighbor,
    so σ(v) = Σ σ(u) over those — one equi-join + one map-side-combined
    sum per layer, rounds capped at ``depth`` (identical cap in the
    oracle; rounds past the eccentricity are no-ops).  Unreached
    vertices report dist = INF, σ = 0.  σ can overflow 2^63 beyond
    ~depth-90 dense graphs — at that point the count is a research
    question, not a pipeline statistic."""
    # broadcast=True: each layer joins a small frontier against the whole
    # edge set; shuffling the edges instead measured 1.2x the wall at sf0.01
    with loop_scope(edges.sparkSession, broadcast=True) as scope:
        e = scope.own(edges.select("src", "dst").persist())
        state = scope.own(vertices.select(
            "id",
            F.when(F.col("id") == source, F.lit(0)).cast("long").alias("dist"),
            F.when(F.col("id") == source, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("sigma"),
        ).localCheckpoint(eager=False))
        for d in range(1, depth + 1):
            frontier = state.where(F.col("dist") == d - 1).select(
                F.col("id").alias("src"), "sigma"
            )
            msg = (
                e.join(frontier, "src")
                .groupBy("dst")
                .agg(F.sum("sigma").alias("s"))
                .select(F.col("dst").alias("mid"), "s")
            )
            state = scope.own(
                state.join(msg, state["id"] == msg["mid"], "left")
                .select(
                    "id",
                    F.when(F.col("dist").isNotNull(), F.col("dist"))
                    .when(F.col("mid").isNotNull(), F.lit(d))
                    .cast("long")
                    .alias("dist"),
                    F.when(F.col("dist").isNotNull(), F.col("sigma"))
                    .when(F.col("mid").isNotNull(), F.col("s"))
                    .otherwise(F.lit(0))
                    .cast("long")
                    .alias("sigma"),
                )
                .localCheckpoint(eager=False)
            )
        state.count()
        scope.keep(state)
    return state.select(
        "id",
        F.coalesce("dist", F.lit(INF)).cast("long").alias("dist"),
        "sigma",
    )


def stress_from_source(
    vertices: DataFrame,
    edges: DataFrame,
    source: int = 0,
    depth: int = 7,
) -> DataFrame:
    """(id, dist, sigma, n_paths_through) — single-source STRESS
    centrality within the depth-d horizon: the number of shortest paths
    from ``source`` that pass THROUGH each vertex (Shimbel 1953; the
    integer cousin of betweenness — betweenness normalizes by σ_st and
    needs rational accumulation, stress counts paths and stays
    BIGINT-exact, so the oracle is hash-exact).

    Forward pass = :func:`shortest_path_counts` (σ).  Backward pass over
    the shortest-path DAG in reverse layers: g(v) = Σ over DAG edges
    v→w (dist w = dist v + 1) of (1 + g(w)) — the number of shortest
    continuations from v; then paths through v = σ(v) · g(v) (0 for the
    horizon layer and the source's own terminal count excluded by
    construction).  Both passes are ``depth`` capped, identically in the
    oracle — results count paths within the d-ball, stated in the
    column name's contract.  Per layer: one equi-join + one map-side
    combined sum; multi-edges count as distinct continuations on both
    sides, consistent with σ."""
    fwd = shortest_path_counts(vertices, edges, source, depth)
    # broadcast=True: the shortest_path_counts frontier rule, reversed
    with loop_scope(edges.sparkSession, broadcast=True) as scope:
        scope.own(fwd)  # the frame the forward loop kept
        e = scope.own(edges.select("src", "dst").persist())
        state = scope.own(
            fwd.withColumn("g", F.lit(0).cast("long")).localCheckpoint(
                eager=False
            )
        )
        for d in range(depth - 1, -1, -1):
            nxt = state.where(F.col("dist") == d + 1).select(
                F.col("id").alias("dst"), F.col("g").alias("gw")
            )
            contrib = (
                e.join(nxt, "dst")
                .groupBy("src")
                .agg(F.sum(F.lit(1) + F.col("gw")).alias("gs"))
                .select(F.col("src").alias("cid"), "gs")
            )
            state = scope.own(
                state.join(contrib, state["id"] == contrib["cid"], "left")
                .select(
                    "id",
                    "dist",
                    "sigma",
                    F.when(
                        F.col("dist") == d,
                        F.coalesce("gs", F.lit(0)),
                    )
                    .otherwise(F.col("g"))
                    .cast("long")
                    .alias("g"),
                )
                .localCheckpoint(eager=False)
            )
        state.count()
        scope.keep(state)
    return state.select(
        "id",
        "dist",
        "sigma",
        # endpoints are not interior: the source's σ·g would count every
        # path leaving it, so it reports 0 (standard stress convention)
        F.when(F.col("id") == source, F.lit(0))
        .otherwise(F.col("sigma") * F.col("g"))
        .cast("long")
        .alias("n_paths_through"),
    )
