"""Influence cascades (Kempe-Kleinberg-Tardos, KDD 2003): Linear
Threshold and Independent Cascade, both deterministic.

LT variant over the undirected transcript graph: vertex v
holds a hash-derived threshold theta(v) in (0, 1]; an inactive vertex
activates in round r when the fraction of its already-active neighbors
reaches theta — with uniform edge influence 1/deg(v), the classic LT
activation rule.  Seeds (a hash-selected ~1/8 of vertices) activate at
round 0.  The process is monotone, so "round first activated" is
well-defined and the whole run is exact in integers:

    activate  <=>  active_nbrs * 1_000_000 >= theta_micros * deg

(theta_micros = 1 + hash48('lt:' || id) % 1_000_000, both products
bounded far under 2^63).

Scale shape: frontier-incremental — each round joins only the NEWLY
activated frontier to the edge table and adds the per-dst counts into an
accumulator, so every edge is processed at most once across the whole
run (the cumulative-recount formulation re-scans all active vertices
every round and is O(rounds * E)).  One equi-join + one map-side
combined count per round; lineage truncated per round via lazy
localCheckpoint, AQE off inside the loop (engine discipline for
iterative plans).  Rounds are capped (default 6) so the DuckDB oracle
unrolls the identical recurrence.

Reference parity: a vertex-program shape the reference could express
(include/Vertex.h compute + vote-to-halt) — here as the dataframe loop
because the accumulator join is a linear (non-self-joining) fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphlite_spark.algos.components import symmetrize
from graphlite_spark.checkpoint import loop_scope
from graphlite_spark.functions.hashes import hash48

SEED_MOD = 8  # hash48('ltseed:'||id) % SEED_MOD == 0 -> seed


def lt_cascade(
    vertices: DataFrame,
    edges: DataFrame,
    rounds: int = 6,
    seed_mod: int = SEED_MOD,
) -> DataFrame:
    """(id, theta_micros, deg, active_round) — active_round is the LT
    activation round (0 = seed), -1 if still inactive after ``rounds``."""
    with loop_scope(edges.sparkSession) as scope:
        und = scope.own(symmetrize(edges).select("src", "dst").persist())
        deg = und.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("deg")
        )
        state = (
            vertices.select("id")
            .join(deg, "id", "left")
            .select(
                "id",
                (
                    1
                    + hash48(F.concat(F.lit("lt:"), F.col("id").cast("string")))
                    % 1000000
                )
                .cast("long")
                .alias("theta"),
                F.coalesce("deg", F.lit(0)).cast("long").alias("deg"),
                F.when(
                    hash48(F.concat(F.lit("ltseed:"), F.col("id").cast("string")))
                    % seed_mod
                    == 0,
                    F.lit(0),
                )
                .cast("long")
                .alias("rnd"),
                F.lit(0).cast("long").alias("acc"),
            )
            .localCheckpoint(eager=False)
        )
        for r in range(1, rounds + 1):
            frontier = state.where(F.col("rnd") == r - 1).select(
                F.col("id").alias("src")
            )
            inc = (
                und.join(frontier, "src")
                .groupBy(F.col("dst").alias("mid"))
                .agg(F.count(F.lit(1)).alias("c"))
            )
            state = (
                state.join(inc, state["id"] == inc["mid"], "left")
                .select(
                    "id",
                    "theta",
                    "deg",
                    F.when(F.col("rnd").isNotNull(), F.col("rnd"))
                    .when(
                        (F.col("deg") > 0)
                        & (
                            (F.col("acc") + F.coalesce("c", F.lit(0)))
                            * 1000000
                            >= F.col("theta") * F.col("deg")
                        ),
                        F.lit(r),
                    )
                    .cast("long")
                    .alias("rnd"),
                    (F.col("acc") + F.coalesce("c", F.lit(0)))
                    .cast("long")
                    .alias("acc"),
                )
                .localCheckpoint(eager=False)
            )
        state.count()
    return state.select(
        "id",
        F.col("theta").alias("theta_micros"),
        "deg",
        F.coalesce("rnd", F.lit(-1)).cast("long").alias("active_round"),
    )


def ic_cascade(
    vertices: DataFrame,
    edges: DataFrame,
    rounds: int = 6,
    p_micros: int = 300000,
    seed_mod: int = SEED_MOD,
) -> DataFrame:
    """(id, active_round) — Independent Cascade (the other KKT model),
    deterministic live-edge form: arc (u, v) is "live" iff
    hash48('ic' <SEP> u <SEP> v) % 1e6 < ``p_micros`` (the percolation
    view of IC — each arc flips one biased coin, here a hash), and the
    cascade is multi-source BFS from the hash-selected seeds over live
    arcs only; active_round = hop distance from the nearest seed, -1 if
    unreached within ``rounds``.  Directed (IC's natural form), exact.

    Scale shape: the live filter is a pure per-row hash predicate pushed
    into the edge scan (no precomputed coin table); each frontier round
    is one equi-join + distinct — an arc is joined at most once over the
    run because its src is in the frontier exactly once."""
    from graphlite_spark.functions.hashes import SEP

    with loop_scope(edges.sparkSession) as scope:
        live = scope.own(
            edges.select("src", "dst")
            .where(
                hash48(
                    F.concat_ws(
                        SEP,
                        F.lit("ic"),
                        F.col("src").cast("string"),
                        F.col("dst").cast("string"),
                    )
                )
                % 1000000
                < p_micros
            )
            .distinct()
            .persist()
        )
        state = (
            vertices.select(
                "id",
                F.when(
                    hash48(F.concat_ws(SEP, F.lit("icseed"), F.col("id").cast("string")))
                    % seed_mod
                    == 0,
                    F.lit(0),
                )
                .cast("long")
                .alias("rnd"),
            )
            .localCheckpoint(eager=False)
        )
        for r in range(1, rounds + 1):
            frontier = state.where(F.col("rnd") == r - 1).select(
                F.col("id").alias("src")
            )
            reached = (
                live.join(frontier, "src")
                .select(F.col("dst").alias("mid"))
                .distinct()
            )
            state = (
                state.join(reached, state["id"] == reached["mid"], "left")
                .select(
                    "id",
                    F.when(F.col("rnd").isNotNull(), F.col("rnd"))
                    .when(F.col("mid").isNotNull(), F.lit(r))
                    .cast("long")
                    .alias("rnd"),
                )
                .localCheckpoint(eager=False)
            )
        state.count()
    return state.select(
        "id", F.coalesce("rnd", F.lit(-1)).cast("long").alias("active_round")
    )
