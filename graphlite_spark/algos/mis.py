"""Maximal independent set and greedy graph coloring — join-composed.

Symmetry breaking on a big graph needs a priority per vertex that every
engine computes identically: ``hash48("mis:" || id)`` with the id itself
as tie-break gives a deterministic total order, so Luby's algorithm
(Luby 1986) and Jones–Plassmann coloring (Jones & Plassmann 1993) both
become *reproducible* parallel algorithms — the SQL oracle unrolls the
identical rounds and the outputs are hash-exact.

* :func:`maximal_independent_set` — per round, an undecided vertex joins
  the MIS when it is the priority minimum of its undecided closed
  neighborhood; its undecided neighbors drop out.  Every round the global
  minimum is always selected, so progress is guaranteed; with random
  (hash) priorities rounds scale with the longest decreasing priority
  path, O(log V) in expectation.
* :func:`greedy_coloring` — per round, an uncolored vertex colors itself
  when no uncolored neighbor outranks it, taking the smallest color
  absent from its already-colored neighborhood (a 63-bit mask + a
  lowest-zero-bit ladder — pure integer arithmetic on both engines).
  Uses at most maxdegree+1 colors.

Scale shape per round (both): one equi-join of the undirected edge set
against vertex state + one map-side-combined groupBy (bool_or / bit_or —
commutative, so a hub's reducer sees at most P partial rows), then a
vertex-sized left join.  Loop discipline matches k_core: AQE off, one
eager checkpoint per round with the remaining count observed on it —
one job per round.  Both sides
run the identical ``max_rounds`` cap, so equality holds even if the cap
binds (undecided/uncolored vertices report -1 on BOTH engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphlite_spark.checkpoint import loop_scope

from graphlite_spark.algos.components import symmetrize
from graphlite_spark.functions.hashes import hash48

#: colors are tracked in a 63-bit mask (bit c = color c in use); the
#: ladder below returns the lowest unset bit.  Chromatic numbers beyond
#: 62 would need a mask per 63-color block — out of scope (a graph needs
#: max degree >= 62 to get there with a greedy coloring).
MAX_COLORS = 62


def lowest_missing_color_sql(mask_expr: str) -> str:
    """SQL CASE ladder: smallest c in [0, MAX_COLORS] with bit c unset.

    Shared verbatim by the Spark side (``F.expr``) and the DuckDB oracle
    — one string, zero drift.  Works in both dialects: only ``&`` and
    integer literals.
    """
    whens = " ".join(
        f"WHEN ({mask_expr} & {1 << b}) = 0 THEN {b}"
        for b in range(MAX_COLORS + 1)
    )
    return f"CASE {whens} ELSE -1 END"


def _priority(id_col: str = "id") -> F.Column:
    return hash48(F.concat(F.lit("mis:"), F.col(id_col).cast("string")))


def maximal_independent_set(
    vertices: DataFrame,
    edges: DataFrame,
    max_rounds: int = 32,
) -> DataFrame:
    """(id, status) — 1 = in the MIS, 0 = dominated by an MIS neighbor,
    -1 = undecided when ``max_rounds`` bound (the oracle unrolls the same
    cap).  Independence and maximality hold over the undirected,
    self-loop-free closure of ``edges``."""
    with loop_scope(edges.sparkSession) as scope:
        und = scope.leaf(symmetrize(edges).select("src", "dst"), "src")
        # the undecided count rides each round's checkpoint job
        undecided = F.sum((F.col("st") == -1).cast("long"))
        state, row = scope.stage(vertices.select(
            "id", _priority().alias("h"), F.lit(-1).cast("int").alias("st")
        ), truncate=True, remaining=undecided)
        for _ in range(max_rounds):
            if not row["remaining"]:
                break
            undec = state.where(F.col("st") == -1).select("id", "h")
            # per undecided vertex: does any undecided neighbor outrank it
            # (smaller (h, id))?  bool_or is commutative+associative, so
            # the groupBy partial-aggregates map-side before the shuffle.
            nbr = (
                und.join(
                    undec.select(
                        F.col("id").alias("src"), F.col("h").alias("sh")
                    ),
                    "src",
                )
                .join(
                    undec.select(
                        F.col("id").alias("dst"), F.col("h").alias("dh")
                    ),
                    "dst",
                )
            )
            smaller = nbr.groupBy("dst").agg(
                F.max(
                    (F.col("sh") < F.col("dh"))
                    | ((F.col("sh") == F.col("dh")) & (F.col("src") < F.col("dst")))
                ).alias("has_smaller")
            )
            sel = (
                undec.join(smaller, undec["id"] == smaller["dst"], "left")
                .where(~F.coalesce("has_smaller", F.lit(False)))
                .select("id")
            )
            dominated = (
                und.join(sel.select(F.col("id").alias("src")), "src", "left_semi")
                .select(F.col("dst").alias("id"))
                .distinct()
            )
            s = sel.select(F.col("id").alias("sid"))
            d = dominated.select(F.col("id").alias("did"))
            # truncate=True, not bare localCheckpoint: the round joins
            # `state` against two frames derived from it, which multiplies
            # the inherited sizeInBytes stats each round (see
            # checkpoint.truncate_plan)
            state, row = scope.stage(
                state.join(s, state["id"] == s["sid"], "left")
                .join(d, state["id"] == d["did"], "left")
                .select(
                    "id",
                    "h",
                    F.when(F.col("st") != -1, F.col("st"))
                    .when(F.col("sid").isNotNull(), F.lit(1))
                    .when(F.col("did").isNotNull(), F.lit(0))
                    .otherwise(F.lit(-1))
                    .cast("int")
                    .alias("st"),
                ),
                truncate=True,
                prev=state,
                remaining=undecided,
            )
        scope.keep(state)
    return state.select("id", F.col("st").cast("long").alias("status"))


def greedy_coloring(
    vertices: DataFrame,
    edges: DataFrame,
    max_rounds: int = 32,
) -> DataFrame:
    """(id, color) — Jones–Plassmann greedy coloring; colors in
    [0, maxdegree] form a proper coloring of the undirected closure, -1 =
    uncolored when ``max_rounds`` bound (same cap in the oracle)."""
    pick = F.expr(lowest_missing_color_sql("coalesce(mask, 0)"))
    with loop_scope(edges.sparkSession) as scope:
        und = scope.leaf(symmetrize(edges).select("src", "dst"), "src")
        uncolored = F.sum((F.col("color") == -1).cast("long"))
        state, row = scope.stage(vertices.select(
            "id", _priority().alias("h"), F.lit(-1).cast("int").alias("color")
        ), truncate=True, remaining=uncolored)
        for _ in range(max_rounds):
            if not row["remaining"]:
                break
            # one pass over the edge set: per vertex, (a) does any
            # UNCOLORED neighbor outrank it, (b) the bitmask of COLORED
            # neighbor colors.  Both aggregates are commutative — one
            # map-side-combined groupBy.
            nbr = und.join(
                state.select(
                    F.col("id").alias("src"),
                    F.col("h").alias("sh"),
                    F.col("color").alias("scol"),
                ),
                "src",
            ).join(
                state.select(F.col("id").alias("dst"), F.col("h").alias("dh")),
                "dst",
            )
            agg = nbr.groupBy("dst").agg(
                F.max(
                    (F.col("scol") == -1)
                    & (
                        (F.col("sh") > F.col("dh"))
                        | ((F.col("sh") == F.col("dh")) & (F.col("src") > F.col("dst")))
                    )
                ).alias("has_higher"),
                # shiftleft by a COLUMN needs the SQL form (the python
                # wrapper only takes an int literal for numBits)
                F.bit_or(
                    F.when(
                        F.col("scol") >= 0,
                        F.expr("shiftleft(CAST(1 AS BIGINT), scol)"),
                    )
                ).alias("mask"),
            )
            a = agg.select(
                F.col("dst").alias("aid"), "has_higher", "mask"
            )
            # truncate=True for the same stats-squaring reason as the MIS
            # loop above (state appears on both sides of the nbr join)
            state, row = scope.stage(
                state.join(a, state["id"] == a["aid"], "left")
                .select(
                    "id",
                    "h",
                    F.when(F.col("color") >= 0, F.col("color"))
                    .when(
                        ~F.coalesce("has_higher", F.lit(False)), pick
                    )
                    .otherwise(F.lit(-1))
                    .cast("int")
                    .alias("color"),
                ),
                truncate=True,
                prev=state,
                remaining=uncolored,
            )
        scope.keep(state)
    return state.select("id", F.col("color").cast("long").alias("color"))
