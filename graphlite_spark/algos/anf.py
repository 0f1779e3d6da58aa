"""Approximate neighborhood function (ANF) via KMV sketches.

The neighborhood function N(h) = Σ_v |B(v, h)| (pairs within distance h)
is how web-scale graph work measures distance distributions and the
effective diameter (HyperANF — Boldi, Rosa & Vigna, WWW 2011 — runs it
on billions of edges with HyperLogLog counters).  HLL is not
reproducible across engines, so this implementation swaps in the repo's
deterministic md5 K-Minimum-Values sketch (operators/sketches.py): the
estimate itself is integer arithmetic and hash-exact against the DuckDB
oracle, and below k distinct reachable vertices the sketch IS exact.

Per iteration each vertex's sketch becomes the k smallest distinct
hashes of its own ∪ its neighbors' sketches — set union is the whole
trick: B(v, h) = {v} ∪ ⋃_{w∈N(v)} B(w, h-1), and KMV sketches union by
merging hash sets.  State is kept VERTICAL — (id, hash) rows, ≤ k per
vertex — so the merge is one equi-join + one distinct + one per-vertex
window (``partitionBy(id)``: row_number ≤ k compiles to
WindowGroupLimit — partial top-k before the exchange), never an
array-typed accumulator that resists map-side combining.  Sketch state:
k longs per vertex, the invariant that lets a 10^12-vertex run hold
N(h) in bounded memory.

Loop discipline matches the engine: AQE off, lazy localCheckpoint per
iteration, one action per iteration (the N(h) aggregate doubles as the
barrier).  The undirected closure is used (effective diameter of the
conversation/link graph); pass directed edges for out-reachability
balls instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphlite_spark.algos.components import symmetrize
from graphlite_spark.checkpoint import loop_scope
from graphlite_spark.functions.hashes import hash48
from graphlite_spark.operators.sketches import HASH_SPACE


def neighborhood_function(
    vertices: DataFrame,
    edges: DataFrame,
    max_h: int = 8,
    k: int = 8,
    already_undirected: bool = False,
) -> DataFrame:
    """(h, est_pairs) for h = 0..max_h — est_pairs = Σ_v KMV-estimated
    |B(v, h)| over the undirected closure.  Deterministic: the per-vertex
    sketch is the k smallest md5 hashes of the ball, the estimate is
    ``(k-1)·2^48 div h_k`` (exact count below k), and the oracle unrolls
    the identical iterations."""
    spark = edges.sparkSession
    mult = (k - 1) * HASH_SPACE
    est_expr = (
        F.when(F.col("n") < k, F.col("n"))
        .otherwise(F.expr(f"{mult} div hk"))
        .cast("long")
    )

    def n_of_h(s: DataFrame) -> int:
        per_v = s.groupBy("id").agg(
            F.count(F.lit(1)).alias("n"), F.max("hv").alias("hk")
        )
        total = per_v.select(F.sum(est_expr).alias("s")).collect()[0]["s"]
        return total if total is not None else 0  # empty vertex set

    w = Window.partitionBy("id").orderBy("hv")
    # the sorted src leaf: the scatter join and the sketch window replan
    # onto ONE exchange per iteration — the state leaf rides hash(id) =
    # hash(src-alias) sorted out of the previous window, so the SMJ needs
    # neither exchange nor sort
    with loop_scope(spark) as scope:
        und = scope.leaf(
            (edges if already_undirected else symmetrize(edges))
            .select("src", "dst"),
            "src",
        )
        state = scope.own(vertices.select(
            "id",
            hash48(F.concat(F.lit("nf:"), F.col("id").cast("string")))
            .alias("hv"),
        ).localCheckpoint(eager=True))
        rows = [(0, int(n_of_h(state)))]
        for h in range(1, max_h + 1):
            merged = (
                und.join(
                    state.select(F.col("id").alias("src"), "hv"), "src"
                )
                .select(F.col("dst").alias("id"), "hv")
                .unionByName(state)
            )
            # distinct + top-k in ONE id-partitioned window pass: rows
            # tie-sorted by hv, a row equal to its predecessor is a
            # duplicate hash (same set as .distinct()), and row_number
            # over the surviving rows is the KMV rank.  The second
            # window reuses the first one's partitioning and sort.
            dedup = merged.withColumn("_p", F.lag("hv").over(w)).where(
                F.col("_p").isNull() | (F.col("_p") != F.col("hv"))
            )
            state = scope.own(
                dedup.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= k)
                .select("id", "hv")
                .localCheckpoint(eager=True)
            )
            rows.append((h, int(n_of_h(state))))
    return spark.createDataFrame(
        [(int(h), int(n)) for h, n in rows], "h bigint, est_pairs bigint"
    )


def effective_diameter(
    vertices: DataFrame,
    edges: DataFrame,
    max_h: int = 8,
    k: int = 8,
    permille: int = 900,
) -> DataFrame:
    """One row (eff_diameter, nf_max) — the smallest h within the
    measured horizon where the neighborhood function reaches
    ``permille``/1000 of NF(max_h) (the classic 90%-effective-diameter
    readout of ANF / HyperANF, Palmer et al. 2002, public literature).

    NF is monotone nondecreasing in h, so the row always exists
    (h = max_h qualifies trivially).  Integer comparison
    ``est·1000 >= permille·nf_max`` keeps the threshold exact — no float
    enters at all.  Cost: the neighborhood_function run itself; this
    readout adds one broadcast of the (max_h+1)-row NF table."""
    nf = neighborhood_function(vertices, edges, max_h=max_h, k=k)
    mx = nf.where(F.col("h") == max_h).select(
        F.col("est_pairs").alias("nf_max")
    )
    return (
        nf.crossJoin(F.broadcast(mx))
        .where(F.col("est_pairs") * 1000 >= permille * F.col("nf_max"))
        .agg(
            F.min("h").cast("long").alias("eff_diameter"),
            F.max("nf_max").cast("long").alias("nf_max"),
        )
    )
