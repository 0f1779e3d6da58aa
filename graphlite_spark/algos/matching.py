"""Greedy maximal matching — join-composed, deterministic.

The symmetric pairing primitive next to MIS/coloring (reference has only
the vertex programs of Pregel.h:113-236; this is the same superstep shape
applied to EDGE symmetry breaking): per round, a live edge {u, v} joins
the matching when its priority ``(hash48('match:' || u || ':' || v), u,
v)`` is the strict minimum among ALL live edges incident to u or to v
(Israeli–Itai style locally-minimum-edge matching).  Matched endpoints
leave; incident edges drop; repeat.  Every round the globally minimum
live edge is always selected, so progress is guaranteed; with hash
priorities the expected round count is O(log E).  Used in practice as
the coarsening step of multilevel graph partitioners — pairs of matched
vertices collapse into supervertices.

Determinism: priorities are pure md5 — the DuckDB oracle unrolls the
identical rounds and the (id, mate) output is hash-exact.  Both sides
run the identical ``max_rounds`` cap, so equality holds even if the cap
binds (still-unmatched vertices report mate = -1 on BOTH engines).

Scale shape per round: one explode of the live edge set into its two
endpoint incidences + one map-side-combined groupBy (min of a
(h, u, v) struct — commutative, a hub's reducer sees at most P partial
rows), two equi-joins back to the live edges, two anti-joins to drop
matched endpoints.  Loop discipline matches mis.py: AQE off, lazy
``localCheckpoint`` per round, one count action per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphlite_spark.algos.components import symmetrize
from graphlite_spark.checkpoint import loop_scope
from graphlite_spark.functions.hashes import hash48


def _edge_priority() -> F.Column:
    return hash48(
        F.concat(
            F.lit("match:"),
            F.col("u").cast("string"),
            F.lit(":"),
            F.col("v").cast("string"),
        )
    )


def maximal_matching(
    vertices: DataFrame,
    edges: DataFrame,
    max_rounds: int = 16,
) -> DataFrame:
    """(id, mate) — mate = the matched partner's id, -1 while unmatched
    (isolated vertices always -1).  Matching is over the undirected,
    self-loop-free closure of ``edges``; maximal once the live edge set
    drains (guaranteed in ≤ E rounds, expected O(log E); if
    ``max_rounds`` binds first the oracle binds identically)."""
    # broadcast=True: the live edge set and the per-round minima are
    # joined against small frames every round; shuffling them instead
    # measured 1.4x the wall at sf0.01
    with loop_scope(edges.sparkSession, broadcast=True) as scope:
        # the staged count sizes the width; coalesced to it, the live set
        # keeps few partitions through the broadcast joins below
        live = scope.stage(
            symmetrize(edges)
            .where(F.col("src") < F.col("dst"))
            .select(F.col("src").alias("u"), F.col("dst").alias("v"))
            .withColumn("h", _edge_priority())
        ).coalesce(scope.num_partitions)
        matched = None  # accumulated (id, mate) rows
        remaining = scope.rows
        for _ in range(max_rounds):
            if remaining == 0:
                break
            k = F.struct("h", "u", "v").alias("k")
            ends = live.select(F.col("u").alias("vid"), k).unionByName(
                live.select(F.col("v").alias("vid"), k)
            )
            vmin = ends.groupBy("vid").agg(F.min("k").alias("mn"))
            # an edge is selected iff it is the minimum at BOTH endpoints
            # == the minimum over all live edges sharing an endpoint
            sel = (
                live.join(
                    vmin.select(F.col("vid").alias("u"), F.col("mn").alias("mu")),
                    "u",
                )
                .join(
                    vmin.select(F.col("vid").alias("v"), F.col("mn").alias("mv")),
                    "v",
                )
                .where(
                    (F.struct("h", "u", "v") == F.col("mu"))
                    & (F.struct("h", "u", "v") == F.col("mv"))
                )
                .select("u", "v")
            )
            pairs = sel.select(
                F.col("u").alias("id"), F.col("v").alias("mate")
            ).unionByName(sel.select(F.col("v").alias("id"), F.col("u").alias("mate")))
            matched = pairs if matched is None else matched.unionByName(pairs)
            # live edges only ever reference so-far-unmatched vertices, so
            # dropping THIS round's matched endpoints keeps the invariant
            mids = pairs.select("id")
            live = (
                live.join(mids.select(F.col("id").alias("u")), "u", "left_anti")
                .join(mids.select(F.col("id").alias("v")), "v", "left_anti")
                .localCheckpoint(eager=False)
            )
            matched = matched.localCheckpoint(eager=False)
            remaining = live.count()
        if matched is not None:
            # materialize before the scope frees the staged live set
            matched = matched.localCheckpoint(eager=True)
    out = vertices.select("id")
    if matched is None:
        return out.select("id", F.lit(-1).cast("long").alias("mate"))
    return (
        out.join(matched, "id", "left")
        .select("id", F.coalesce(F.col("mate"), F.lit(-1)).cast("long").alias("mate"))
    )


def vertex_cover_2approx(
    vertices: DataFrame, edges: DataFrame, max_rounds: int = 16
) -> DataFrame:
    """(n_vertices, n_cover, n_matched_edges, n_uncovered_edges) — the
    classic 2-approximation vertex cover (Gavril/Yannakakis, public
    textbook): take BOTH endpoints of a maximal matching.  The result
    is SELF-VERIFYING: ``n_uncovered_edges`` counts closure edges with
    both endpoints outside the cover, which maximality forces to 0 —
    the query carries its own certificate, and the approximation bound
    (cover ≤ 2·OPT) is the matching-edge count times two by
    construction.

    Scale shape: the maximal-matching engine verbatim plus two
    label equi-joins and codebook aggregates."""
    from graphlite_spark.algos.components import symmetrize

    m = maximal_matching(vertices, edges, max_rounds=max_rounds)
    und = symmetrize(edges).select("src", "dst").where(
        F.col("src") < F.col("dst")
    )
    flags = m.select(
        "id", (F.col("mate") >= 0).cast("int").alias("in_cover")
    )
    unc = (
        und.join(
            flags.select(
                F.col("id").alias("src"),
                F.col("in_cover").alias("ca"),
            ),
            "src",
        )
        .join(
            flags.select(
                F.col("id").alias("dst"),
                F.col("in_cover").alias("cb"),
            ),
            "dst",
        )
        .where((F.col("ca") == 0) & (F.col("cb") == 0))
        .agg(F.count(F.lit(1)).cast("long").alias("n_unc"))
    )
    tot = m.agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices"),
        F.sum((F.col("mate") >= 0).cast("long"))
        .cast("long").alias("n_cover"),
    )
    return tot.crossJoin(F.broadcast(unc)).select(
        "n_vertices", "n_cover",
        F.expr("n_cover div 2").cast("long").alias("n_matched_edges"),
        F.col("n_unc").alias("n_uncovered_edges"),
    )
