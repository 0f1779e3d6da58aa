"""HITS (hubs & authorities), fixed-iteration, unnormalized.

Kleinberg's mutual-reinforcement recurrence over the directed edge set::

    auth_k(v) = Σ_{(u,v) ∈ E} hub_{k-1}(u)
    hub_k(v)  = Σ_{(v,w) ∈ E} auth_k(w)

Run WITHOUT per-round normalization for a fixed iteration count: every
score stays an exact integer (sums of sums of 1s), so the DuckDB oracle
matches bit-exactly with no float-rounding discipline needed — ranking
order equals the normalized variant's.  Two shuffles per iteration
(gather by dst, gather by src), edge table read from cache both times;
the same shape the Pregel scatter uses, expressed directly as joins
because the recurrence alternates edge directions each half-step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphlite_spark.checkpoint import loop_scope


def hits(vertices: DataFrame, edges: DataFrame, iterations: int = 3) -> DataFrame:
    """(id, auth, hub) after ``iterations`` rounds (exact longs)."""
    if iterations < 1:
        raise ValueError(f"hits: iterations must be >= 1, got {iterations}")
    v = vertices.select("id")
    hub = v.select("id", F.lit(1).cast("long").alias("hub"))
    auth = None
    with loop_scope(edges.sparkSession) as scope:
        # dual gather layouts, as in salsa below: each half-step's SMJ
        # rides its pre-sorted leaf exchange- and sort-free on the edge side
        e0 = scope.stage(edges.select("src", "dst"))
        e_src, e_dst = scope.leaf(e0, "src"), scope.leaf(e0, "dst")
        scope.release(e0)
        for _ in range(iterations):
            ag = (
                e_src.join(hub, e_src["src"] == hub["id"])
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.sum("hub").alias("s"))
            )
            auth = v.join(ag, v["id"] == ag["vid"], "left").select(
                "id", F.coalesce("s", F.lit(0)).cast("long").alias("auth")
            )
            hg = (
                e_dst.join(auth, e_dst["dst"] == auth["id"])
                .groupBy(F.col("src").alias("vid"))
                .agg(F.sum("auth").alias("s"))
            )
            hub = v.join(hg, v["id"] == hg["vid"], "left").select(
                "id", F.coalesce("s", F.lit(0)).cast("long").alias("hub")
            )
            hub = scope.own(hub.localCheckpoint(eager=True))
            auth = scope.own(auth.localCheckpoint(eager=True))
        out = auth.join(hub, "id").select("id", "auth", "hub")
        out = out.localCheckpoint(eager=True)  # materialize before release
    return out


def salsa(vertices: DataFrame, edges: DataFrame, iterations: int = 3) -> DataFrame:
    """(id, auth_m, hub_m) after ``iterations`` SALSA rounds (Lempel &
    Moran 2000, public literature) — the degree-normalized sibling of
    HITS: the authority walk takes one backward step through a
    column-normalized edge and one forward step through a row-normalized
    one.  FIXED-POINT integer micro-units with per-VERTEX truncating
    division (each score is divided by its vertex's degree once, then
    summed over edges — Spark ``div`` == DuckDB ``//``), so results are
    bit-identical across engines and partitionings, like
    weighted_pagerank.  Degrees count edge-table rows (multi-edges weigh
    like parallel links, consistently on both sides).

    Per iteration: two vertex-sized degree joins + two edge-gather
    map-side-combined sums — the exact HITS shuffle shape; at 10^12
    edges the degree frames broadcast and only the score frame moves."""
    if iterations < 1:
        raise ValueError(f"salsa: iterations must be >= 1, got {iterations}")
    v = vertices.select("id")
    auth = v.select("id", F.lit(1_000_000).cast("long").alias("auth_m"))
    hub = None
    with loop_scope(edges.sparkSession) as scope:
        # dual gather layouts (CSC/CSR): the auth phase gathers along dst,
        # the hub phase along src — each phase's SMJ rides its leaf
        # sorted, exchange- and sort-free on the edge side
        e0 = scope.stage(edges.select("src", "dst"))
        e_dst, e_src = scope.leaf(e0, "dst"), scope.leaf(e0, "src")
        scope.release(e0)
        # degree tables are loop-static: stage once instead of re-running
        # the groupBy over the edge table at every reference
        ind = scope.own(
            e_dst.groupBy(F.col("dst").alias("id"))
            .agg(F.count(F.lit(1)).alias("ind"))
            .localCheckpoint(eager=True)
        )
        outd = scope.own(
            e_src.groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).alias("outd"))
            .localCheckpoint(eager=True)
        )
        for _ in range(iterations):
            av = auth.join(ind, "id").select(
                "id", F.expr("auth_m div ind").cast("long").alias("adiv")
            )
            hg = (
                e_dst.join(av, e_dst["dst"] == av["id"])
                .groupBy(F.col("src").alias("vid"))
                .agg(F.sum("adiv").alias("s"))
            )
            hub = v.join(hg, v["id"] == hg["vid"], "left").select(
                "id", F.coalesce("s", F.lit(0)).cast("long").alias("hub_m")
            )
            hv = hub.join(outd, "id").select(
                "id", F.expr("hub_m div outd").cast("long").alias("hdiv")
            )
            ag = (
                e_src.join(hv, e_src["src"] == hv["id"])
                .groupBy(F.col("dst").alias("vid"))
                .agg(F.sum("hdiv").alias("s"))
            )
            auth = v.join(ag, v["id"] == ag["vid"], "left").select(
                "id", F.coalesce("s", F.lit(0)).cast("long").alias("auth_m")
            )
            hub = scope.own(hub.localCheckpoint(eager=True))
            auth = scope.own(auth.localCheckpoint(eager=True))
        out = auth.join(hub, "id").select("id", "auth_m", "hub_m")
        out = out.localCheckpoint(eager=True)  # materialize before release
    return out
