"""Bow-tie decomposition of a directed graph (Broder et al., WWW 2000).

The classic macro-structure analysis of a web-scale directed graph:
every vertex lands in exactly one of six classes relative to the
largest strongly connected component —

* ``CORE``          — the largest SCC itself (size ties break to the
                      smallest SCC label);
* ``IN``            — reaches the core but is not in it;
* ``OUT``           — reachable from the core but not in it;
* ``TUBE``          — reachable from IN AND reaches OUT while avoiding
                      the core;
* ``TENDRIL``       — the rest of the core's weak component (hangs off
                      IN going nowhere, or feeds OUT from nowhere,
                      including the deeper attachments of either);
* ``DISCONNECTED``  — a different weak component entirely.

Composition over existing engine primitives — nothing new shuffles:
SCC labels from :func:`algos.scc.strongly_connected_components`
(FW/BW min-label peel), weak components from
:func:`connected_components_fast`, and all four reachability sets
(from/to CORE, from IN, to OUT) from the SAME O(log diameter)
min-reach fixpoint SCC uses, via a seed-first ARITHMETIC remap:
``nid = (id - min_id) + (seed ? 0 : span)`` is injective and ranks
every seed below every non-seed, so ``min nid over ancestors ∪ self
< span`` IS "some seed reaches me" and pointer doubling gives
set-reachability in O(log D) rounds instead of a frontier BFS's O(D)
— no range shuffle / dense-rank pass per seed set, just one
broadcast-sized min/max agg computed once for all four passes.

Driver scalars: the core label, its weak-component label, the id
bounds, and the four seed counts — seven 1-row/integer actions total;
every per-vertex step is an equi-join or a map-side-combined
aggregate.  ``num_partitions`` defaults to the engine's E/100k
auto-sizing (operators/pregel.py discipline): the dozens of fixpoint
rounds are tiny-per-round, so shuffle width must track the graph, not
the session default — at test scale (hundreds of edges) one partition
per stage, at 10^12 edges tens of thousands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from graphlite_spark.algos.components import connected_components_fast
from graphlite_spark.algos.scc import (
    _min_reach_fixpoint,
    strongly_connected_components,
)
from graphlite_spark.checkpoint import LoopScope, loop_scope, truncate_plan


def _reached_from(
    scope: LoopScope,
    verts: DataFrame,
    edges: DataFrame,
    seeds: DataFrame,
    span: int,
    min_id: int,
    max_rounds: int,
    reverse: bool = False,
) -> DataFrame:
    """(id, flag) — flag = some seed reaches id along ``edges``
    (``reverse=True``: id reaches some seed).  Seed-first arithmetic
    remap (ids live in [min_id, min_id+span)) + the SCC min-reach
    fixpoint, staged in ``scope`` at its width; empty seed set
    short-circuits."""
    if seeds.limit(1).count() == 0:
        return verts.select("id", F.lit(False).alias("flag"))
    m = (
        verts.join(seeds.select("id", F.lit(0).alias("sr")), "id", "left")
        .select(
            "id",
            (
                F.col("id") - F.lit(min_id)
                + F.when(F.col("sr").isNotNull(), 0).otherwise(span)
            ).alias("nid"),
        )
    )
    src_m = m.select(F.col("id").alias("src"), F.col("nid").alias("nsrc"))
    dst_m = m.select(F.col("id").alias("dst"), F.col("nid").alias("ndst"))
    a, b = ("ndst", "nsrc") if reverse else ("nsrc", "ndst")
    e = scope.own(
        edges.join(src_m, "src").join(dst_m, "dst")
        .select(F.col(a).alias("src"), F.col(b).alias("dst"))
        .repartition(scope.num_partitions, "src")
        .sortWithinPartitions("src")
        .localCheckpoint(eager=True)
    )
    labs, converged = _min_reach_fixpoint(
        scope, m.select(F.col("nid").alias("id")), e, max_rounds
    )
    if not converged:
        import warnings

        warnings.warn(
            "bowtie reachability: min-reach fixpoint hit max_rounds — "
            "flags are a partial closure; raise max_rounds",
            RuntimeWarning,
        )
    out = (
        m.join(labs.select(F.col("id").alias("nid"), "lab"), "nid")
        .select("id", (F.col("lab") < span).alias("flag"))
    )
    out = scope.own(truncate_plan(out, eager=True))
    scope.release(e, labs)
    return out


def bowtie_decomposition(
    vertices: DataFrame,
    edges: DataFrame,
    num_partitions: int | None = None,
    max_rounds: int = 64,
) -> DataFrame:
    """(id, cls) — the Broder bow-tie class of every vertex.

    ``vertices``: (id); ``edges``: directed (src, dst) — self-loops and
    duplicates are ignored (the SCC contract).  ``num_partitions=None``
    auto-sizes the shuffle width to ~E/100k (the engine's graph-load
    discipline) — every fixpoint round below is a fixed number of
    shuffles, so width must track graph size, not the session default."""
    # the nested SCC and CC scopes restore this scope's settings, and the
    # direct _min_reach_fixpoint calls run under its pinned width
    with loop_scope(edges.sparkSession, num_partitions) as scope:
        # reused by 7 fixpoints below; sizes the width
        e, _ = scope.stage(
            edges.select("src", "dst")
            .where(F.col("src") != F.col("dst"))
            .distinct(),
            truncate=True,
        )
        P = scope.num_partitions
        # the vertex set is read ~7x (bounds, SCC, 4 reachability remaps,
        # weak CC) — stage it once instead of re-running the caller's
        # derivation (often a distinct over a raw scan) per reference
        vertices = scope.own(truncate_plan(vertices.select("id"), eager=True))
        bounds = vertices.agg(
            F.min("id").alias("mn"), F.max("id").alias("mx"),
            F.count(F.lit(1)).alias("nv"),
        ).first()
        if not bounds["nv"]:
            return scope.keep(vertices).select(
                "id", F.lit("DISCONNECTED").alias("cls")
            )
        min_id, span = bounds["mn"], bounds["mx"] - bounds["mn"] + 1
        # the nested loops keep their results; this scope frees them
        scc = scope.own(strongly_connected_components(
            vertices, e, num_partitions=P, max_rounds=max_rounds
        ))
        top = (
            scc.groupBy("scc").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("scc"))
            .limit(1)
            .collect()
        )
        core_lab = top[0]["scc"]
        core = scc.where(F.col("scc") == core_lab).select("id")

        # the two core-reachability closures are independent fixpoints —
        # run them as concurrent jobs (guide §2.6; same pattern as the
        # SCC FW/BW pair).  The weak-CC loop mutates session conf, so it
        # stays outside the pool.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(2) as pool:
            fut_p = pool.submit(  # core ⇝ v
                _reached_from, scope, vertices, e, core, span, min_id,
                max_rounds,
            )
            fut_m = pool.submit(
                _reached_from, scope, vertices, e, core, span, min_id,
                max_rounds, True,
            )
            rp = fut_p.result()
            rm = fut_m.result()
        wcc = scope.own(connected_components_fast(
            vertices, e, num_partitions=P, max_rounds=max_rounds
        ))
        core_wcc = (
            wcc.where(F.col("id") == core_lab).collect()[0]["component"]
        )
        flags = (
            scc.join(rp.withColumnRenamed("flag", "rp"), "id")
            .join(rm.withColumnRenamed("flag", "rm"), "id")
            .join(wcc, "id")
        )
        flags = scope.own(truncate_plan(flags, eager=True))
        in_ids = flags.where(
            F.col("rm") & (F.col("scc") != core_lab)
        ).select("id")
        out_ids = flags.where(
            F.col("rp") & (F.col("scc") != core_lab)
        ).select("id")
        with ThreadPoolExecutor(2) as pool:
            fut_f = pool.submit(
                _reached_from, scope, vertices, e, in_ids, span, min_id,
                max_rounds,
            )
            fut_b = pool.submit(
                _reached_from, scope, vertices, e, out_ids, span, min_id,
                max_rounds, True,
            )
            fin = fut_f.result()
            bout = fut_b.result()
        res = (
            flags.join(fin.withColumnRenamed("flag", "fin"), "id")
            .join(bout.withColumnRenamed("flag", "bout"), "id")
            .select(
                "id",
                F.when(F.col("scc") == core_lab, "CORE")
                .when(F.col("rm"), "IN")
                .when(F.col("rp"), "OUT")
                .when(F.col("component") != core_wcc, "DISCONNECTED")
                .when(F.col("fin") & F.col("bout"), "TUBE")
                .otherwise("TENDRIL")
                .alias("cls"),
            )
        )
        # eager: the result must execute inside the pinned-conf scope
        return truncate_plan(res, eager=True)
