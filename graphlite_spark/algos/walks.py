"""Deterministic random-walk corpus generation (DeepWalk + node2vec).

Embedding pipelines (DeepWalk, node2vec — both public literature:
Perozzi 2014, Grover & Leskovec 2016) train on a corpus of short random
walks.  At 100 TB the walk generation — not the training — is the
data-engine job: W walks of length L from every vertex, with the
per-step neighbor choice made INSIDE the engine, no driver loop.
:func:`random_walks` is the uniform (first-order) corpus;
:func:`node2vec_walks` adds the second-order p/q bias with integer
micro-unit weights so determinism survives.

Determinism instead of RNG: step t of walk w picks neighbor index
``hash48(walk_id ':' t) mod deg(cur)`` over the neighbor list ranked by
destination id.  md5 is uniform enough for corpus sampling, and the
whole walk set becomes a pure function of the graph — reproducible
across runs, engines, and partitionings, which is what makes the DuckDB
oracle hash-exact (the oracle unrolls the same L steps in SQL).

Scale shape per step: one join against the per-vertex degree table to
compute the pick, then one COMPOUND-KEY equi-join ``(cur, pick) =
(adj.src, adj.idx)`` — a walk never fans out to all neighbors of its
current vertex, so step cost is O(active walks), independent of degree.
The ranked adjacency is built once (per-src window; WindowGroupLimit
does not apply but the sort is per-partition after a hash shuffle on
src) and cached hash-partitioned by src so every step reuses the
layout.  Walks that reach a sink (deg 0 on the directed graph) simply
end; with ``undirected=True`` (the default corpus convention) every
non-isolated vertex has deg >= 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphlite_spark.algos.components import symmetrize
from graphlite_spark.checkpoint import LoopScope, loop_scope
from graphlite_spark.functions.hashes import hash48


def _ranked_adjacency(
    edges: DataFrame,
    undirected: bool,
    scope: LoopScope,
    max_degree: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(adj, deg): adjacency ranked by dst per src (idx 0..deg-1), as
    sorted hash(src) leaves of ``scope``, plus the per-src degree table.

    ``max_degree`` (None = exact) deterministically pre-sparsifies hub
    neighborhoods: each src keeps its ``max_degree`` lowest
    ``hash48(src ':' dst)``-ranked neighbors (a fixed uniform sample —
    the same neighbors every run, every engine), then idx re-ranks the
    kept list by dst.  The documented bias: walks through a capped hub
    can only continue along the kept sample, so transition probabilities
    at vertices with deg > max_degree are those of the sampled subgraph,
    not the full graph — the standard degree-capping trade large-scale
    node2vec makes so one 10^6-degree hub cannot dominate a step's
    candidate scoring."""
    # stage the closure once; it sizes the walk loop's width unless the
    # caller passed num_partitions
    und = staged = scope.stage(
        symmetrize(edges).select("src", "dst")
        if undirected
        else edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    )
    if max_degree is not None:
        if max_degree < 1:
            raise ValueError("max_degree must be >= 1 (or None for exact)")
        wcap = Window.partitionBy("src").orderBy(
            hash48(
                F.concat_ws(
                    ":", F.col("src").cast("string"), F.col("dst").cast("string")
                )
            ),
            "dst",
        )
        und = (
            und.withColumn("hrank", F.row_number().over(wcap))
            .where(F.col("hrank") <= max_degree)
            .drop("hrank")
        )
    w = Window.partitionBy("src").orderBy("dst")
    # pre-sorted leaves: the per-step (src, idx) SMJ probes reuse the
    # layout and order with no per-step re-sort or lineage re-analysis
    adj = scope.leaf(
        und.withColumn("idx", F.row_number().over(w) - F.lit(1)),
        "src", "src", "idx",
    )
    deg = scope.leaf(
        adj.groupBy("src").agg(F.count(F.lit(1)).alias("deg")), "src"
    )
    scope.release(staged)
    return adj, deg


def random_walks(
    vertices: DataFrame,
    edges: DataFrame,
    walks_per_vertex: int = 2,
    walk_length: int = 8,
    undirected: bool = True,
    num_partitions: int | None = None,
    checkpoint_every: int = 8,
) -> DataFrame:
    """(walk_id, step, vertex) — ``walks_per_vertex`` deterministic walks
    of up to ``walk_length`` steps from every vertex; ``walk_id =
    id * walks_per_vertex + w``.  Step 0 is the start vertex; walks end
    early at sinks.

    Lineage discipline: the per-step plan chains two joins onto ``cur``
    and a union onto ``out``; without truncation the analyzed plan grows
    O(L) and long walks (L=64+) hit hundreds of operators.  Every
    ``checkpoint_every`` steps both frames are lazily localCheckpoint'ed
    (same discipline as every other iterative loop in the repo); the
    returned corpus is eagerly materialized so the cached adjacency can
    be released before returning — callers reuse the result without
    holding engine-owned cache blocks alive."""
    W_ = walks_per_vertex
    cur = vertices.select(
        F.explode(F.sequence(F.lit(0), F.lit(W_ - 1))).alias("w"),
        F.col("id"),
    ).select(
        (F.col("id") * W_ + F.col("w")).cast("long").alias("walk_id"),
        F.col("id").alias("vertex"),
    )
    out = cur.select("walk_id", F.lit(0).cast("long").alias("step"), "vertex")
    with loop_scope(edges.sparkSession, num_partitions) as scope:
        adj, deg = _ranked_adjacency(edges, undirected, scope)
        for t in range(1, walk_length + 1):
            pick = cur.join(deg, cur["vertex"] == deg["src"]).select(
                "walk_id",
                F.col("vertex"),
                (
                    hash48(
                        F.concat_ws(
                            ":", F.col("walk_id").cast("string"), F.lit(str(t))
                        )
                    )
                    % F.col("deg")
                ).alias("pick"),
            )
            cur = pick.join(
                adj,
                (pick["vertex"] == adj["src"]) & (pick["pick"] == adj["idx"]),
            ).select("walk_id", F.col("dst").alias("vertex"))
            out = out.unionByName(
                cur.select(
                    "walk_id", F.lit(t).cast("long").alias("step"), "vertex"
                )
            )
            if t % checkpoint_every == 0 and t < walk_length:
                # lazy: materializes inside the next step's jobs, truncating
                # the O(L) join/union lineage without an extra action
                cur = cur.localCheckpoint(eager=False)
                out = out.localCheckpoint(eager=False)
        out = out.localCheckpoint(eager=True)
    return out


def node2vec_walks(
    vertices: DataFrame,
    edges: DataFrame,
    walks_per_vertex: int = 1,
    walk_length: int = 5,
    return_micros: int = 500_000,
    inout_micros: int = 2_000_000,
    undirected: bool = True,
    num_partitions: int | None = None,
    checkpoint_every: int = 8,
    max_degree: int | None = None,
) -> DataFrame:
    """(walk_id, step, vertex) — second-order BIASED walks (node2vec,
    Grover & Leskovec 2016, public literature) on the same deterministic
    hash machinery as :func:`random_walks` (DeepWalk is the special case
    of uniform transition weights).

    Transition rule at step t>=2 with previous vertex ``prev`` and
    current ``cur``: each neighbor x of cur gets an INTEGER micro-unit
    weight — ``return_micros`` if x == prev (the 1/p return bias),
    1_000_000 if x is also a neighbor of prev (graph distance 1, the BFS
    direction), else ``inout_micros`` (distance 2, the DFS direction,
    1/q).  The pick is the cumulative-weight bucket containing
    ``hash48(walk_id ':' t) mod total_weight`` over the dst-ranked
    neighbor list — all-integer, so the corpus is a pure function of the
    graph and hash-exact across engines (the oracle unrolls the same
    rule in SQL).  Step 1 has no prev and picks uniformly.

    Scale shape: node2vec inherently SCORES the whole neighborhood of
    cur each step (the distance test needs every candidate), so step
    cost is O(Σ deg(cur) over active walks) — the same frontier the
    classic per-edge alias-table precompute pays, but without
    materializing O(Σ_e deg) state up front.  The distance-1 test is one
    left-semi-style join of candidates against the cached adjacency on
    (prev, x); the cumulative pick is a per-walk window (each walk's
    partition is one neighbor list, never the graph).  Hubs: a walk
    visiting a hub scores deg(hub) candidates once — bounded per walk,
    and the candidate frame is hash-partitioned by walk_id so no
    reducer owns more than one neighborhood per walk.  For graphs where
    even one neighborhood is too much (a 10^6-degree hub), ``max_degree``
    (default None = exact) deterministically caps each vertex's ranked
    neighbor list to a fixed hash-rank sample BEFORE any walk starts —
    see :func:`_ranked_adjacency` for the exact rule and the documented
    bias; the exact path stays the default because it is what the DuckDB
    oracle unrolls.

    ``walk_length`` must be >= 1: the second-order rule needs at least
    the uniform first step (step-1 rows are always emitted)."""
    if walk_length < 1 or walks_per_vertex < 1:
        raise ValueError("walk_length and walks_per_vertex must be >= 1")
    with loop_scope(edges.sparkSession, num_partitions) as scope:
        adj, deg = _ranked_adjacency(
            edges, undirected, scope, max_degree=max_degree
        )
        W_ = walks_per_vertex
        start = vertices.select(
            F.explode(F.sequence(F.lit(0), F.lit(W_ - 1))).alias("w"),
            F.col("id"),
        ).select(
            (F.col("id") * W_ + F.col("w")).cast("long").alias("walk_id"),
            F.col("id").alias("vertex"),
        )
        out = start.select("walk_id", F.lit(0).cast("long").alias("step"), "vertex")
        # step 1: uniform (no prev yet) — identical rule to random_walks
        s1 = start.join(deg, start["vertex"] == deg["src"]).select(
            "walk_id",
            F.col("vertex").alias("prev"),
            (
                hash48(F.concat_ws(":", F.col("walk_id").cast("string"), F.lit("1")))
                % F.col("deg")
            ).alias("pick"),
        )
        cur = s1.join(
            adj, (s1["prev"] == adj["src"]) & (s1["pick"] == adj["idx"])
        ).select("walk_id", "prev", F.col("dst").alias("vertex"))
        out = out.unionByName(
            cur.select("walk_id", F.lit(1).cast("long").alias("step"), "vertex")
        )
        prev_edge = adj.select(
            F.col("src").alias("p_src"), F.col("dst").alias("p_dst")
        )
        for t in range(2, walk_length + 1):
            # candidates: the FULL ranked neighborhood of cur (second-order
            # bias needs every neighbor's distance-to-prev classification)
            cand = cur.join(adj, cur["vertex"] == adj["src"]).select(
                "walk_id", "prev", F.col("vertex"),
                F.col("dst").alias("x"), F.col("idx"),
            )
            # distance-1 test: is (prev, x) an edge?  left join against the
            # cached adjacency; non-null marker = yes
            cand = cand.join(
                prev_edge,
                (cand["prev"] == prev_edge["p_src"]) & (cand["x"] == prev_edge["p_dst"]),
                "left",
            ).select(
                "walk_id", "prev", "vertex", "x", "idx",
                F.when(F.col("x") == F.col("prev"), F.lit(return_micros))
                .when(F.col("p_src").isNotNull(), F.lit(1_000_000))
                .otherwise(F.lit(inout_micros))
                .cast("long")
                .alias("wt"),
            )
            wsum = Window.partitionBy("walk_id").orderBy("idx")
            scored = cand.select(
                "walk_id", "vertex", "x",
                (F.sum("wt").over(wsum) - F.col("wt")).alias("cum_lo"),
                F.sum("wt").over(wsum).alias("cum_hi"),
                F.sum("wt").over(Window.partitionBy("walk_id")).alias("total"),
            )
            r = hash48(
                F.concat_ws(":", F.col("walk_id").cast("string"), F.lit(str(t)))
            ) % F.col("total")
            # the walk's current vertex rides along as the next step's prev —
            # no rejoin against cur (a per-step self-join) needed
            cur = scored.where((r >= F.col("cum_lo")) & (r < F.col("cum_hi"))).select(
                "walk_id", F.col("vertex").alias("prev"), F.col("x").alias("vertex")
            )
            out = out.unionByName(
                cur.select("walk_id", F.lit(t).cast("long").alias("step"), "vertex")
            )
            if t % checkpoint_every == 0 and t < walk_length:
                cur = cur.localCheckpoint(eager=False)
                out = out.localCheckpoint(eager=False)
        out = out.localCheckpoint(eager=True)
    return out


def metapath_walks(
    vertices: DataFrame,
    edges: DataFrame,
    types: DataFrame,
    metapath: list[str],
    walk_length: int = 6,
    walks_per_vertex: int = 1,
    undirected: bool = True,
    num_partitions: int | None = None,
    checkpoint_every: int = 8,
) -> DataFrame:
    """(walk_id, step, vertex) — metapath-constrained deterministic
    walks over a typed graph (metapath2vec, Dong, Chawla & Swami KDD
    2017, public literature): walks start at every vertex of type
    ``metapath[0]`` and step ``t`` may only move to a neighbor of type
    ``metapath[t % len(metapath)]`` — the heterogeneous-graph embedding
    corpus where plain walks drown minority vertex types (here: a
    user→assistant→user… path that never wanders into tool vertices).
    Walks end early when the current vertex has no neighbor of the
    required type.  ``types`` is (id, vtype); ``walk_id =
    id * walks_per_vertex + w``.

    Determinism: step ``t`` picks typed-neighbor index
    ``hash48(walk_id ':' t) % typed_deg`` over the dst-ranked TYPED
    adjacency — the :func:`random_walks` rule applied per (src, dtype)
    group, so the full corpus is hash-exact cross-engine.

    Scale shape: the typed adjacency is ranked once (one window per
    (src, dtype) group — same cost as the untyped ranking), cached
    hash-partitioned by src; each step is the two-join pick ×
    typed-degree shape of :func:`random_walks` with the type literal
    pushed into both joins; lineage truncates every
    ``checkpoint_every`` steps (the repo's linear-loop discipline)."""
    if not metapath:
        raise ValueError("metapath must be non-empty")
    und = (
        symmetrize(edges).select("src", "dst")
        if undirected
        else edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    ty = types.select(F.col("id").alias("tid"), F.col("vtype"))
    typed = und.join(ty, und["dst"] == ty["tid"]).select(
        "src", "dst", F.col("vtype").alias("dtype")
    )
    w = Window.partitionBy("src", "dtype").orderBy("dst")
    with loop_scope(edges.sparkSession, num_partitions) as scope:
        # staged typed closure: data-sized width + pre-sorted leaves, the
        # walks-family discipline (see _ranked_adjacency)
        staged = scope.stage(typed)
        adj = scope.leaf(
            staged.withColumn("idx", F.row_number().over(w) - F.lit(1)),
            "src", "src", "dtype", "idx",
        )
        degt = scope.leaf(
            adj.groupBy("src", "dtype").agg(F.count(F.lit(1)).alias("deg")),
            "src", "src", "dtype",
        )
        scope.release(staged)
        W_ = walks_per_vertex
        L = len(metapath)
        starts = vertices.select("id").join(
            ty.where(F.col("vtype") == metapath[0]),
            vertices["id"] == ty["tid"],
        )
        cur = starts.select(
            F.explode(F.sequence(F.lit(0), F.lit(W_ - 1))).alias("w"),
            F.col("id"),
        ).select(
            (F.col("id") * W_ + F.col("w")).cast("long").alias("walk_id"),
            F.col("id").alias("vertex"),
        )
        out = cur.select("walk_id", F.lit(0).cast("long").alias("step"), "vertex")
        for t in range(1, walk_length + 1):
            tt = metapath[t % L]
            pick = cur.join(
                degt.where(F.col("dtype") == tt),
                cur["vertex"] == degt["src"],
            ).select(
                "walk_id",
                F.col("vertex"),
                (
                    hash48(
                        F.concat_ws(
                            ":", F.col("walk_id").cast("string"), F.lit(str(t))
                        )
                    )
                    % F.col("deg")
                ).alias("pick"),
            )
            step_adj = adj.where(F.col("dtype") == tt)
            cur = pick.join(
                step_adj,
                (pick["vertex"] == step_adj["src"])
                & (pick["pick"] == step_adj["idx"]),
            ).select("walk_id", F.col("dst").alias("vertex"))
            out = out.unionByName(
                cur.select(
                    "walk_id", F.lit(t).cast("long").alias("step"), "vertex"
                )
            )
            if t % checkpoint_every == 0 and t < walk_length:
                cur = cur.localCheckpoint(eager=False)
                out = out.localCheckpoint(eager=False)
        out = out.localCheckpoint(eager=True)
    return out
