"""PageRank with the reference's exact semantics.

Parity target: GraphLite-0.20/example/PageRankVertex.cc:145-172 —

* superstep 0: ``val = 1.0``; no aggregator accumulation; send
  ``val / out_degree`` to every out-neighbor.
* superstep >= 1: sum incoming messages; ``val = 0.15 + 0.85 * sum``
  (unnormalized — no 1/N term anywhere); accumulate ``|old - new|`` into
  sum-aggregator 0; send ``val / out_degree``.
* superstep >= 2: *before* computing, if the global aggregator (the
  Σ|Δ| merged from the previous superstep) is ``< EPS = 1e-6``
  (PageRankVertex.cc:37), vote to halt and return — value unchanged,
  nothing sent.  All vertices see the same global, so they all halt in the
  same superstep and the master's ``act==0 && sent==0`` test
  (Master.cc:429-431) ends the run.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphlite_spark.operators.pregel import (
    PregelAlgorithm,
    PregelEngine,
    PregelResult,
    warn_if_not_converged,
)

EPS = 1e-6  # example/PageRankVertex.cc:37


class PageRank(PregelAlgorithm):
    name = "pagerank"
    value_type = "double"
    combine_expr = staticmethod(F.sum)
    aggr_init = {"sum_delta": 0.0}

    def __init__(self, eps: float = EPS, max_supersteps: int = 200,
                 fixed_supersteps: int | None = None):
        """``fixed_supersteps`` disables convergence halting and runs
        exactly that many supersteps (used for the SQL-oracle parity
        queries, where the oracle unrolls a fixed iteration count)."""
        self.eps = eps
        self.max_supersteps = max_supersteps
        self.fixed = fixed_supersteps
        if fixed_supersteps is not None:
            self.max_supersteps = fixed_supersteps

    def _halted_branch(self, superstep: int, aggr: dict[str, float]) -> bool:
        # the voteToHalt()-and-return branch (PageRankVertex.cc:152-157):
        # taken at ss>=2 when the global Σ|Δ| from ss-1 dropped below eps.
        if self.fixed is not None:
            return False
        return superstep >= 2 and aggr["sum_delta"] < self.eps

    def expr_cache_token(self, superstep: int, aggr: dict) -> object:
        # every hook branches only on (superstep == 0, halted) — the whole
        # PageRank family (Personalized/Trust/Warm/ArgmaxDelta subclasses
        # included) builds structurally identical Columns within each
        # branch, so the engine reuses them across the ~O(diameter)
        # steady supersteps (expr_cache_token contract in pregel.py)
        if superstep == 0:
            return ("ss0",)
        return ("halted",) if self._halted_branch(superstep, aggr) else ("steady",)

    def update_value(self, superstep: int, aggr: dict[str, float]) -> Column:
        if superstep == 0:
            return F.lit(1.0)
        if self._halted_branch(superstep, aggr):
            return F.col("value")  # early return: value untouched
        return F.lit(0.15) + F.lit(0.85) * F.coalesce(F.col("msg"), F.lit(0.0))

    def update_send(self, superstep: int, aggr: dict[str, float]) -> Column:
        return F.lit(not self._halted_branch(superstep, aggr))

    def update_halt(self, superstep: int, aggr: dict[str, float]) -> Column:
        return F.lit(self._halted_branch(superstep, aggr))

    def message(self, superstep: int, aggr: dict[str, float]) -> Column:
        return F.col("value") / F.col("out_degree")

    def aggregators(self, superstep: int, aggr: dict[str, float]) -> dict[str, Column]:
        if superstep == 0 or self._halted_branch(superstep, aggr):
            # ss0 never accumulates (PageRankVertex.cc:149-150 path);
            # the halted branch returns before accumulating.
            return {"sum_delta": F.lit(0.0)}
        return {
            "sum_delta": F.when(
                F.col("participate"), F.abs(F.col("old_value") - F.col("value"))
            ).otherwise(F.lit(0.0))
        }


class PageRankArgmaxDelta(PageRank):
    """PageRank plus a TYPED aggregator: the (delta, id) argmax — "which
    vertex moved the most this superstep".  Exercises the arbitrary-POD
    aggregator value of the reference (AggregatorBase.h:44-84) through the
    engine's ``(column, merge_fn)`` surface: the merged value is a struct
    Row, not a float — ``F.max`` over ``struct(delta, id)`` is an argmax
    with larger-id tie-break (lexicographic struct comparison), all
    JVM-side in the same single stats action."""

    name = "pagerank_argmax_delta"

    def aggregators(self, superstep: int, aggr: dict) -> dict:
        out = super().aggregators(superstep, aggr)
        if superstep == 0 or self._halted_branch(superstep, aggr):
            delta = F.lit(0.0)
        else:
            delta = F.when(
                F.col("participate"), F.abs(F.col("old_value") - F.col("value"))
            ).otherwise(F.lit(0.0))
        # round BEFORE comparing so argmax ties resolve identically to the
        # SQL oracle's ORDER BY round(delta, 6) DESC, id DESC
        out["argmax_delta"] = (
            F.struct(F.round(delta, 6).alias("d"), F.col("id").alias("i")),
            F.max,
        )
        return out


def pagerank_argmax_delta(
    vertices: DataFrame,
    edges: DataFrame,
    fixed_supersteps: int | None = None,
    num_partitions: int | None = None,
) -> PregelResult:
    algo = PageRankArgmaxDelta(fixed_supersteps=fixed_supersteps)
    eng = PregelEngine(num_partitions=num_partitions)
    res = eng.run(vertices, edges, algo)
    if fixed_supersteps is None:
        warn_if_not_converged(res, "pagerank_argmax_delta")
    return res


class PersonalizedPageRank(PageRank):
    """PageRank with teleport mass concentrated on one source vertex:
    ``val = 0.15*[v == source] + 0.85 * Σ msgs`` (random walk with
    restart).  Same engine surface as PageRank — only the teleport term
    changes — which is exactly the per-program extension story the
    reference's dlopen'd vertex programs tell (include/Vertex.h:122-258).
    """

    name = "personalized_pagerank"

    def __init__(self, source: int = 0, **kw):
        super().__init__(**kw)
        self.source = source

    def update_value(self, superstep: int, aggr: dict[str, float]):
        if superstep == 0:
            # walk starts at the source: mass 1 there, 0 elsewhere
            return F.when(F.col("id") == self.source, F.lit(1.0)).otherwise(
                F.lit(0.0)
            )
        if self._halted_branch(superstep, aggr):
            return F.col("value")
        teleport = F.when(F.col("id") == self.source, F.lit(0.15)).otherwise(
            F.lit(0.0)
        )
        return teleport + F.lit(0.85) * F.coalesce(F.col("msg"), F.lit(0.0))


def personalized_pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    source: int = 0,
    fixed_supersteps: int | None = None,
    num_partitions: int | None = None,
) -> PregelResult:
    algo = PersonalizedPageRank(source=source, fixed_supersteps=fixed_supersteps)
    eng = PregelEngine(num_partitions=num_partitions)
    res = eng.run(vertices, edges, algo)
    if fixed_supersteps is None:
        warn_if_not_converged(res, "personalized_pagerank")
    return res


def weighted_pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    supersteps: int = 10,
) -> DataFrame:
    """(id, rank_micros) — FIXED-POINT PageRank distributing rank
    proportional to INTEGER edge weights: the contribution of u to v is
    ``(rank_micros(u) · w(u,v)) div Σ_out w(u)`` (per-term integer
    division), and each round applies the unnormalized reference
    recurrence in micro-units: ``150000 + (85 · Σ) div 100``.

    Why fixed-point rather than doubles: a float weighted sum's value
    depends on summation order, which differs across engines AND across
    partitionings of the same engine — after 9 rounds that puts rows on
    6dp rounding boundaries (observed: 2/10k rows off by 1e-6 vs the
    DuckDB mirror).  Integer arithmetic makes every round exactly
    reproducible regardless of partitioning — at production scale,
    bit-identical reruns are a feature, and the ≤1-micro-per-term floor
    truncation (≲1e-5 relative after 10 rounds) is far below ranking
    resolution.  At all-equal weights the result matches the float
    engine's fixed-superstep ranks to ~1e-5.

    Weights must be integer-valued (pre-scale fractional weights).  The
    per-edge (w, wsum) pair is joined once and cached hash-partitioned
    by src; each round shuffles only rank-sized data.
    """
    if supersteps < 1:
        raise ValueError(f"supersteps must be >= 1, got {supersteps}")
    spark = edges.sparkSession
    P = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e = edges.select("src", "dst", F.col("weight").cast("long").alias("w"))
    wsum = e.groupBy("src").agg(F.sum("w").alias("wsum"))
    ew = e.join(wsum, "src").repartition(P, "src").persist()
    r = vertices.select("id", F.lit(1_000_000).cast("long").alias("rank_m"))
    for _ in range(supersteps - 1):
        m = (
            ew.join(r, ew["src"] == r["id"])
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum(F.expr("(rank_m * w) div wsum")).alias("s"))
        )
        r = (
            vertices.select("id")
            .join(m, F.col("id") == F.col("vid"), "left")
            .select(
                "id",
                F.expr(
                    "CAST(150000 + (85 * coalesce(s, 0)) div 100 AS BIGINT)"
                ).alias("rank_m"),
            )
            .localCheckpoint(eager=False)
        )
    # materialize before releasing the cached edge frame (hits() pattern):
    # the returned frame must not depend on ew after unpersist, or repeated
    # calls accumulate cached blocks until storage eviction thrashes
    out = r.select("id", F.col("rank_m").alias("rank_micros"))
    out = out.localCheckpoint(eager=True)
    ew.unpersist()
    return out


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    eps: float = EPS,
    max_supersteps: int = 200,
    fixed_supersteps: int | None = None,
    num_partitions: int | None = None,
    checkpointer=None,
    run_id: str = "pagerank",
) -> PregelResult:
    algo = PageRank(eps=eps, max_supersteps=max_supersteps,
                    fixed_supersteps=fixed_supersteps)
    eng = PregelEngine(num_partitions=num_partitions, checkpointer=checkpointer,
                       run_id=run_id)
    res = eng.run(vertices, edges, algo)
    if fixed_supersteps is None:
        warn_if_not_converged(res, "pagerank")
    return res


class WarmPageRank(PageRank):
    """PageRank that starts from injected scores instead of 1.0 — the
    maintenance half of a PageRank-over-a-growing-graph story (the
    analogue of algos.components.incremental_components for CC): after
    an edge batch arrives, re-converging from yesterday's scores starts
    from a perturbation orders of magnitude below the cold start's.
    Superstep savings follow log(delta0) under the 0.85 contraction —
    substantial on expander-like graphs; on diameter-bound chains the
    cold run is already diameter-limited, so the saving is the skipped
    warm phase itself (yesterday's scores are already materialized).

    The warm scores ride in as an ``init_value`` vertex column (the
    engine's prepare() carries it into init_value()); superstep 0
    PRESERVES them (the cold program overwrites with 1.0) so the first
    scatter already sends warm rank mass."""

    name = "pagerank_warm"

    def init_value(self) -> Column:
        return F.coalesce(F.col("init_value"), F.lit(1.0))

    def update_value(self, superstep: int, aggr: dict[str, float]) -> Column:
        if superstep == 0:
            return F.col("value")
        return super().update_value(superstep, aggr)


def pagerank_warm_restart(
    vertices: DataFrame,
    old_edges: DataFrame,
    new_edges: DataFrame,
    warm_supersteps: int = 10,
    refine_supersteps: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, rank) — fixed ``warm_supersteps`` PageRank over ``old_edges``,
    then ``refine_supersteps`` update rounds over old ∪ new starting from
    the warm scores (both phases fixed-length so the DuckDB oracle
    unrolls them exactly; 6dp rounding is the repo-wide float
    discipline).

    Scale story: the warm phase is yesterday's already-materialized
    scores — at 10^12 edges only the refine phase runs per batch; the
    first refine update moves orders of magnitude less rank mass than a
    cold start's (measured at sf0.001: 25x smaller first-superstep sum_delta
    for a 1% batch, 2.5x for a 10% batch), and superstep savings scale with log of that
    ratio under the 0.85 contraction."""
    warm = pagerank(
        vertices, old_edges,
        fixed_supersteps=warm_supersteps, num_partitions=num_partitions,
        run_id="pagerank_warm_phase1",
    )
    init = warm.state.select("id", F.col("value").alias("init_value"))
    v2 = vertices.select("id").join(init, "id", "left")
    algo = WarmPageRank(fixed_supersteps=refine_supersteps + 1)
    eng = PregelEngine(
        num_partitions=num_partitions, run_id="pagerank_warm_phase2"
    )
    res = eng.run(v2, old_edges.unionByName(new_edges), algo)
    return res.state.select("id", F.round("value", 6).alias("rank"))


class TrustRank(PageRank):
    """PageRank with teleport mass split uniformly over a trusted SEED
    SET (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004, public
    literature) — trust flows out of hand-picked good vertices, so low
    scores flag spam-like regions.  PersonalizedPageRank is its
    single-seed case.  Teleport per seed = 0.15 / |seeds| (one literal,
    exact double on both engines)."""

    name = "trustrank"

    def __init__(self, seeds: list[int], **kw):
        super().__init__(**kw)
        if not seeds:
            raise ValueError("trustrank: seeds must be non-empty")
        self.seeds = sorted(set(int(s) for s in seeds))

    def _seed(self) -> Column:
        return F.col("id").isin(self.seeds)

    def update_value(self, superstep: int, aggr: dict[str, float]):
        share = 1.0 / len(self.seeds)
        if superstep == 0:
            return F.when(self._seed(), F.lit(share)).otherwise(F.lit(0.0))
        if self._halted_branch(superstep, aggr):
            return F.col("value")
        teleport = F.when(
            self._seed(), F.lit(0.15 * share)
        ).otherwise(F.lit(0.0))
        return teleport + F.lit(0.85) * F.coalesce(F.col("msg"), F.lit(0.0))


def trustrank(
    vertices: DataFrame,
    edges: DataFrame,
    seeds: list[int],
    fixed_supersteps: int | None = None,
    num_partitions: int | None = None,
) -> PregelResult:
    algo = TrustRank(seeds=seeds, fixed_supersteps=fixed_supersteps)
    eng = PregelEngine(num_partitions=num_partitions, run_id="trustrank")
    res = eng.run(vertices, edges, algo)
    if fixed_supersteps is None:
        warn_if_not_converged(res, "trustrank")
    return res


def spam_mass(
    vertices: DataFrame,
    edges: DataFrame,
    seeds: list[int],
    fixed_supersteps: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, pagerank, trustrank, spam_mass) — relative spam mass
    (Gyongyi, Berkhin, Garcia-Molina, Pedersen, VLDB'06 §4): the
    fraction of a page's PageRank NOT accounted for by rank flowing
    from the trusted seed set.  PageRank here is the reference's
    unnormalized recurrence (init 1.0, total mass ~V) while TrustRank
    distributes unit mass over the seeds, so the trust score is scaled
    by V before comparison: ``spam_mass = (pr - V*tr) / pr``.  High
    values (near 1) mean rank earned almost entirely outside the
    trust neighborhood — the link-spam signal; trusted cores go
    negative (trust-rich relative to their raw rank), which the metric
    keeps rather than clamping so the ordering is informative.

    Scale shape: two independent fixed-superstep Pregel chains over the
    SAME graph (each one action per superstep, map-side-combined
    message sums) and one final id-equi-join; V folds in as a literal
    (one count action)."""
    n_v = vertices.count()
    pr = pagerank(
        vertices,
        edges,
        fixed_supersteps=fixed_supersteps,
        num_partitions=num_partitions,
    ).state.select("id", F.col("value").alias("pr"))
    tr = trustrank(
        vertices,
        edges,
        seeds=seeds,
        fixed_supersteps=fixed_supersteps,
        num_partitions=num_partitions,
    ).state.select("id", F.col("value").alias("tr"))
    return pr.join(tr, "id").select(
        "id",
        F.round("pr", 6).alias("pagerank"),
        F.round("tr", 6).alias("trustrank"),
        F.round(
            (F.col("pr") - F.lit(float(n_v)) * F.col("tr")) / F.col("pr"), 6
        ).alias("spam_mass"),
    )


def ppr_sweep_cut(
    vertices: DataFrame,
    edges: DataFrame,
    source: int = 0,
    supersteps: int = 8,
    top_l: int = 50,
) -> DataFrame:
    """(k, cut, vol, conductance) for k = 1..top_l — the conductance
    sweep of local clustering (Andersen, Chung & Lang, FOCS 2006):
    rank vertices by personalized PageRank from ``source`` (6dp-rounded
    score DESC, id ASC — the house cross-engine tie-break), then for
    every prefix of the top ``top_l`` report the undirected cut size,
    the volume (sum of undirected degrees), and phi = cut / min(vol,
    vol_total - vol).  The prefix with minimum phi is the local cluster;
    the whole curve is returned so the sweep is inspectable.

    Exact distributed form: cut(k) is computed with a DIFFERENCE ARRAY —
    an undirected edge whose ranked endpoints sit at ranks a < b is cut
    exactly for prefixes a <= k < b, so it emits (+1 at a, -1 at b), and
    an edge with one ranked endpoint at a is cut for every k >= a
    (+1 at a); per-k sums then one prefix-sum give every cut size in one
    pass over the edges — no per-prefix membership join.  Windows only
    ever see the top_l spine (driver-bounded), never the graph;
    conductance reports 0.0 when min(vol, vol_total - vol) = 0
    (degenerate whole-graph prefix, documented)."""
    from graphlite_spark.algos.components import symmetrize
    from pyspark.sql import Window

    res = personalized_pagerank(
        vertices, edges, source=source, fixed_supersteps=supersteps
    )
    scores = res.state.select("id", F.round("value", 6).alias("rank"))
    top = scores.orderBy(F.col("rank").desc(), F.col("id").asc()).limit(top_l)
    w = Window.orderBy(F.col("rank").desc(), F.col("id").asc())
    # res.state is engine-checkpointed, so re-deriving this tiny spine in
    # each consumer join is cheap — no persist to leak
    ranked = top.select(
        "id", F.row_number().over(w).cast("long").alias("r")
    )

    und = symmetrize(edges).select("src", "dst")
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    vol_total = deg.agg(F.sum("deg").cast("long").alias("vt"))

    pairs = und.where(F.col("src") < F.col("dst"))
    ra = ranked.select(F.col("id").alias("src"), F.col("r").alias("ra"))
    rb = ranked.select(F.col("id").alias("dst"), F.col("r").alias("rb"))
    tagged = pairs.join(ra, "src", "left").join(rb, "dst", "left").where(
        F.col("ra").isNotNull() | F.col("rb").isNotNull()
    )
    lo = F.least(F.coalesce("ra", F.lit(1 << 60)),
                 F.coalesce("rb", F.lit(1 << 60)))
    hi = F.greatest(F.coalesce("ra", F.lit(-1)), F.coalesce("rb", F.lit(-1)))
    both = F.col("ra").isNotNull() & F.col("rb").isNotNull()
    events = tagged.select(
        F.explode(
            F.when(
                both & (lo < hi),
                F.array(
                    F.struct(lo.alias("k"), F.lit(1).alias("d")),
                    F.struct(hi.alias("k"), F.lit(-1).alias("d")),
                ),
            )
            .when(both, F.array().cast("array<struct<k:long,d:int>>"))
            .otherwise(F.array(F.struct(lo.alias("k"), F.lit(1).alias("d"))))
        ).alias("ev")
    ).select(F.col("ev.k").alias("k"), F.col("ev.d").alias("d"))
    diffs = events.groupBy("k").agg(F.sum("d").alias("dd"))

    spine = ranked.join(deg, "id", "left").select(
        F.col("r").alias("k"), F.coalesce("deg", F.lit(0)).alias("deg")
    )
    wk = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    curve = (
        spine.join(diffs, "k", "left")
        .select("k", "deg", F.coalesce("dd", F.lit(0)).alias("dd"))
        .select(
            "k",
            F.sum("dd").over(wk).cast("long").alias("cut"),
            F.sum("deg").over(wk).cast("long").alias("vol"),
        )
    )
    out = curve.crossJoin(vol_total).select(
        "k",
        "cut",
        "vol",
        F.when(
            F.least(F.col("vol"), F.col("vt") - F.col("vol")) == 0, F.lit(0.0)
        )
        .otherwise(
            F.round(
                F.col("cut")
                / F.least(F.col("vol"), F.col("vt") - F.col("vol")),
                6,
            )
        )
        .alias("conductance"),
    )
    return out
