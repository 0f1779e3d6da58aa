"""Connected components via min-label propagation (Pregel HashMin).

Named by the north rule as a built-in the reference lacks (GraphLite ships
only PageRank — example/Makefile); follows the same vertex-program shape as
example/PageRankVertex.cc.  Components are defined over the *undirected*
closure of the edge set (FIXTURES.md §4): component(v) = min vertex id
reachable from v treating edges as undirected.

Semantics per superstep:
  ss0   : every vertex sends its own id to all neighbors, votes to halt.
  ss>=1 : reactivated vertices take m = min(inbox); if m < value, adopt it
          and re-broadcast; always vote to halt after compute.
Termination is the engine's built-in ``act==0 && sent==0`` test.
Converges in O(diameter) supersteps; every reduction is min (commutative +
associative), so Spark's map-side partial agg acts as the combiner.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphlite_spark.checkpoint import loop_scope, truncate_plan
from graphlite_spark.operators.pregel import (
    PregelAlgorithm,
    PregelEngine,
    PregelResult,
    warn_if_not_converged,
)


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected closure: src<->dst union, self-loops dropped, deduped."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return (
        fwd.unionByName(rev)
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )


class ConnectedComponents(PregelAlgorithm):
    name = "connected_components"
    value_type = "long"
    combine_expr = staticmethod(F.min)

    def __init__(self, max_supersteps: int = 200):
        self.max_supersteps = max_supersteps

    def init_value(self) -> Column:
        return F.col("id")

    def expr_cache_token(self, superstep: int, aggr: dict) -> object:
        # hooks branch only on superstep == 0 — all O(diameter) steady
        # supersteps reuse one built expression set (pregel.py contract)
        return ("ss0",) if superstep == 0 else ("steady",)

    def update_value(self, superstep: int, aggr: dict[str, float]) -> Column:
        if superstep == 0:
            return F.col("value")
        return F.when(
            F.col("has_msg") & (F.col("msg") < F.col("value")), F.col("msg")
        ).otherwise(F.col("value"))

    def update_send(self, superstep: int, aggr: dict[str, float]) -> Column:
        if superstep == 0:
            return F.lit(True)
        return F.col("has_msg") & (F.col("msg") < F.col("value"))

    def update_halt(self, superstep: int, aggr: dict[str, float]) -> Column:
        return F.lit(True)

    def message(self, superstep: int, aggr: dict[str, float]) -> Column:
        return F.col("value")


def connected_components_fast(
    vertices: DataFrame,
    edges: DataFrame,
    num_partitions: int | None = None,
    max_rounds: int = 64,
    already_undirected: bool = False,
) -> DataFrame:
    """(id, component) in **O(log diameter) rounds** via min-label
    relaxation + pointer shortcutting (label doubling).

    The Pregel variant above is reference-faithful BSP but needs
    O(diameter) supersteps — 73 on the sf0.1 transcript graph, 10^3+ on a
    10^12-turn conversation chain.  This variant adds one shortcut pass
    per round (``label(v) <- label(label(v))``), the classic pointer-
    jumping trick: effective propagation distance roughly doubles per
    round, so chains converge in ~log2(chain length) rounds.

    Invariants (correctness): a vertex's label is always the id of a
    vertex in its own component, and labels never increase — relaxation
    uses real edges, shortcutting composes two same-component facts.  The
    fixpoint (no label changed in a full round) therefore equals the
    Pregel/recursive-CTE fixpoint: component = min reachable id.

    Per round: 2 shuffles (neighbor-min gather; shortcut self-join) + the
    one change-count action; lineage truncated per round.  Labels are
    monotone, so the change count is computed from columns already in the
    round's plan — no extra comparison join.
    """
    from pyspark.sql import Observation

    und = edges if already_undirected else symmetrize(edges)
    a = vertices.select(F.col("id"), F.col("id").alias("comp"))
    # the relax join keys on e.src, so the sorted src leaf is reused
    # exchange- and sort-free every round
    with loop_scope(edges.sparkSession, num_partitions) as scope:
        e = scope.leaf(und.select("src", "dst"), "src")
        for _ in range(max_rounds):
            # relax: comp'(v) = min(comp(v), min over incoming neighbors)
            nbr = (
                e.join(a, e["src"] == a["id"])
                .groupBy(F.col("dst").alias("v"))
                .agg(F.min("comp").alias("nmin"))
            )
            b = a.join(nbr, a["id"] == nbr["v"], "left").select(
                "id",
                F.col("comp").alias("old"),
                F.least(F.col("comp"), F.coalesce("nmin", F.col("comp"))).alias(
                    "relaxed"
                ),
            )
            # shortcut: comp''(v) = comp'(comp'(v)) — labels name vertices,
            # so one equi-join composes the pointer (never increases: the
            # relaxed label of u is <= u for every u)
            lab = b.select(
                F.col("id").alias("lid"), F.col("relaxed").alias("lcomp")
            )
            # the change count rides the round's materialization as an
            # observed metric — no separate .agg().first() action/stages
            obs = Observation()
            nxt = truncate_plan(
                b.join(lab, b["relaxed"] == lab["lid"])
                .select("id", "old", F.col("lcomp").alias("comp"))
                .observe(
                    obs,
                    F.sum((F.col("comp") != F.col("old")).cast("long")).alias("n"),
                ),
                eager=True,
            )
            changed = obs.get["n"]
            a = nxt.select("id", "comp")
            if not changed:
                break
    return a.select("id", F.col("comp").alias("component"))


def incremental_components(
    prev_labels: DataFrame,
    new_edges: DataFrame,
    num_partitions: int | None = None,
    max_rounds: int = 64,
) -> DataFrame:
    """(id, component) — update a CC labeling with a batch of new edges
    WITHOUT recomputing over the full edge set.

    The maintenance story for a growing link graph (10^12 turns arrive
    continuously; re-running CC from scratch per batch is a full-data
    pass).  Key property of min-label CC: ``prev_labels`` already encodes
    the old partition, and each label IS the min vertex id of its
    component.  So merging is a fixpoint over the **contracted label
    graph** — vertices = labels touched by the batch, edges = new edges
    mapped endpoint→label — whose size is O(affected components + new
    vertices), not O(V).  :func:`connected_components_fast` on that
    contracted graph yields, for every touched label, the min id over all
    merged components; untouched components keep their labels via a left
    join.  The result is identical to a full recompute over
    (star-edges of ``prev_labels``) ∪ ``new_edges`` — the entry query's
    oracle checks exactly that, against the full-recompute SQL.

    Scale shape: two label-lookup joins (hash on id — broadcast-able when
    the batch is small), the contracted CC (tiny), one label-remap join.
    No pass over the old edge set at all.
    """
    und = symmetrize(new_edges).select("src", "dst")
    prev = prev_labels.select("id", "component")
    # endpoint -> label; endpoints never seen before label themselves.
    # ids comes from the RAW batch endpoints, not the symmetrized closure:
    # symmetrize() drops self-loops, so a brand-new vertex whose only batch
    # edges are self-loops would otherwise vanish from the output labeling
    # — a full recompute over vertices ∪ endpoints labels it with its own id
    ids = (
        new_edges.select(F.col("src").alias("id"))
        .unionByName(new_edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    lab = ids.join(prev, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("lab")
    )
    ls = lab.select(F.col("id").alias("src"), F.col("lab").alias("lsrc"))
    ld = lab.select(F.col("id").alias("dst"), F.col("lab").alias("ldst"))
    ce = (
        und.join(ls, "src").join(ld, "dst")
        .select(F.col("lsrc").alias("src"), F.col("ldst").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    cverts = (
        ce.select(F.col("src").alias("id"))
        .unionByName(ce.select(F.col("dst").alias("id")))
        .distinct()
    )
    merged = connected_components_fast(
        cverts,
        ce.withColumn("weight", F.lit(1.0)),
        num_partitions=num_partitions,
        max_rounds=max_rounds,
        already_undirected=True,
    ).select(F.col("id").alias("mlab"), F.col("component").alias("mcomp"))
    # base labeling = prev plus batch-only vertices (own id, possibly
    # remapped below); then remap any label merged by the batch
    fresh = lab.join(prev, "id", "left_anti").select(
        "id", F.col("lab").alias("component")
    )
    base = prev.unionByName(fresh)
    return base.join(
        merged, base["component"] == merged["mlab"], "left"
    ).select("id", F.coalesce("mcomp", "component").alias("component"))


def k_core(
    vertices: DataFrame,
    edges: DataFrame,
    k: int = 3,
    max_rounds: int = 40,
    already_undirected: bool = False,
) -> DataFrame:
    """(id, in_core) — iterative k-core peeling over the undirected graph.

    Each round drops vertices whose degree *within the surviving subgraph*
    is < k; stable set = the k-core.  Both the Spark loop and the unrolled
    SQL oracle run the identical round rule with the same ``max_rounds``
    cap, so equality holds even if the cap binds (both sides are then the
    same "R-round partial peel").  Per round: two semi-joins (edge
    filtering) + one map-side-combined degree count; survivors only ever
    shrink, so round cost is monotonically decreasing.
    """
    from pyspark.sql import Observation

    und = edges if already_undirected else symmetrize(edges)
    alive = vertices.select("id")
    # staged closure: rounds stop re-analyzing the symmetrize/distinct
    # lineage, and the degree shuffle width follows the data
    with loop_scope(edges.sparkSession) as scope:
        e0 = scope.stage(und.select("src", "dst"))
        prev_n = alive.count()
        for _ in range(max_rounds):
            ea = e0.join(
                alive.select(F.col("id").alias("src")), "src", "left_semi"
            ).join(alive.select(F.col("id").alias("dst")), "dst", "left_semi")
            deg = ea.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
            # the survivor count rides the round's materialization as an
            # observed metric — no separate count() action/stages
            obs = Observation()
            alive = (
                alive.join(
                    deg.where(F.col("c") >= k).select(F.col("src").alias("id")),
                    "id",
                    "left_semi",
                )
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            n = int(obs.get["n"] or 0)
            if n == prev_n:
                break
            prev_n = n
    core = alive.select(F.col("id").alias("cid"))
    return vertices.select("id").join(
        core, vertices["id"] == core["cid"], "left"
    ).select("id", F.col("cid").isNotNull().alias("in_core"))


def coreness(
    vertices: DataFrame,
    edges: DataFrame,
    max_k: int = 4,
    max_rounds: int = 64,
    already_undirected: bool = False,
) -> DataFrame:
    """(id, coreness) — full core decomposition: coreness(v) = the largest
    k such that v survives the k-core peel (0 for isolated vertices).

    Iterated peeling: level k starts from the (k-1)-core's survivors
    (k-core ⊆ (k-1)-core, so each level peels a shrinking set) and runs the
    identical round rule as :func:`k_core`.  ``max_k`` caps the
    decomposition — vertices in a core deeper than ``max_k`` report
    ``max_k`` — and the SQL oracle unrolls the same levels/rounds, so
    equality holds even where a cap binds (both sides are then the same
    capped peel).  Levels are inherently sequential, but real link graphs
    have tiny max coreness relative to V (the chain-heavy transcript graph
    tops out at 2), and each level's work shrinks monotonically; the
    per-round shape is k_core's two semi-joins + one map-side-combined
    degree count on the surviving subgraph.
    """
    from pyspark.sql import Observation

    und = edges if already_undirected else symmetrize(edges)
    out = vertices.select("id", F.lit(0).cast("long").alias("coreness"))
    alive = vertices.select("id")
    # staged closure + observed survivor counts — the k_core loop
    with loop_scope(edges.sparkSession) as scope:
        e0 = scope.stage(und.select("src", "dst"))
        for k in range(1, max_k + 1):
            prev_n = alive.count()
            if prev_n == 0:
                break
            for _ in range(max_rounds):
                ea = e0.join(
                    alive.select(F.col("id").alias("src")), "src", "left_semi"
                ).join(alive.select(F.col("id").alias("dst")), "dst", "left_semi")
                deg = ea.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
                obs = Observation()
                alive = (
                    alive.join(
                        deg.where(F.col("c") >= k).select(F.col("src").alias("id")),
                        "id",
                        "left_semi",
                    )
                    .observe(obs, F.count(F.lit(1)).alias("n"))
                    .localCheckpoint(eager=True)
                )
                n = int(obs.get["n"] or 0)
                if n == prev_n:
                    break
                prev_n = n
            if prev_n == 0:
                break
            survivors = alive.select(F.col("id").alias("kid"))
            out = (
                out.join(survivors, out["id"] == survivors["kid"], "left")
                .select(
                    "id",
                    F.when(F.col("kid").isNotNull(), F.lit(k))
                    .otherwise(F.col("coreness"))
                    .cast("long")
                    .alias("coreness"),
                )
                .localCheckpoint(eager=False)
            )
    return out


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    num_partitions: int | None = None,
    checkpointer=None,
    run_id: str = "cc",
    already_undirected: bool = False,
) -> PregelResult:
    und = edges if already_undirected else symmetrize(edges)
    eng = PregelEngine(num_partitions=num_partitions, checkpointer=checkpointer,
                       run_id=run_id)
    return warn_if_not_converged(
        eng.run(vertices, und, ConnectedComponents()), "connected_components"
    )


def attack_tolerance(
    vertices: DataFrame,
    edges: DataFrame,
    remove_k: int = 10,
    und: DataFrame | None = None,
) -> DataFrame:
    """(removed, n_vertices, giant_size, giant_micros) — targeted-attack
    robustness (Albert, Jeong & Barabási 2000, public literature): drop
    the ``remove_k`` highest-degree vertices (ties (degree DESC, id
    ASC)) and report the giant connected component of what remains, as
    a count and as an exact-ratio fraction of the ORIGINAL vertex set.
    Scale-free graphs shatter under this while random failures barely
    dent them — the one-number infrastructure-risk readout for a link
    graph (how much of the network one hub outage, crawler block, or
    spam takedown disconnects).

    Scale shape: the hub list is a TakeOrderedAndProject(k) over the
    map-side-combined undirected degree count, collected and pushed
    back as a k-item literal IN filter (no join); the surviving graph
    runs :func:`connected_components_fast` (the O(log d) hash-to-min
    loop); the giant size is one grouped count + a 1-row max.

    ``und``: optionally pass the symmetrized closure (ideally
    materialized) so curve queries that call this at several ``k``
    share ONE symmetrize instead of re-running the distinct shuffle
    per point (the wedge family's ``und=`` pattern)."""
    if und is None:
        und = symmetrize(edges)
    hubs = [
        int(r["src"])
        for r in und.groupBy("src")
        .agg(F.count(F.lit(1)).alias("d"))
        .orderBy(F.col("d").desc(), F.col("src").asc())
        .limit(remove_k)
        .collect()
    ]
    n_total = vertices.count()
    vf = vertices.select("id").where(~F.col("id").isin(hubs))
    ef = und.where(
        (~F.col("src").isin(hubs)) & (~F.col("dst").isin(hubs))
    )
    # ef is a filter of the symmetric closure, hence still symmetric —
    # skip cc's own symmetrize (a second full distinct shuffle)
    cc = connected_components_fast(vf, ef, already_undirected=True)
    giant = (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
        .agg(F.max("sz").cast("long").alias("giant_size"))
    )
    return giant.select(
        F.lit(len(hubs)).cast("long").alias("removed"),
        F.lit(int(n_total)).cast("long").alias("n_vertices"),
        F.coalesce("giant_size", F.lit(0)).cast("long").alias("giant_size"),
        F.expr(
            f"(1000000 * coalesce(giant_size, 0)"
            f" - (1000000 * coalesce(giant_size, 0)) % {n_total})"
            f" div {n_total}"
        ).cast("long").alias("giant_micros"),
    )


def random_failure_tolerance(
    vertices: DataFrame,
    edges: DataFrame,
    remove_k: int = 10,
    und: DataFrame | None = None,
) -> DataFrame:
    """(removed, n_vertices, giant_size, giant_micros) — random-FAILURE
    robustness, the control arm of :func:`attack_tolerance` (Albert,
    Jeong & Barabási 2000): drop ``remove_k`` vertices chosen by
    deterministic hash rank (hash48(id) ASC, id ASC ties — an unbiased,
    engine-reproducible stand-in for a uniform random sample) and
    report the giant connected component of what remains.  Scale-free
    graphs barely notice random failures while shattering under the
    targeted attack — reading BOTH numbers side by side is the actual
    robustness diagnostic (a big gap = hub-dependent topology).

    Scale shape: the victim list is a TakeOrderedAndProject(k) over the
    vertex table (no degree pass needed at all), collected and pushed
    back as a k-item literal IN filter (no join); the rest is identical
    to the attack arm — :func:`connected_components_fast` then one
    grouped count + a 1-row max."""
    from graphlite_spark.functions.hashes import hash48

    victims = [
        int(r["id"])
        for r in vertices.select("id")
        .orderBy(hash48(F.col("id").cast("string")).asc(), F.col("id").asc())
        .limit(remove_k)
        .collect()
    ]
    n_total = vertices.count()
    if und is None:
        und = symmetrize(edges)
    vf = vertices.select("id").where(~F.col("id").isin(victims))
    ef = und.where(
        (~F.col("src").isin(victims)) & (~F.col("dst").isin(victims))
    )
    # ef is still symmetric (filter of the closure) — skip re-symmetrize
    cc = connected_components_fast(vf, ef, already_undirected=True)
    giant = (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("sz"))
        .agg(F.max("sz").cast("long").alias("giant_size"))
    )
    return giant.select(
        F.lit(len(victims)).cast("long").alias("removed"),
        F.lit(int(n_total)).cast("long").alias("n_vertices"),
        F.coalesce("giant_size", F.lit(0)).cast("long").alias("giant_size"),
        F.expr(
            f"(1000000 * coalesce(giant_size, 0)"
            f" - (1000000 * coalesce(giant_size, 0)) % {n_total})"
            f" div {n_total}"
        ).cast("long").alias("giant_micros"),
    )


def core_periphery_blocks(
    vertices: DataFrame,
    edges: DataFrame,
    k: int = 2,
    max_rounds: int = 64,
) -> DataFrame:
    """One row (n_core, n_periphery, e_cc, e_cp, e_pp, dens_cc_micros,
    dens_cp_micros, dens_pp_micros) — the discrete core–periphery block
    model (Borgatti & Everett 1999, public literature) with the core
    fixed to the ``k``-core survivors: undirected edge counts and
    densities of the core–core, core–periphery and periphery–periphery
    blocks.  An ideal core–periphery structure has dens_cc ≫ dens_cp ≫
    dens_pp ≈ 0 — the one-row fingerprint that says whether the graph
    is a hairball or a hub-and-spoke.

    Exactness: block counts are BIGINTs over the deduped u<v edge set;
    densities are truncating micros divisions by the exact block pair
    counts (n_c·(n_c−1)/2, n_c·n_p, n_p·(n_p−1)/2), NULL when a block
    has no possible pairs.

    Scale shape: one k-core peel (two semi-joins + a degree count per
    round, shrinking survivors), then ONE pass over the undirected
    edge set with two broadcastable membership semi-join lookups and a
    scalar rollup — no quadratic block materialization."""
    core = k_core(vertices, edges, k=k, max_rounds=max_rounds)
    und = symmetrize(edges).where(F.col("src") < F.col("dst")).select(
        "src", "dst"
    )
    mem = core.select(
        "id", F.col("in_core").cast("int").alias("c")
    )
    tagged = (
        und.join(
            mem.select(F.col("id").alias("src"), F.col("c").alias("ca")),
            "src",
        )
        .join(
            mem.select(F.col("id").alias("dst"), F.col("c").alias("cb")),
            "dst",
        )
        .select((F.col("ca") + F.col("cb")).alias("nc"))
    )
    eagg = tagged.agg(
        F.sum((F.col("nc") == 2).cast("long")).alias("e_cc"),
        F.sum((F.col("nc") == 1).cast("long")).alias("e_cp"),
        F.sum((F.col("nc") == 0).cast("long")).alias("e_pp"),
    )
    nagg = mem.agg(
        F.sum("c").cast("long").alias("n_core"),
        F.sum(1 - F.col("c")).cast("long").alias("n_periphery"),
    )
    return (
        nagg.crossJoin(F.broadcast(eagg))
        .select(
            "n_core", "n_periphery",
            F.coalesce("e_cc", F.lit(0)).cast("long").alias("e_cc"),
            F.coalesce("e_cp", F.lit(0)).cast("long").alias("e_cp"),
            F.coalesce("e_pp", F.lit(0)).cast("long").alias("e_pp"),
            F.when(
                F.col("n_core") >= 2,
                F.expr(
                    "(1000000 * coalesce(e_cc, 0))"
                    " div ((n_core * (n_core - 1)) div 2)"
                ),
            ).cast("long").alias("dens_cc_micros"),
            F.when(
                (F.col("n_core") > 0) & (F.col("n_periphery") > 0),
                F.expr(
                    "(1000000 * coalesce(e_cp, 0))"
                    " div (n_core * n_periphery)"
                ),
            ).cast("long").alias("dens_cp_micros"),
            F.when(
                F.col("n_periphery") >= 2,
                F.expr(
                    "(1000000 * coalesce(e_pp, 0))"
                    " div ((n_periphery * (n_periphery - 1)) div 2)"
                ),
            ).cast("long").alias("dens_pp_micros"),
        )
    )


def peel_layer_histogram(
    vertices: DataFrame,
    edges: DataFrame,
    k: int = 2,
    max_rounds: int = 64,
) -> DataFrame:
    """(layer, n_vertices) — the onion-decomposition view of the
    ``k``-core peel (Hébert-Dufresne et al. 2016, public literature):
    layer r = vertices removed in the r-th synchronized peel round
    (how deep into the periphery they sit), layer 0 = the surviving
    k-core.  The depth PROFILE complements :func:`k_core`'s binary
    membership and :func:`coreness`'s per-level number — a long thin
    onion (many layers, few vertices each) is a chain-periphery
    graph; a fat shallow one is hub-and-spoke.

    Both engines run the identical round rule and cap, so equality
    holds even if the cap binds (the k_core discipline); rounds with
    no removals after the fixpoint contribute no rows.

    Scale shape: the k_core loop (two semi-joins + a degree count
    per round on shrinking survivors); per round ONE count action —
    the histogram is round-count-sized driver state (the kmeans
    codebook precedent), never a per-vertex collect."""
    from pyspark.sql import Observation

    spark = edges.sparkSession
    alive = vertices.select("id")
    rows: list[tuple[int, int]] = []
    # staged closure + observed survivor counts — the k_core loop
    with loop_scope(spark) as scope:
        e0 = scope.stage(symmetrize(edges).select("src", "dst"))
        prev_n = alive.count()
        for r in range(1, max_rounds + 1):
            ea = e0.join(
                alive.select(F.col("id").alias("src")), "src", "left_semi"
            ).join(
                alive.select(F.col("id").alias("dst")), "dst", "left_semi"
            )
            deg = ea.groupBy("src").agg(F.count(F.lit(1)).alias("c"))
            obs = Observation()
            alive = (
                alive.join(
                    deg.where(F.col("c") >= k).select(
                        F.col("src").alias("id")
                    ),
                    "id",
                    "left_semi",
                )
                .observe(obs, F.count(F.lit(1)).alias("n"))
                .localCheckpoint(eager=True)
            )
            n = int(obs.get["n"] or 0)
            if prev_n - n > 0:
                rows.append((r, prev_n - n))
            if n == prev_n:
                break
            prev_n = n
    if prev_n > 0:
        rows.append((0, prev_n))
    return spark.createDataFrame(
        rows, "layer int, n_vertices long"
    )
