"""Multi-source BFS with bitmask propagation → harmonic centrality.

Closeness-style centralities need distances from many sources; running
k separate BFS passes costs k full traversals.  MS-BFS (Then et al.,
VLDB 2014 — public literature) runs up to 63 sources SIMULTANEOUSLY by
giving each source one bit of a 64-bit mask (bit 63 stays unused — it
is the sign bit of a BIGINT on both engines): a vertex's state is the
set of sources that have reached it, messages are masks, and the
combiner is bitwise OR — one traversal, k frontiers.

Expressed on the repo's Pregel contract as one more user program (the
extension point SURVEY.md §2.1 #21 exists for): struct state
``(mask, h)``, a custom ``combine`` overriding the default aggregate
with ``bit_or`` (commutative+associative ⇒ Spark's map-side partial agg
still pre-combines — a hub's reducer sees ≤P partial masks), and the
harmonic sum accumulated IN-ENGINE: when ``c`` new source bits arrive
at superstep ``d``, the vertex adds ``c · (10^6 div d)`` micro-units —
integer arithmetic, so the result is hash-exact against the unrolled
SQL oracle.  harmonic(v) = Σ_s 1/d(s,v) over the sampled sources
(the standard estimator; sources are the sampled subset, self-distance
excluded).

Scale shape: identical to one BFS — the k-fold win is the point.  The
per-superstep message volume is one long per frontier edge regardless
of k ≤ 63; beyond 63 sources, batches of 63 reuse the same program.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphlite_spark.checkpoint import loop_scope
from graphlite_spark.operators.pregel import (
    PregelAlgorithm,
    PregelEngine,
    PregelResult,
)

MICRO = 1_000_000


class MultiSourceBFS(PregelAlgorithm):
    name = "msbfs_harmonic"
    value_type = "struct<mask:bigint,h:bigint>"

    def __init__(self, sources: list[int], max_supersteps: int = 64,
                 fixed_supersteps: int | None = None):
        # 63, not 64: bit 63 is the sign bit of a Spark/DuckDB BIGINT —
        # the literal 1 << 63 overflows a signed long on both engines
        if not sources or len(sources) > 63:
            raise ValueError("1..63 sources per MS-BFS batch")
        if len(set(sources)) != len(sources):
            raise ValueError("sources must be distinct")
        self.sources = list(sources)
        self.max_supersteps = (
            fixed_supersteps if fixed_supersteps is not None else max_supersteps
        )

    def _init_mask(self) -> Column:
        expr = F.lit(0).cast("long")
        for i, s in enumerate(self.sources):
            expr = F.when(F.col("id") == s, F.lit(1 << i).cast("long")).otherwise(expr)
        return expr

    @staticmethod
    def _mk(mask: Column, h: Column) -> Column:
        return F.struct(
            mask.cast("long").alias("mask"), h.cast("long").alias("h")
        )

    def init_value(self) -> Column:
        return self._mk(F.lit(0), F.lit(0))

    def _newly(self) -> Column:
        return F.col("msg").getField("mask").bitwiseAND(
            F.bitwise_not(F.col("value").getField("mask"))
        )

    def update_value(self, superstep: int, aggr: dict[str, float]) -> Column:
        if superstep == 0:
            return self._mk(self._init_mask(), F.lit(0))
        mask = F.col("value").getField("mask")
        h = F.col("value").getField("h")
        newly = self._newly()
        # c new sources arriving at hop-distance `superstep` contribute
        # c * (1e6 div superstep) micro-units to the harmonic sum
        return F.when(
            F.col("has_msg") & (newly != 0),
            self._mk(
                mask.bitwiseOR(newly),
                h + F.bit_count(newly).cast("long") * F.lit(MICRO // superstep),
            ),
        ).otherwise(F.col("value"))

    def update_send(self, superstep: int, aggr: dict[str, float]) -> Column:
        if superstep == 0:
            # update_send evaluates against the PRE-update row (engine
            # contract: `value` here is the old value), so test the init
            # mask expression, not the state — the BFS `id == source`
            # pattern generalized to k sources
            return self._init_mask() != 0
        return F.col("has_msg") & (self._newly() != 0)

    def update_halt(self, superstep: int, aggr: dict[str, float]) -> Column:
        return F.lit(True)

    def message(self, superstep: int, aggr: dict[str, float]) -> Column:
        # full current mask: receivers OR-in only what's new to them
        return self._mk(F.col("value").getField("mask"), F.lit(0))

    def combine(self, msgs: DataFrame) -> DataFrame:
        # bitwise-OR combiner over the mask field (h rides as 0) —
        # commutative + associative, so map-side partial agg pre-combines
        return msgs.groupBy("dst").agg(
            F.struct(
                F.bit_or(F.col("msg").getField("mask")).alias("mask"),
                F.lit(0).cast("long").alias("h"),
            ).alias("msg")
        )


def harmonic_centrality(
    vertices: DataFrame,
    edges: DataFrame,
    sources: list[int],
    fixed_supersteps: int | None = None,
    num_partitions: int | None = None,
) -> PregelResult:
    """MS-BFS over the directed edge table from ``sources`` (≤63); the
    result state's ``h`` field is harmonic-centrality micro-units
    Σ_s (10^6 div d(s, v)) and ``mask`` the reached-by set."""
    algo = MultiSourceBFS(sources, fixed_supersteps=fixed_supersteps)
    eng = PregelEngine(num_partitions=num_partitions)
    return eng.run(vertices, edges, algo)


class MultiSourceBFSEcc(MultiSourceBFS):
    """MS-BFS + a per-superstep GLOBAL aggregator: the bitwise OR of the
    mask bits that arrived anywhere this superstep.  Eccentricity needs
    no per-vertex per-source distance — ecc(s) is simply the LAST
    superstep at which source s's frontier was non-empty, which is
    exactly "bit s set in the newly-arrived OR".  One extra column on
    the existing single stats action (op #12, arbitrary merge fn =
    ``bit_or``) — zero additional shuffles or actions."""

    name = "msbfs_eccentricity"

    def aggregators(self, superstep: int, aggr: dict):
        newly = F.col("value").getField("mask").bitwiseAND(
            F.bitwise_not(F.col("old_value").getField("mask"))
        )
        return {"newly_or": (newly, F.bit_or)}


def eccentricity(
    vertices: DataFrame,
    edges: DataFrame,
    sources: list[int],
    fixed_supersteps: int | None = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """(source, eccentricity, reached) per BFS source — eccentricity
    within the ``fixed_supersteps - 1``-hop horizon (the engine's ss0
    convention; pass None to run to frontier exhaustion, giving the true
    eccentricity within each source's reachable set), reached = vertices
    holding the source's bit (self included).  max(eccentricity) over
    sources is the standard diameter lower bound.

    The per-source values come from the aggregator TIMELINE
    (res.metrics), not from a second pass over the state: k sources cost
    one traversal and one k-column popcount aggregate."""
    algo = MultiSourceBFSEcc(sources, fixed_supersteps=fixed_supersteps)
    eng = PregelEngine(num_partitions=num_partitions)
    res = eng.run(vertices, edges, algo)
    spark = vertices.sparkSession
    ecc = {i: 0 for i in range(len(sources))}
    for m in res.metrics:
        if m.superstep < 1:
            continue  # ss0 arrivals are the sources themselves (d=0)
        newly = int(m.aggregates.get("newly_or") or 0)
        for i in range(len(sources)):
            if (newly >> i) & 1:
                ecc[i] = max(ecc[i], m.superstep)
    mask = F.col("value").getField("mask")
    reach_row = res.state.agg(
        *[
            F.sum(F.shiftright(mask, i).bitwiseAND(F.lit(1))).alias(f"r{i}")
            for i in range(len(sources))
        ]
    ).first()
    rows = [
        (int(s), int(ecc[i]), int(reach_row[f"r{i}"]))
        for i, s in enumerate(sources)
    ]
    return spark.createDataFrame(
        rows, "source long, eccentricity long, reached long"
    )


class MultiSourceBFSLin(MultiSourceBFS):
    """MS-BFS accumulating the closeness substrate per VERTEX: ``cnt``
    (how many sampled sources reached it) and ``sd`` (sum of hop
    distances from those sources) — the two integers behind both
    classic closeness ``cnt / sd`` and Lin's index ``cnt² / sd``
    (Lin 1976; Boldi & Vigna, "Axioms for Centrality", 2014 — Lin's
    repair of closeness for disconnected/partially-reached graphs).
    Same traversal cost as harmonic: one BFS for k ≤ 63 sources."""

    name = "msbfs_lin"
    value_type = "struct<mask:bigint,sd:bigint,cnt:bigint>"

    @staticmethod
    def _mk3(mask: Column, sd: Column, cnt: Column) -> Column:
        return F.struct(
            mask.cast("long").alias("mask"),
            sd.cast("long").alias("sd"),
            cnt.cast("long").alias("cnt"),
        )

    def init_value(self) -> Column:
        return self._mk3(F.lit(0), F.lit(0), F.lit(0))

    def update_value(self, superstep: int, aggr: dict[str, float]) -> Column:
        if superstep == 0:
            # a source reaches itself at distance 0: contributes 0 to
            # sd and 1 to cnt (Lin counts the vertex's own closed ball)
            m = self._init_mask()
            return self._mk3(m, F.lit(0), F.bit_count(m).cast("long"))
        mask = F.col("value").getField("mask")
        sd = F.col("value").getField("sd")
        cnt = F.col("value").getField("cnt")
        newly = self._newly()
        c = F.bit_count(newly).cast("long")
        return F.when(
            F.col("has_msg") & (newly != 0),
            self._mk3(
                mask.bitwiseOR(newly),
                sd + c * F.lit(superstep),
                cnt + c,
            ),
        ).otherwise(F.col("value"))

    def message(self, superstep: int, aggr: dict[str, float]) -> Column:
        return self._mk3(
            F.col("value").getField("mask"), F.lit(0), F.lit(0)
        )

    def combine(self, msgs: DataFrame) -> DataFrame:
        return msgs.groupBy("dst").agg(
            F.struct(
                F.bit_or(F.col("msg").getField("mask")).alias("mask"),
                F.lit(0).cast("long").alias("sd"),
                F.lit(0).cast("long").alias("cnt"),
            ).alias("msg")
        )


def lin_centrality(
    vertices: DataFrame,
    edges: DataFrame,
    sources: list[int],
    fixed_supersteps: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, reached, sum_dist, lin_micros) — Lin's closeness index from
    the sampled sources, integer micro-units:
    ``lin = (10^6 · reached²) div sum_dist`` (exact BIGINT div, the
    repo's determinism discipline), with the Boldi–Vigna convention
    ``lin = 10^6`` for vertices whose only reacher is themselves
    (sum_dist = 0) and 0 for vertices no source reaches."""
    algo = MultiSourceBFSLin(sources, fixed_supersteps=fixed_supersteps)
    eng = PregelEngine(num_partitions=num_partitions)
    res = eng.run(vertices, edges, algo)
    st = F.col("value")
    cnt = st.getField("cnt")
    sd = st.getField("sd")
    return res.state.select(
        "id",
        cnt.alias("reached"),
        sd.alias("sum_dist"),
        F.when(cnt == 0, F.lit(0).cast("long"))
        .when(sd == 0, F.lit(MICRO).cast("long"))
        .otherwise(F.expr(f"({MICRO} * value.cnt * value.cnt) div value.sd"))
        .cast("long")
        .alias("lin_micros"),
    )


def katz_centrality(
    vertices: DataFrame,
    edges: DataFrame,
    iterations: int = 6,
    alpha_den: int = 8,
) -> DataFrame:
    """(id, katz) — Katz prestige (Katz 1953) in integer micro-units:
    ``katz_{t+1}(v) = 10^6 + Σ_{u→v} katz_t(u) div alpha_den`` over
    DIRECTED in-edges, ``iterations`` fixed rounds from katz_0 = 10^6.

    α = 1/alpha_den as per-term INTEGER division — the same
    reproducibility discipline as weighted_pagerank: a float α·x sum
    would be summation-order-dependent across partitionings/engines, the
    integer form is bit-identical and the truncation error (< 1 micro
    per in-edge per round) is far below any ranking use.  Convergence
    needs α < 1/λ_max; 1/8 is comfortably inside it for the sparse
    transcript graph (spectral radius ≈ max chain branching).  Per
    round: one equi-join + one map-side-combined groupBy — rank-sized
    shuffles; loop discipline matches the engine (AQE off, lazy
    localCheckpoint per round)."""
    MICRO = 1_000_000
    with loop_scope(edges.sparkSession) as scope:
        e = scope.leaf(edges.select("src", "dst"), "src")
        state = vertices.select(
            "id", F.lit(MICRO).cast("long").alias("katz")
        ).localCheckpoint(eager=False)
        for _ in range(iterations):
            msg = (
                e.join(
                    state.select(F.col("id").alias("src"), "katz"), "src"
                )
                .select(
                    F.col("dst").alias("id"),
                    F.expr(f"katz div {alpha_den}").alias("m"),
                )
                .groupBy("id")
                .agg(F.sum("m").alias("s"))
            )
            state = (
                state.select("id")
                .join(msg, "id", "left")
                .select(
                    "id",
                    (F.lit(MICRO) + F.coalesce("s", F.lit(0)))
                    .cast("long")
                    .alias("katz"),
                )
                .localCheckpoint(eager=False)
            )
        state.count()
    return state


def eigenvector_centrality(
    vertices: DataFrame,
    edges: DataFrame,
    iterations: int = 6,
) -> DataFrame:
    """(id, eig) — power-iteration eigenvector centrality (Bonacich
    1972, public literature) in integer micro-units, completing the
    spectral-centrality family next to PageRank/Katz/HITS/SALSA:
    ``s_{t+1}(v) = Σ_{u→v} x_t(u)`` over directed in-edges from
    x_0 = 10^6, then MAX-normalized ``x_{t+1} = (10^6·s) div max_v s``
    so the top vertex reads exactly 10^6 each round.

    Determinism: the gather is an exact BIGINT sum and the
    normalization one integer division per vertex by a 1-row max —
    bit-identical across engines/partitionings (the katz discipline;
    a float L2 normalization would be summation-order-dependent).
    Headroom: 10^6·s needs s < 2^43 ≈ 8.8e12 micro-units — max
    in-degree ~8.8e6 at full saturation, far above the graphs here;
    beyond that, pre-scale with a coarser unit.  Vertices with no
    in-path from a cycle decay to 0 (the standard directed-spectral
    behavior; run on the loop-closed graph for conversation chains).

    Per round: one equi-join + one map-side-combined groupBy + a 1-ROW
    max broadcast back — rank-sized shuffles, loop discipline matches
    the engine (AQE off, lazy localCheckpoint per round)."""
    MICRO = 1_000_000
    with loop_scope(edges.sparkSession) as scope:
        e = scope.leaf(edges.select("src", "dst"), "src")
        state = vertices.select(
            "id", F.lit(MICRO).cast("long").alias("eig")
        ).localCheckpoint(eager=False)
        for _ in range(iterations):
            msg = (
                e.join(state.select(F.col("id").alias("src"), "eig"), "src")
                .select(F.col("dst").alias("id"), F.col("eig").alias("m"))
                .groupBy("id")
                .agg(F.sum("m").alias("s"))
            )
            s_all = (
                state.select("id")
                .join(msg, "id", "left")
                .select("id", F.coalesce("s", F.lit(0)).cast("long").alias("s"))
            )
            mx = s_all.agg(F.max("s").alias("mx"))
            state = (
                s_all.join(F.broadcast(mx))
                .select(
                    "id",
                    F.when(
                        F.col("mx") > 0,
                        F.expr(f"({MICRO} * s) div mx"),
                    )
                    .otherwise(F.lit(0))
                    .cast("long")
                    .alias("eig"),
                )
                .localCheckpoint(eager=False)
            )
        out = state.localCheckpoint(eager=True)
    return out


def spectral_gap_lambda2(
    edges: DataFrame,
    iterations: int = 8,
) -> DataFrame:
    """One row (n_vertices, n_edges_und, slem_micros, gap_micros) —
    the SLEM (second-largest eigenvalue MODULUS, signed) of the
    random-walk matrix of the UNDIRECTED graph, by DEFLATED integer
    power iteration, and the spectral gap 1 − |λ|.  The mixing-time /
    bottleneck readout the spectral family is missing:
    :func:`eigenvector_centrality` tracks the TOP eigenpair,
    conductance/PPR-sweep probe individual cuts — the SLEM bounds them
    all at once (mixing time ~ 1/(1−SLEM); Cheeger ties the positive
    end to conductance, public literature).  |λ| → 1 (gap → 0) means
    near-disconnected communities (λ ≈ +1) or near-bipartite /
    chain-periodic structure (λ ≈ −1); small |λ| means fast mixing —
    power iteration converges to whichever non-stationary direction
    dominates IN MODULUS, which is exactly the mixing bound's operand.

    Method: the walk matrix P (column-stochastic: mass leaving u
    splits as x(u) div deg(u)) has top eigenpair (1, deg), known in
    closed form — so each round deflates the degree direction with the
    exact projection ``c = (10⁶·Σ y·d) div Σ d²`` and renormalizes to
    ±10⁶ by max-|·| truncating division (the eigenvector_centrality
    discipline).  The start vector spreads each vertex over
    ±10⁶ via hash48('sg:'||id) — deterministic, engine-agnostic, and
    generically non-orthogonal to every eigendirection (a parity
    start can sit exactly orthogonal to a component-contrast
    direction and silently miss a disconnection).  λ is the final
    Rayleigh quotient ``(10⁶·Σ x·Px) div Σ x²``.

    Exactness: per-vertex steps are BIGINT with truncating division
    (Spark ``div`` == DuckDB ``//``, toward zero — verified on
    negatives); the three inner products ride DECIMAL(38,0) sums
    (exact, order-free) and the scalar divisions run on collected
    exact ints.  NULL λ₂ when the deflated vector vanishes (e.g. a
    regular bipartite-free graph aligned with deg) or Σ x² = 0.

    Per round: one equi-join gather + map-side-combined groupBy + two
    1-row scalar actions (the k-means collect discipline) — rank-sized
    shuffles, AQE off, lazy localCheckpoint per round (linear loop,
    no self-join: plain checkpoint suffices, cf. CLAUDE.md)."""
    from graphlite_spark.functions.hashes import hash48

    MICRO = 1_000_000
    dec = "decimal(38,0)"
    spark = edges.sparkSession
    schema = (
        "n_vertices long, n_edges_und long, slem_micros long,"
        " gap_micros long"
    )

    def gather(st: DataFrame) -> DataFrame:
        xd = st.select(
            F.col("id").alias("src"), F.expr("x div d").alias("xd")
        )
        msg = (
            und.join(xd, "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("xd").cast("long").alias("y"))
        )
        return (
            st.select("id", "d")
            .join(msg, "id", "left")
            .select(
                "id", "d", F.coalesce("y", F.lit(0)).cast("long").alias("y")
            )
        )

    with loop_scope(spark) as scope:
        und = scope.leaf(
            edges.select("src", "dst")
            .where(F.col("src") != F.col("dst"))
            .unionByName(
                edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ).where(F.col("src") != F.col("dst"))
            )
            .distinct(),
            "src",
        )
        ne = scope.rows // 2
        deg = und.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("d")
        )
        nv = deg.count()
        if nv == 0:
            return spark.createDataFrame([], schema)
        sdd = int(
            deg.agg(
                F.sum((F.col("d").cast(dec) * F.col("d").cast(dec))).alias("s")
            ).first()["s"]
        )
        state = deg.select(
            "id",
            "d",
            (
                hash48(F.concat(F.lit("sg:"), F.col("id").cast("string")))
                % F.lit(2 * MICRO + 1)
                - F.lit(MICRO)
            ).cast("long").alias("x"),
        ).localCheckpoint(eager=False)
        for _ in range(int(iterations)):
            g = gather(state).localCheckpoint(eager=False)
            syd = int(
                g.agg(
                    F.sum(
                        F.col("y").cast(dec) * F.col("d").cast(dec)
                    ).alias("s")
                ).first()["s"]
            )
            qc = abs(MICRO * syd) // sdd
            c = qc if (syd >= 0) else -qc
            defl = g.select(
                "id",
                "d",
                (
                    F.col("y")
                    - F.expr(f"(cast({c} as bigint) * d) div {MICRO}")
                ).cast("long").alias("f"),
            )
            mx = int(
                defl.agg(F.max(F.abs(F.col("f"))).alias("m")).first()["m"]
            )
            if mx == 0:
                state = defl.select(
                    "id", "d", F.col("f").alias("x")
                ).localCheckpoint(eager=False)
                break
            state = defl.select(
                "id",
                "d",
                F.expr(f"({MICRO} * f) div {mx}").cast("long").alias("x"),
            ).localCheckpoint(eager=False)
        z = gather(state.select("id", "d", "x"))
        fin = (
            state.select("id", "d", "x")
            .join(z.select("id", F.col("y").alias("z")), "id")
            .agg(
                F.sum(F.col("x").cast(dec) * F.col("z").cast(dec)).alias(
                    "sxz"
                ),
                F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).alias(
                    "sxx"
                ),
            )
            .first()
        )
    sxz, sxx = int(fin["sxz"]), int(fin["sxx"])
    lam = None
    if sxx > 0:
        q = abs(MICRO * sxz) // sxx
        lam = q if sxz >= 0 else -q
    gap = None if lam is None else MICRO - abs(lam)
    return spark.createDataFrame([(nv, ne, lam, gap)], schema)


def collective_influence(
    edges: DataFrame,
    max_wedge_degree: int | None = 100,
    top_k: int = 20,
) -> DataFrame:
    """(id, degree, ci) — Collective Influence at radius 2 (Morone &
    Makse, Nature 2015, public literature): CI₂(v) = (k_v − 1) ·
    Σ_{u ∈ ∂Ball(v,2)} (k_u − 1), the optimal-percolation proxy that
    finds influencers DEGREE MISSES (a modest-degree vertex whose
    distance-2 frontier is rich in hubs outranks a hub in a dense
    clump).  Top-``top_k`` by (ci DESC, id ASC).

    The exact-2 frontier is the distinct 2-hop set minus direct
    neighbors and self; wedge centers are degree-capped before the
    quadratic join (the module-wide hub rule shared with
    :func:`~graphlite_spark.algos.linkpred.adamic_adar` — frontier
    paths through capped centers only, documented bias, exactly
    mirrored by the oracle).  All counts BIGINT-exact.

    Scale shape: the wedge join is bounded by Σ_{capped w} deg(w)²;
    the frontier dedup is one distinct on (v, u); top-k is
    TakeOrderedAndProject."""
    from graphlite_spark.algos.components import symmetrize

    und = symmetrize(edges).select("src", "dst")
    deg = und.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    ctr = deg.where(F.col("deg") >= 2)
    if max_wedge_degree is not None:
        ctr = ctr.where(F.col("deg") <= max_wedge_degree)
    ctr = ctr.select(F.col("src").alias("w"))
    e1 = und.select(F.col("dst").alias("w"), F.col("src").alias("v"))
    e2 = und.select(F.col("src").alias("w"), F.col("dst").alias("u"))
    two = (
        e1.join(ctr, "w")
        .join(e2, "w")
        .where(F.col("v") != F.col("u"))
        .select("v", "u")
        .distinct()
    )
    frontier = two.join(
        und.select(F.col("src").alias("v"), F.col("dst").alias("u")),
        ["v", "u"],
        "left_anti",
    )
    gain = (
        frontier.join(
            deg.select(F.col("src").alias("u"), F.col("deg").alias("du")),
            "u",
        )
        .groupBy("v")
        .agg(F.sum(F.col("du") - 1).cast("long").alias("fsum"))
    )
    return (
        deg.select(F.col("src").alias("v"), "deg")
        .join(gain, "v", "left")
        .select(
            F.col("v").alias("id"),
            F.col("deg").alias("degree"),
            (
                (F.col("deg") - 1) * F.coalesce("fsum", F.lit(0))
            ).cast("long").alias("ci"),
        )
        .orderBy(F.col("ci").desc(), F.col("id").asc())
        .limit(top_k)
    )


def algebraic_distance(
    vertices: DataFrame,
    edges: DataFrame,
    iterations: int = 5,
    top_k: int = 20,
) -> DataFrame:
    """(src, dst, dist_micros) — algebraic distance (Chen & Safro
    2011, public literature): run a few Jacobi-style relaxation
    sweeps x ← (x + mean(x_neighbors))/2 from deterministic
    pseudo-random starts; edges whose endpoints end up CLOSE are
    strongly locally connected (the multigrid/partitioning coupling
    measure — a 2-hop-blind edge weight that sees community structure
    a raw common-neighbor count misses on sparse graphs).  Returns
    the ``top_k`` tightest edges (dist ASC, src, dst).

    Exactness: starts are hash48 micros; each sweep is the exact
    integer rule (x + (Σ_nbr x) div deg) div 2 (isolated vertices
    keep x), unrolled identically by the oracle — BIGINT end to end.

    Scale shape: per sweep one static-edge × state equi-join with a
    map-side-combined gather (the Pregel gather shape, linear loop —
    lazy localCheckpoint truncates lineage); top-k is
    TakeOrderedAndProject."""
    from graphlite_spark.algos.components import symmetrize
    from graphlite_spark.checkpoint import truncate_plan
    from graphlite_spark.functions.hashes import hash48

    # stage the closure ONCE as the sorted leaf (it was re-executing its
    # distinct shuffle ~7x: 5 sweeps + degree + final pair scan) and fold
    # the static degree INTO the state frame (one join per sweep, not two)
    with loop_scope(edges.sparkSession) as scope:
        und = scope.leaf(symmetrize(edges).select("src", "dst"), "src")
        deg = und.groupBy("src").agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
        x = (
            vertices.select(
                "id",
                (
                    hash48(
                        F.concat(
                            F.lit("algdist:"), F.col("id").cast("string")
                        )
                    )
                    % 1_000_000
                ).cast("long").alias("x"),
            )
            .join(deg.select(F.col("src").alias("id"), "deg"), "id", "left")
            .select("id", "x", F.coalesce("deg", F.lit(0)).alias("deg"))
            .localCheckpoint(eager=False)
        )
        for _ in range(iterations):
            gather = (
                und.join(
                    x.select(
                        F.col("id").alias("src"), F.col("x").alias("xs")
                    ),
                    "src",
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("xs").cast("long").alias("s"))
            )
            x = (
                x.join(gather, "id", "left")
                .select(
                    "id",
                    F.when(
                        F.col("s").isNotNull() & (F.col("deg") > 0),
                        F.expr("(x + (s div deg)) div 2"),
                    ).otherwise(F.col("x")).cast("long").alias("x"),
                    "deg",
                )
                .localCheckpoint(eager=False)
            )
        pairs = (
            und.where(F.col("src") < F.col("dst"))
            .join(
                x.select(F.col("id").alias("src"), F.col("x").alias("xu")),
                "src",
            )
            .join(
                x.select(F.col("id").alias("dst"), F.col("x").alias("xv")),
                "dst",
            )
            .select(
                "src", "dst",
                F.abs(F.col("xu") - F.col("xv")).cast("long").alias(
                    "dist_micros"
                ),
            )
        )
        # materialize the k-row result inside the pinned-conf scope so
        # the und leaf can be released before returning
        out = truncate_plan(
            pairs.orderBy(
                F.col("dist_micros").asc(),
                F.col("src").asc(),
                F.col("dst").asc(),
            ).limit(top_k),
            eager=True,
        )
    return out
