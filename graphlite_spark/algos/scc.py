"""Strongly connected components over the DIRECTED edge table.

The reference's graph surface is directed (``Edge`` src→dst,
``graph/Graph.cc`` builds out-edge lists), but its only shipped analysis
is PageRank; the repo's connected-components family (components.py) works
on the undirected closure.  SCC is the missing directed-structure
primitive: for a transcript reply graph it answers "which turns are in a
conversational cycle" — by construction the raw reply/tool edge table is
a DAG (edges always point to a later turn_idx), so every raw SCC is a
singleton, and any non-trivial SCC is a structural anomaly worth
surfacing.  The entry query therefore adds one explicit loop-closure edge
per conversation (last turn → first turn) to exercise cycle collapse on
real data.

Algorithm — MultiStep-style FW/BW min-label peeling (Slota, Rajamanickam
& Madduri, IPDPS 2014; Fleischer/Hendrickson/Pinar's divide-and-conquer
FW-BW — public literature), expressed as DataFrame fixpoints:

  phase:
    F(v) = min id over ancestors(v) ∪ {v}    (min-label fixpoint on the
                                              forward edges)
    B(v) = min id over descendants(v) ∪ {v}  (same fixpoint on reversed
                                              edges)
    F(v) == B(v) == m  ⇒  m reaches v AND v reaches m  ⇒  scc(v) = m
                          (final — the whole SCC of m is assigned: every
                          w ∈ SCC(m) has the same ancestor/descendant
                          sets as m up to the SCC itself, so F(w) =
                          B(w) = m whenever m is the class minimum)
    survivors keep only edges whose endpoints share the (F, B) pair —
    an SCC always lies entirely inside one (F, B) class (mutual
    reachability ⇒ identical ancestor and descendant sets), so class
    filtering never cuts an SCC; each class loses at least its minimum
    vertex's SCC per phase, so the peel terminates.

Both fixpoints combine the label-pointer shortcut from
``connected_components_fast`` (label(v) <- label(label(v))) with
successor-pointer jumping (j(v) <- j(j(v)), parallel list-ranking —
see :func:`_min_reach_fixpoint` for why the label shortcut alone
stalls to O(L) on monotone-id cycles) — O(log diameter) rounds per
fixpoint instead of O(diameter).  A pure DAG (the raw transcript
graph) finishes in exactly 2 phases: phase 1 assigns every class
minimum, and the (F, B) classes it leaves behind are edge-free
singletons.

Scale shape (100 TB story): per round, one rank-sized equi-join +
map-side-combined min groupBy + one label self-join — the identical
shuffle profile as connected_components_fast, run 2× per phase (forward
+ backward edge layouts are cached separately, each partitioned by its
join key).  Phases are few (2 for DAG-like transcript graphs; MultiStep
reports 1–3 on web graphs).  No transitive closure, no all-pairs
anything; the closure lives only in the DuckDB oracle at test scale.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphlite_spark.checkpoint import loop_scope, truncate_plan


def _min_reach_fixpoint(
    verts: DataFrame, e: DataFrame, max_rounds: int
) -> tuple[DataFrame, bool]:
    """(labels, converged): lab(v) = min id over in-edge-ancestors(v) ∪ {v}
    of the graph ``e`` (src, dst), restricted to ``verts`` (id).  ``e``
    must already be repartitioned by src and persisted by the caller.

    Three accelerators per round, all adopting labels only from proven
    e-ancestors (so the fixpoint is exactly min(ancestors ∪ self)):

    * relax — lab(v) <- min over in-neighbors' labels (the BFS term,
      bounds total rounds by the diameter);
    * successor-pointer jump — j(v) starts as the min in-neighbor and
      doubles every round (j <- j(j), parallel list-ranking); lab(v)
      adopts lab(j(v)).  This is the term the min-relaxation alone
      cannot replace: when ids are MONOTONE along a path (ascending
      turn ids around a conversation cycle, descendant-min direction),
      every in-neighbor label is larger than one's own, relax stalls at
      one hop per round, and label-pointer jumps go nowhere because
      labels still equal their own ids.  j is pure structure — id
      order never stalls it — giving O(log L) on cycles/chains in
      BOTH directions;
    * label-pointer shortcut — lab(v) <- lab(lab(v)), the
      connected_components_fast trick, which is the faster of the two
      jumps whenever labels DO decrease along the way.
    """
    from pyspark.sql import Observation

    from graphlite_spark.checkpoint import release_local_checkpoint

    j0 = e.groupBy(F.col("dst").alias("id")).agg(F.min("src").alias("j"))
    a = (
        verts.select("id")
        .join(j0, "id", "left")
        .select(
            "id",
            F.col("id").alias("lab"),
            F.coalesce("j", F.col("id")).alias("j"),
        )
    )
    prev = None  # superseded round leaves, released eagerly (loop discipline)
    for _ in range(max_rounds):
        nbr = (
            e.join(
                a.select(F.col("id").alias("src"), F.col("lab").alias("slab")),
                "src",
            )
            .groupBy(F.col("dst").alias("v"))
            .agg(F.min("slab").alias("nmin"))
        )
        # one join keyed on j(v) fetches BOTH lab(j(v)) and j(j(v))
        jt = a.select(
            F.col("id").alias("jid"),
            F.col("lab").alias("jlab"),
            F.col("j").alias("jj"),
        )
        b = (
            a.join(nbr, a["id"] == nbr["v"], "left")
            .join(jt, a["j"] == jt["jid"])
            .select(
                a["id"],
                F.col("lab").alias("old"),
                F.least(
                    F.col("lab"),
                    F.coalesce("nmin", F.col("lab")),
                    F.col("jlab"),
                ).alias("relaxed"),
                F.col("jj"),
            )
        )
        pt = b.select(F.col("id").alias("pid"), F.col("relaxed").alias("plab"))
        nxt = (
            b.join(pt, b["relaxed"] == pt["pid"])
            .select(
                "id",
                "old",
                F.least(F.col("relaxed"), F.col("plab")).alias("lab"),
                F.col("jj").alias("j"),
            )
        )
        # the change count rides the round's one materialization as an
        # observed metric (loop discipline — no separate agg action)
        obs = Observation()
        nxt = truncate_plan(
            nxt.observe(
                obs,
                F.sum((F.col("lab") != F.col("old")).cast("long")).alias("n"),
            ),
            eager=True,
        )
        changed = obs.get["n"]
        if prev is not None:
            release_local_checkpoint(prev)
        prev = nxt
        a = nxt.select("id", "lab", "j")
        if not changed:
            return a.select("id", "lab"), True
    return a.select("id", "lab"), False


def strongly_connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    num_partitions: int | None = None,
    max_phases: int = 16,
    max_rounds: int = 64,
) -> DataFrame:
    """(id, scc) — scc(v) = min vertex id in v's strongly connected
    component of the DIRECTED graph.  Every vertex in ``vertices`` gets a
    row; self-loops and duplicate edges are ignored.

    ``max_rounds`` bounds each min-label fixpoint (pointer shortcutting
    ⇒ needs only ~log2(diameter) rounds); ``max_phases`` bounds the
    FW/BW peel.  Both caps warn loudly when they bind — like
    connected_components, SCC is convergence-defined and a partial peel
    is only diagnostic."""
    rem = vertices.select("id")
    assigned: DataFrame | None = None
    converged = False
    with loop_scope(edges.sparkSession, num_partitions) as scope:
        # stage the distinct edge set once (plan stats truncated: the peel
        # self-joins it every phase); it sizes the loop width
        de = scope.stage(
            edges.select("src", "dst")
            .where(F.col("src") != F.col("dst"))
            .distinct(),
            truncate=True,
        )
        prev_de: DataFrame | None = None
        for _ in range(max_phases):
            # forward layout partitioned by src (the relax join key) and
            # pre-sorted so the per-round SMJ never re-sorts the static
            # side; backward layout = reversed edges, same discipline
            ef = scope.leaf(de, "src")
            eb = scope.leaf(
                de.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
                "src",
            )
            if prev_de is not None:
                # the phase's layouts are materialized — the superseded
                # survivor edge set is unreachable from here on
                scope.release(prev_de)
                prev_de = None
            # the forward and backward fixpoints are independent — run
            # them as concurrent jobs (guide §2.6): each round's tasks
            # are tiny, so the two loops back-fill each other's driver
            # latency and executor idle time; conf is pinned before the
            # pool starts and neither thread mutates it
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(2) as pool:
                fut_f = pool.submit(_min_reach_fixpoint, rem, ef, max_rounds)
                fut_b = pool.submit(_min_reach_fixpoint, rem, eb, max_rounds)
                fwd, okf = fut_f.result()
                bwd, okb = fut_b.result()
            if not (okf and okb):
                warnings.warn(
                    "strongly_connected_components: a min-label fixpoint "
                    f"hit max_rounds ({max_rounds}) before convergence — "
                    "labels are PARTIAL; raise max_rounds "
                    "(~log2 diameter suffices)",
                    stacklevel=2,
                )
            lab = fwd.join(
                bwd.select(F.col("id").alias("bid"), F.col("lab").alias("b")),
                fwd["id"] == F.col("bid"),
            ).select("id", F.col("lab").alias("f"), "b")
            lab = truncate_plan(lab)
            done = lab.where(F.col("f") == F.col("b")).select(
                "id", F.col("f").alias("scc")
            )
            assigned = truncate_plan(
                done if assigned is None else assigned.unionByName(done)
            )
            surv = lab.where(F.col("f") != F.col("b"))
            n_rem = surv.count()  # also materializes lab + assigned
            scope.release(ef, eb, fwd, bwd)
            if n_rem == 0:
                converged = True
                break
            # keep only intra-(F,B)-class edges among survivors — an SCC
            # never spans two classes, so this cuts no SCC
            s = surv.select(
                F.col("id").alias("src"),
                F.col("f").alias("sf"),
                F.col("b").alias("sb"),
            )
            d = surv.select(
                F.col("id").alias("dst"),
                F.col("f").alias("df"),
                F.col("b").alias("db"),
            )
            prev_de = de
            de = (
                de.join(s, "src")
                .join(d, "dst")
                .where(
                    (F.col("sf") == F.col("df"))
                    & (F.col("sb") == F.col("db"))
                )
                .select("src", "dst")
            )
            de = truncate_plan(de)
            rem = surv.select("id")
        if not converged:
            warnings.warn(
                f"strongly_connected_components: hit max_phases "
                f"({max_phases}) with vertices unassigned — those keep "
                "their own id as a PARTIAL label",
                stacklevel=2,
            )
            assigned = (
                rem.select("id", F.col("id").alias("scc"))
                if assigned is None
                else assigned.unionByName(
                    rem.select("id", F.col("id").alias("scc"))
                )
            )
    return assigned


def conversation_loop_edges(vertices: DataFrame) -> DataFrame:
    """(src, dst) loop-closure edges: last turn → first turn of each
    multi-turn conversation.  Dense vertex ids ascend with turn_idx
    inside a conversation (plans/derive orders by (conv_id, turn_idx)),
    so min(id)/max(id) per conv_id are the first/last turns — one
    map-side-combined groupBy, no window."""
    return (
        vertices.groupBy("conv_id")
        .agg(F.max("id").alias("src"), F.min("id").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )


def scc_condensation_layers(
    vertices: DataFrame,
    edges: DataFrame,
    depth: int = 8,
    num_partitions: int | None = None,
) -> DataFrame:
    """(scc, members, layer) — the condensation DAG, layered: contract
    every strongly connected component of the directed graph to one
    node (labeled by its min member id), keep the distinct
    between-component arcs (always acyclic — the textbook condensation
    property), and run the engine's longest-path layering on the
    result.  Two engine fixpoints composed end-to-end: the FW/BW SCC
    peel feeds the max-plus DAG Pregel program, exactly how a
    cycle-tolerant dependency analysis runs topological scheduling on
    a graph that isn't a DAG yet.

    ``depth`` bounds the layering rounds (same cap semantics as
    :func:`~graphlite_spark.algos.dag.dag_layers`; the oracle unrolls
    the identical rule, so parity holds whether or not the cap binds).

    Scale shape: the SCC peel's documented shape, then ONE label
    equi-join pair + distinct to build the condensation (edge-linear),
    then the Pregel loop on the CONTRACTED graph — by construction no
    larger, usually far smaller."""
    from graphlite_spark.algos.dag import dag_layers

    labels = strongly_connected_components(
        vertices, edges, num_partitions=num_partitions
    )
    s = labels.select(F.col("id").alias("src"), F.col("scc").alias("cs"))
    d = labels.select(F.col("id").alias("dst"), F.col("scc").alias("cd"))
    ce = (
        edges.select("src", "dst")
        .join(s, "src")
        .join(d, "dst")
        .where(F.col("cs") != F.col("cd"))
        .select(F.col("cs").alias("src"), F.col("cd").alias("dst"))
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    cv = labels.groupBy("scc").agg(
        F.count(F.lit(1)).cast("long").alias("members")
    )
    res = dag_layers(
        cv.select(F.col("scc").alias("id")), ce, depth=depth,
        num_partitions=num_partitions, run_id="scc_condensation",
    )
    return (
        res.state.select(
            F.col("id").alias("scc"),
            F.col("value").cast("long").alias("layer"),
        )
        .join(cv, "scc")
        .select("scc", "members", "layer")
    )
