"""Pregel-style BSP superstep driver on pyspark.sql DataFrames.

Reimagines GraphLite's master/worker BSP machinery (~3,000 LoC of C++
sockets/protobuf/pthreads in GraphLite-0.20/engine/{Master,Worker,Sender,
Receiver}.cc) as a driver-side loop over declarative DataFrame passes:

====================  =====================================================
GraphLite concept      Spark realization here
====================  =====================================================
superstep barrier      one Spark action per superstep (job completion IS
                       the barrier; Worker.cc:789-931, Master.cc:390-455)
message shuffle        ``messages.groupBy("dst")`` — Spark's sort shuffle
                       (Sender.cc/Receiver.cc collapse to nothing)
message combining      ``groupBy("dst").agg(...)`` partial+final hash agg;
                       the map-side partial agg IS a Pregel combiner (the
                       reference ships none — Worker.cc:416-576 delivers
                       raw messages; we improve on it, per the north rule)
vote-to-halt           Boolean ``active`` column; a received message
                       reactivates (Node.cc:56-62,85-88)
global aggregator      single ``.agg(...)`` action per superstep collected
                       to the driver, re-broadcast as literals next pass
                       (AggregatorBase.h:44-84, Master.cc:354-359)
termination            user predicate OR (active==0 AND sent==0)
                       (Master.cc:429-431)
hash partitioning      ``repartition(P, "id"/"src")`` — Node.cc:104's
                       ``vid % workers`` becomes Spark hash partitioning
checkpoint/resume      per-superstep lineage truncation + durable parquet
                       manifests (the reference has none — a worker crash
                       kills the run; north rule requires resume)
====================  =====================================================

One Spark **action** per superstep: the stats aggregate over the updated
state (active count, sent count, user aggregators in a single pass).  The
scatter (state ⋈ edges) is left lazy — it executes as the *input* stage of
the next superstep's combine, so no superstep pays for materializing raw
messages.  ``sent`` is computed as Σ out_degree over sending vertices,
which is exact for broadcast-to-all-neighbors algorithms (the only send
primitive the reference's shipped algorithm uses,
example/PageRankVertex.cc:169-170).

Iterative lineage growth (SURVEY.md §7.3.1 — the one problem the reference
never had) is cut every superstep via ``localCheckpoint`` or a durable
parquet round-trip (see :mod:`graphlite_spark.checkpoint`).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphlite_spark.checkpoint import LoopScope, loop_scope, observe


def _coerce_aggr(v):
    """Driver-side aggregator value: numeric merges stay floats (the
    engine's historical contract — `0.0` on an all-null/empty frame); typed
    merges (struct Rows from argmax-style aggregators, strings) pass
    through untouched, completing AggregatorBase.h:44-84's arbitrary-POD
    parity.  Typed values serialize to checkpoint manifests as dicts."""
    if v is None:
        return 0.0
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return float(v)
    return v


@dataclass
class SuperstepMetrics:
    """Per-superstep counters, mirroring WM.curss_finish.proto:10-19.

    ``aggregates`` values are floats for numeric merges and pass through
    unchanged for typed merges (struct Rows, strings) — the reference's
    aggregator value is an arbitrary POD (AggregatorBase.h:44-84), so the
    engine must not flatten e.g. an argmax struct to a float."""

    superstep: int
    active: int
    sent: int
    wall_ms: float
    aggregates: dict[str, object] = field(default_factory=dict)


@dataclass
class PregelResult:
    state: DataFrame          # (id, value, out_degree, active)
    metrics: list[SuperstepMetrics]
    supersteps: int           # number of supersteps executed (0-based last + 1)
    converged: bool


def warn_if_not_converged(res: PregelResult, algo_name: str) -> PregelResult:
    """For convergence-DEFINED algorithms (CC, BFS, converged PageRank) a
    max_supersteps cutoff silently returns wrong labels — e.g. min-label
    propagation along a conversation chain longer than the cap never
    finishes while the fixpoint oracle does.  Loud, not fatal: partial
    results are still useful for diagnostics."""
    if not res.converged:
        import warnings

        warnings.warn(
            f"{algo_name}: hit max_supersteps ({res.supersteps}) before "
            "convergence — results are a PARTIAL fixpoint; raise "
            "max_supersteps (graph diameter bound) for exact output",
            RuntimeWarning,
            stacklevel=3,
        )
    return res


class PregelAlgorithm:
    """Vertex-program contract — the Spark analogue of the ``dlopen``'d user
    program surface (include/Vertex.h:122-258, include/Graph.h:147-149).

    Subclasses provide *expressions*, not per-row callables, so every
    superstep stays inside whole-stage codegen; no Python runs per row.

    Column vocabulary available to ``update_*`` expressions:
      ``id, value`` (old), ``out_degree, msg`` (combined inbox, null if no
      message), ``has_msg`` (bool).  ``aggr`` is the dict of global
      aggregator values merged from the *previous* superstep (the exact
      timeline of Worker.cc:729-731 / Master.cc:417 — see SURVEY.md §7.3.2).
    """

    name: str = "algorithm"
    value_type: str = "double"
    max_supersteps: int = 200
    #: initial global aggregator values (master-side init, Master.cc:417)
    aggr_init: dict[str, float] = {}

    # -- state initialization -------------------------------------------
    def init_value(self) -> Column:
        """Initial vertex value; reference zeroes the node array
        (Worker.cc:342-355).  Columns available: id, out_degree."""
        return F.lit(0.0)

    # -- compute (one superstep, vectorized) ----------------------------
    def update_value(self, superstep: int, aggr: dict[str, float]) -> Column:
        raise NotImplementedError

    def update_send(self, superstep: int, aggr: dict[str, float]) -> Column:
        """Whether a participating vertex sends to its out-neighbors."""
        return F.lit(True)

    def update_halt(self, superstep: int, aggr: dict[str, float]) -> Column:
        """voteToHalt decision (include/Vertex.h:185-187).  True = halt."""
        return F.lit(False)

    # -- messaging -------------------------------------------------------
    def message(self, superstep: int, aggr: dict[str, float]) -> Column:
        """Per-edge message value; columns: value (NEW vertex value),
        out_degree, weight (sendMessageToAllNeighbors, Node.cc:139-145)."""
        raise NotImplementedError

    def point_messages(
        self, state: DataFrame, superstep: int, aggr: dict[str, float]
    ) -> DataFrame | None:
        """Targeted sends — ``sendMessageTo(dest, value)`` in the reference
        (include/Vertex.h:226-228, routed by Node.cc:103-137).  Return
        (dst, msg) rows derived from the post-compute state (columns: id,
        value, out_degree, active, send, participate, has_msg, old_value),
        or None.  Unioned with the edge scatter before combining.  A
        program that returns rows must also declare
        :meth:`point_sent_count`; the engine raises ``ValueError`` if it
        does not."""
        return None

    def point_sent_count(self, superstep: int, aggr: dict) -> Column | None:
        """Per-vertex count of point messages this vertex sends at this
        superstep (same column vocabulary as :meth:`aggregators`).  The
        engine folds Σ(point_sent_count) into the single per-superstep
        stats action, so the sends count toward termination without a
        second action.  Required whenever :meth:`point_messages` returns
        rows; must equal the row count it produces for the same
        superstep.  None (the default) is only valid for programs that
        send no point messages."""
        return None

    def combine(self, msgs: DataFrame) -> DataFrame:
        """(dst, msg) -> one combined (dst, msg) row per dst.

        Default: commutative+associative aggregate expression — Spark's
        partial+final agg gives map-side combining for free.  Override for
        non-expression combines (e.g. LPA's mode) — must stay JVM-side.
        """
        return msgs.groupBy("dst").agg(self.combine_expr(F.col("msg")).alias("msg"))

    combine_expr: Callable[[Column], Column] = staticmethod(F.sum)

    # -- aggregators (Pregel UDAF surface) -------------------------------
    def aggregators(
        self, superstep: int, aggr: dict[str, float]
    ) -> dict[str, Column | tuple[Column, Callable[[Column], Column]]]:
        """Per-superstep global aggregates over the updated state.

        Each entry is either a bare Column (merged with ``F.sum``, the
        common case) or a ``(column, merge_fn)`` pair for arbitrary merge
        semantics — ``F.min`` / ``F.max`` / any commutative+associative
        SQL aggregate, matching the reference's user-definable
        ``Aggregator::merge`` (include/AggregatorBase.h:44-84).  Values
        need not be numeric: ``(F.struct(delta, id), F.max)`` is an argmax
        aggregator (struct comparison is lexicographic), and the driver
        passes the merged Row through ``aggr`` untouched — the arbitrary-
        POD aggregator value of the reference.  Typed values serialize to
        checkpoint manifests as dicts.  Columns: id, value (new),
        old_value, out_degree, participate, send, active, has_msg."""
        return {}

    # -- master compute (Graph.h:147-149) ---------------------------------
    def master_halt(self, superstep: int, aggr: dict[str, float]) -> bool:
        """Extra driver-side termination test after each superstep."""
        return False

    # -- expression reuse (driver-overhead optimization) ------------------
    def expr_cache_token(self, superstep: int, aggr: dict) -> object | None:
        """Hashable token naming the EXPRESSION SET this superstep uses.

        Building the per-superstep Column trees costs hundreds of
        Python↔JVM round-trips (~100-150 ms/superstep of pure driver
        latency, measured); for most vertex programs the expressions are
        structurally identical across all steady supersteps, so the
        engine caches the built Columns and reuses them whenever two
        consecutive supersteps return EQUAL tokens.

        Contract: if ``expr_cache_token(s1, a1) == expr_cache_token(s2,
        a2) != None`` then every expression hook (``update_value/send/
        halt``, ``message``, ``aggregators``, ``point_sent_count``) must
        return structurally identical Columns for (s1, a1) and (s2, a2).
        In particular a hook that bakes ``superstep`` or an ``aggr``
        value into a literal must fold that value into the token.
        Return ``None`` (the default) to disable caching — always safe.
        """
        return None


class PregelEngine:
    """Runs a :class:`PregelAlgorithm` to convergence.

    Parameters
    ----------
    num_partitions:
        Hash-partition count for vertex state and edges (the reference's
        static ``vid % workers``, Node.cc:104).  Size so each partition's
        edges fit comfortably in executor memory: at 100 TB scale pick
        P ≈ total_edges / ~5M.
    checkpointer:
        Object with ``save(df, superstep, aggr, run_id) -> DataFrame``
        truncating lineage (and optionally persisting durably).  Defaults
        to eager ``localCheckpoint`` each superstep.
    """

    def __init__(self, num_partitions: int | None = None, checkpointer=None,
                 run_id: str = "run0", hub_threshold: int | None = None,
                 validate_point_sends: bool = False):
        """``hub_threshold`` is accepted and ignored: the frozen
        ``bench.py --skew-only`` still passes it.  The broadcast hub split
        it once switched on lost to the plain join on every graph it was
        measured on (BENCH.md), so it is deleted; the gather needs no
        salting either, since map-side partial aggregation bounds any
        reducer at <= P partials per key (LPA's mode combine is two-stage
        too)."""
        self.num_partitions = num_partitions
        self.checkpointer = checkpointer
        self.run_id = run_id
        #: debug/CI guard: cross-check each superstep's declared
        #: Σ(point_sent_count) against the actual point_messages row count.
        #: The declaration is load-bearing for termination (act==0 &&
        #: sent==0), so an algorithm whose two hooks drift would otherwise
        #: halt early with messages in flight — or never halt.  Costs one
        #: extra action per superstep, so off outside tests.
        self.validate_point_sends = validate_point_sends

    def _truncate(self, df: DataFrame, superstep: int, aggr: dict[str, float]) -> DataFrame:
        if self.checkpointer is not None:
            return self.checkpointer.save(df, superstep, aggr, self.run_id)
        # eager: this IS the superstep's one action — the observed stats
        # metrics are delivered by its SQLExecutionEnd (see _run_loop)
        return df.localCheckpoint(eager=True)

    def _scatter(
        self,
        state: DataFrame,
        e: DataFrame,
        algo: PregelAlgorithm,
        superstep: int,
        aggr: dict[str, float],
        ex: dict,
    ) -> DataFrame:
        """Raw (dst, msg) message rows from the vertices flagged ``send``:
        an equi-join on the co-partitioned edge table — the edge side is
        cached with hash(src, P) partitioning, so only the (much smaller)
        vertex-state side shuffles.

        ``ex``: the per-expression-token Column cache of the running loop
        (see :meth:`PregelAlgorithm.expr_cache_token`); its ``"msg"`` entry
        holds the built join condition and select list so steady
        supersteps skip the Python↔JVM expression-building round-trips.
        """
        if ex["msg"] is None:
            ex["msg"] = (
                F.col("s.id") == F.col("e.src"),
                [
                    F.col("e.dst").alias("dst"),
                    algo.message(superstep, aggr)
                    .cast(algo.value_type)
                    .alias("msg"),
                ],
            )
        cond, sel = ex["msg"]
        return state.where("send").alias("s").join(e.alias("e"), cond).select(*sel)

    def prepare(self, vertices: DataFrame, edges: DataFrame,
                algo: PregelAlgorithm,
                scope: LoopScope) -> tuple[DataFrame, DataFrame]:
        """Build (state, edges) — degrees attached, co-hash-partitioned.

        Edges are partitioned by ``src`` and checkpointed once (they are
        immutable across supersteps — the reference loads them once into a
        packed CSR, Worker.cc:303-322); vertex state is partitioned by
        ``id`` so the scatter join and the update join both shuffle only
        the small side.  ``scope`` is :meth:`run`'s loop scope, which
        sizes ``num_partitions`` from the edge count when it is None.
        """
        e = edges.select("src", "dst", F.col("weight").cast("double").alias("weight"))
        # the scope's sorted leaf: the per-superstep plan carries a
        # LogicalRDD instead of the caller's edge derivation tree (which
        # Catalyst re-analyzed every superstep, ~30-40 ms at sf0.1), and
        # the preserved sort order keeps the scatter SMJ from re-sorting
        # the immutable edge table every superstep
        e = scope.leaf(e, "src")
        P = self.num_partitions = scope.num_partitions
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_degree"))
        # an optional ``init_value`` vertex column rides into init_value()
        # expressions (warm-start programs); dropped from the state after
        extra = [c for c in ("init_value",) if c in vertices.columns]
        state = (
            vertices.select("id", *extra)
            .join(deg, vertices["id"] == deg["src"], "left")
            .select(
                "id",
                *extra,
                F.coalesce("out_degree", F.lit(0)).cast("long").alias("out_degree"),
            )
        )
        state = state.repartition(P, "id").select(
            "id",
            "out_degree",
            algo.init_value().cast(algo.value_type).alias("value"),
            F.lit(True).alias("active"),
        )
        return state, e

    def run(
        self,
        vertices: DataFrame,
        edges: DataFrame,
        algo: PregelAlgorithm,
        resume_from: tuple[DataFrame, int, dict[str, float]] | None = None,
    ) -> PregelResult:
        spark = edges.sparkSession
        # the scope pins AQE and auto-broadcast off (state, edges and inbox
        # are co-hash-partitioned on the join keys, so the shuffle-free
        # SMJ path beats a per-superstep driver broadcast of the state)
        # and, on exit, frees the edge leaf: the result state is already
        # lineage-truncated, so nothing the caller holds needs it
        with loop_scope(spark, self.num_partitions) as scope:
            return self._run_loop(vertices, edges, algo, resume_from, scope)

    def _run_loop(
        self,
        vertices: DataFrame,
        edges: DataFrame,
        algo: PregelAlgorithm,
        resume_from: tuple[DataFrame, int, dict[str, float]] | None,
        scope: LoopScope,
    ) -> PregelResult:
        state, e = self.prepare(vertices, edges, algo, scope)
        aggr = dict(algo.aggr_init)
        start_step = 0
        inbox: DataFrame | None = None
        if resume_from is not None:
            # state carries (id, out_degree, value, active, send) from the
            # completed superstep S; messages are re-derived (scatter is a
            # deterministic function of state) and we continue at S+1.
            ck_state, last_step, aggr, *rest = resume_from
            # re-derive the messages sent at last_step: they saw the global
            # merged BEFORE last_step (aggr_in), stored in the manifest
            aggr_in = rest[0] if rest else dict(aggr)
            msgs = self._scatter(
                ck_state, e, algo, last_step, aggr_in, {"msg": None}
            )
            pm = algo.point_messages(ck_state, last_step, aggr_in)
            if pm is not None:
                msgs = msgs.unionByName(
                    pm.select(
                        F.col("dst").cast("long").alias("dst"),
                        F.col("msg").cast(algo.value_type).alias("msg"),
                    )
                )
            inbox = algo.combine(msgs)
            state = ck_state.select("id", "out_degree", "value", "active")
            start_step = last_step + 1

        metrics: list[SuperstepMetrics] = []
        converged = False
        superstep = start_step - 1
        # the PREVIOUS superstep's state is released once the current
        # superstep's one action has materialized the new leaf, not left
        # to the ContextCleaner's GC-driven sweep — measured: the sweep
        # arrives in bursts that stall whole superstep windows (~4x wall
        # for 5-8 consecutive supersteps), and at 10^12 vertices the
        # backlog is V-sized per superstep.  Only frames this loop made
        # are owned (never a resume_from frame); the final state is kept.
        prev: DataFrame | None = None
        # engine-static Columns, built once per run (each F.* call is a
        # Python↔JVM round-trip; a superstep used to spend ~600 of them
        # rebuilding identical expression trees — ~100-150 ms/superstep of
        # pure driver latency at local scale, measured via cProfile)
        _inbox_cols = [F.col("dst"), F.col("msg"), F.lit(True).alias("has_msg")]
        _has_msg_fill = F.coalesce("has_msg", F.lit(False))
        _null_msg = F.lit(None).cast(algo.value_type)
        _false = F.lit(False)
        # per-expression-token cache of the algorithm-dependent Columns
        # (see PregelAlgorithm.expr_cache_token)
        _tok_sentinel = object()
        expr_token: object = _tok_sentinel
        ex: dict | None = None
        for superstep in range(start_step, algo.max_supersteps):
            t0 = time.perf_counter()
            # the global visible DURING this superstep's compute+send
            # (merged from superstep-1; Worker.cc:729-731 timeline)
            aggr_in = dict(aggr)
            if inbox is None:
                joined = state.withColumn("msg", _null_msg).withColumn(
                    "has_msg", _false
                )
            else:
                joined = (
                    state.join(
                        inbox.select(*_inbox_cols),
                        state["id"] == F.col("dst"),
                        "left",
                    )
                    .drop("dst")
                    .withColumn("has_msg", _has_msg_fill)
                )

            token = algo.expr_cache_token(superstep, aggr)
            if ex is None or token is None or token != expr_token:
                participate = F.col("active") | F.col("has_msg")
                aggr_exprs = {
                    k: (spec if isinstance(spec, tuple) else (spec, F.sum))
                    for k, spec in algo.aggregators(superstep, aggr).items()
                }
                # targeted sends (sendMessageTo) must count toward `sent`
                # BEFORE the termination test, or act==0 && sent==0 would
                # end the run with point messages still in flight.  Σ of
                # point_sent_count rides the same observed-metrics set; the
                # message frame itself stays lazy (it materializes inside
                # the next superstep's combine, like the edge scatter).
                pm_cnt_expr = algo.point_sent_count(superstep, aggr_in)
                ex = {
                    "select": [
                        "id",
                        "out_degree",
                        "has_msg",
                        F.col("value").alias("old_value"),
                        participate.alias("participate"),
                        F.when(participate, algo.update_value(superstep, aggr))
                        .otherwise(F.col("value"))
                        .cast(algo.value_type)
                        .alias("value"),
                        (participate & algo.update_send(superstep, aggr)).alias(
                            "send"
                        ),
                        (participate & ~algo.update_halt(superstep, aggr)).alias(
                            "active"
                        ),
                    ],
                    "aggr_keys": list(aggr_exprs),
                    "has_psent": pm_cnt_expr is not None,
                    "obs": [
                        F.sum(F.col("active").cast("long")).alias("_act"),
                        F.sum(
                            F.when(F.col("send"), F.col("out_degree")).otherwise(
                                F.lit(0)
                            )
                        ).alias("_sent"),
                        *(
                            [F.sum(pm_cnt_expr.cast("long")).alias("_psent")]
                            if pm_cnt_expr is not None
                            else []
                        ),
                        *[
                            merge(c).alias(k)
                            for k, (c, merge) in aggr_exprs.items()
                        ],
                    ],
                    "msg": None,  # scatter Columns, filled by _scatter
                }
                expr_token = token if token is not None else _tok_sentinel
            new_state = joined.select(*ex["select"])
            # ---- the superstep barrier: ONE action -----------------------
            # The stats (active count, sent count, user aggregators) ride
            # the state materialization itself as OBSERVED metrics
            # (``Dataset.observe`` → CollectMetrics, accumulator-based):
            # the single per-superstep job is the eager lineage truncation,
            # and the aggregates come back with its SQLExecutionEnd event.
            # vs the previous separate ``.agg(...).first()`` action this
            # removes two aggregation stages, one single-partition
            # exchange and a driver result-collect socket per superstep —
            # measured ~60-100 ms/superstep in local mode, and one fewer
            # full pass over the state at cluster scale.
            observed, obs = observe(new_state, *ex["obs"])
            import os as _os

            if _os.environ.get("SPARK_GRAFT_EXPLAIN_SS") == str(superstep):
                # plan-audit hook (guide §7.2): dump the full per-superstep
                # physical plan — the one action, whose input subsumes the
                # previous scatter+combine — for PLANS.md / plans/r*/
                print(f"=== superstep {superstep} plan ===")
                observed.explain("formatted")
            # the checkpointer contract: save() MUST materialize the frame
            # (run an action over it) before returning — both in-repo
            # checkpointers do (eager localCheckpoint / parquet write) —
            # which is what delivers the observed metrics read next.
            new_state = scope.own(self._truncate(observed, superstep, aggr))
            if prev is not None:
                scope.release(prev)
            prev = new_state
            pm = algo.point_messages(new_state, superstep, aggr_in)
            stats_row = obs.get
            active_cnt = int(stats_row["_act"] or 0)
            sent_cnt = int(stats_row["_sent"] or 0)
            aggr = {k: _coerce_aggr(stats_row[k]) for k in ex["aggr_keys"]}
            if pm is not None:
                if not ex["has_psent"]:
                    raise ValueError(
                        f"{algo.name}: point_messages returned rows at "
                        f"superstep {superstep} but point_sent_count is None "
                        "— declare the per-vertex send count so the sends "
                        "ride the superstep's one action"
                    )
                pm = pm.select(
                    F.col("dst").cast("long").alias("dst"),
                    F.col("msg").cast(algo.value_type).alias("msg"),
                )
                # no checkpoint needed: pm's lineage is one projection over
                # the already-truncated new_state, so it stays a pure lazy
                # plan consumed inside the next superstep's combine —
                # exactly like the edge scatter
                declared = int(stats_row["_psent"] or 0)
                if self.validate_point_sends:
                    actual = pm.count()
                    if actual != declared:
                        raise ValueError(
                            f"superstep {superstep}: point_sent_count "
                            f"declares {declared} sends but "
                            f"point_messages produced {actual} rows — "
                            "the two hooks must agree or the act==0 && "
                            "sent==0 termination test is corrupted"
                        )
                sent_cnt += declared
            metrics.append(
                SuperstepMetrics(
                    superstep=superstep,
                    active=active_cnt,
                    sent=sent_cnt,
                    wall_ms=(time.perf_counter() - t0) * 1000.0,
                    aggregates=dict(aggr),
                )
            )
            if self.checkpointer is not None and hasattr(self.checkpointer, "commit"):
                # publish the durable manifest now that this superstep's
                # aggregator globals are known (two-phase: data then manifest)
                self.checkpointer.commit(superstep, aggr, self.run_id)

            if algo.master_halt(superstep, aggr) or (active_cnt == 0 and sent_cnt == 0):
                converged = True
                state = new_state
                break

            # ---- scatter (lazy — runs inside next superstep's jobs) ------
            # messages are part of superstep S's compute: they see aggr_in,
            # not the aggregates S itself produced
            msgs = self._scatter(new_state, e, algo, superstep, aggr_in, ex)
            if pm is not None:
                msgs = msgs.unionByName(pm)
            inbox = algo.combine(msgs)
            state = new_state.select("id", "out_degree", "value", "active")

        scope.keep(prev)
        final = state.select("id", "value", "out_degree", "active")
        return PregelResult(
            state=final,
            metrics=metrics,
            supersteps=superstep + 1,
            converged=converged,
        )
