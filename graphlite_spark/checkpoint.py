"""Per-superstep checkpoint / resume.

The reference has NO fault tolerance — a worker crash kills the run (no
checkpoint code anywhere in GraphLite-0.20/engine/).  The north rule makes
resume-mid-iteration a requirement, so this module provides it:

* every superstep the vertex-state lineage is truncated (otherwise Catalyst
  re-analyzes a growing plan each iteration — SURVEY.md §7.3.1);
* every ``every`` supersteps the full state is written durably (parquet in
  the sandbox; the same code path takes an Iceberg table name on a real
  cluster — format is a constructor knob) together with a JSON **manifest**
  carrying (run_id, superstep, aggregator globals, per-partition lineage,
  complete flag).  The manifest is written via tmp-file + atomic rename
  *after* the data, so a crash mid-write never yields a manifest that
  points at torn data.
* resume = read the latest complete manifest; messages are NOT checkpointed
  — the scatter is a deterministic function of the saved state (which keeps
  its ``send`` flags), so the engine regenerates them
  (:meth:`graphlite_spark.operators.pregel.PregelEngine.run` ``resume_from``).

Per-partition lineage = (partition_id, rows, min_id, max_id) — the Spark
analogue of the reference's per-worker partition files
(bin/hash-partitioner.pl:29-42 headers).
"""

from __future__ import annotations

import json
import os
import threading
import time
import warnings
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _aggr_json(aggr: dict) -> dict:
    """Aggregator globals → JSON-safe manifest values.  Numeric stays
    float; typed values (struct Rows from argmax-style aggregators) become
    dicts — resumed programs see the dict form, documented on
    ``PregelAlgorithm.aggregators``."""
    out = {}
    for k, v in aggr.items():
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            out[k] = float(v)
        elif hasattr(v, "asDict"):
            out[k] = v.asDict(recursive=True)
        else:
            out[k] = v
    return out


def truncate_plan(df: DataFrame, eager: bool = False) -> DataFrame:
    """``localCheckpoint`` that ALSO drops inherited plan statistics.

    ``DataFrame.localCheckpoint`` truncates lineage but the resulting
    ``LogicalRDD`` keeps the optimized plan's ``originStats`` (Spark
    preserves them through checkpoints).  ``sizeInBytes`` is the PRODUCT
    of the children's sizes for every join, so a loop whose evolving
    frame joins *itself* (pointer doubling: ``lab(v) <- lab(lab(v))``)
    squares the statistic every round — after r rounds the BigInteger is
    ~2^r bits, and Catalyst's stats visitor ends up Toom-Cook-multiplying
    megabyte-sized integers: planning ONE round of the bow-tie
    reachability chain was measured at 30+ s on a 4-row input (the
    squaring compounds ACROSS chained fixpoints because checkpoint
    outputs feed the next fixpoint's leaves).  Rebuilding the DataFrame
    from the checkpointed RDD via ``internalCreateDataFrame`` yields a
    ``LogicalRDD`` with DEFAULT leaf stats — growth resets to a constant
    per round (measured flat at 63 bits over 15 rounds).

    Linear-growth loops (the Pregel gather: ~13 bits/superstep, 1109
    bits after 80 supersteps) don't need this; every self-joining
    fixpoint (components_fast, scc, bowtie) does."""
    try:
        jdf = df._jdf.localCheckpoint(eager)
        spark = df.sparkSession
        jds = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(jds, spark)
    except AttributeError:
        # classic-JVM internals unavailable (e.g. Spark Connect): fall
        # back to the plain checkpoint — correct, but inherited stats
        # make self-joining loops slow past ~20 rounds
        return df.localCheckpoint(eager=eager)


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the blocks of an eagerly ``localCheckpoint``-ed DataFrame, of a
    :func:`truncate_plan` rebuild of one, or of a projection of either.

    ``unpersist()`` is a no-op for checkpointed frames (they are not in
    the CacheManager); the storage is reachable through the analyzed
    ``LogicalRDD``'s RDD handle — for a rebuild or projection, down the
    one-to-one dependency chain of its RDD.  After release the frame is
    NOT usable (checkpoint blocks cannot be recomputed) — call only when
    every consumer has been materialized.  A frame with no blocks under
    it (a file scan, a shuffle output) is left alone.  Falls back to
    leaving the blocks to the ContextCleaner on non-classic backends
    (Spark Connect), warning once per process so a release that never
    happens stays visible."""
    global _release_warned
    try:
        qe = df._jdf.queryExecution()
        plan = qe.analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            rdd = plan.rdd()
        elif plan.children().isEmpty():
            return
        else:
            rdd = qe.toRdd()
        while not rdd.getStorageLevel().isValid():
            deps = rdd.dependencies()
            if deps.size() != 1 or (
                deps.head().getClass().getSimpleName() != "OneToOneDependency"
            ):
                return
            rdd = deps.head().rdd()
        rdd.unpersist(False)
    except Exception as exc:
        if not _release_warned:
            _release_warned = True
            warnings.warn(
                "release_local_checkpoint: could not free checkpoint blocks "
                f"({type(exc).__name__}: {exc}); leaving them to the "
                "ContextCleaner",
                RuntimeWarning,
                stacklevel=2,
            )


_release_warned = False


def observe(df: DataFrame, *metrics: Column) -> tuple[DataFrame, Observation]:
    """``df`` with ``metrics`` (aliased aggregates) observed by whichever
    job materializes it, and the :class:`~pyspark.sql.Observation` whose
    ``get`` returns them once that job has run."""
    obs = Observation()
    return df.observe(obs, *metrics), obs


#: session settings every iterative loop pins, saved and restored by
#: :func:`loop_scope`
LOOP_CONF = (
    "spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.shuffle.partitions",
)

#: loop width rule: ~100k rows per partition, capped at the session's
#: shuffle width (at cluster scale pass ``num_partitions`` ≈ E / 5M)
ROWS_PER_PARTITION = 100_000


class LoopScope:
    """Handle yielded by :func:`loop_scope`: sizes the loop's shuffle
    width once and owns every frame the loop checkpoints — made by
    :meth:`stage` / :meth:`leaf` or handed to :meth:`own` — freeing them
    at exit except the one the loop :meth:`keep`-s.  An eager round frees
    the round it supersedes (``stage(..., prev=...)``), so only the
    current round stays live, as GraphLite swaps two message generations;
    a lazy round (``localCheckpoint(eager=False)``) is read by the next
    one, so the chain is freed at exit."""

    def __init__(self, spark: SparkSession, num_partitions: int | None,
                 session_width: int):
        self.spark = spark
        #: the loop's shuffle width; None until the first stage/leaf
        self.num_partitions = num_partitions
        self._session_width = session_width
        # concurrent fixpoints (scc's forward/backward threads) stage
        # into one scope
        self._lock = threading.Lock()
        self._owned: list[DataFrame] = []

    def size(self, rows: int) -> int:
        """Fix the width from a row count (first call only) and pin it."""
        if self.num_partitions is None:
            self.num_partitions = max(
                1, min(self._session_width, rows // ROWS_PER_PARTITION + 1)
            )
            self.spark.conf.set(
                "spark.sql.shuffle.partitions", str(self.num_partitions)
            )
        return self.num_partitions

    def own(self, df: DataFrame) -> DataFrame:
        """Register a checkpointed or persisted frame (or a projection of
        one) for release at exit."""
        with self._lock:
            self._owned.append(df)
        return df

    def keep(self, df: DataFrame) -> DataFrame:
        """Hand ``df`` back to the caller: it survives the scope's exit."""
        with self._lock:
            self._owned = [o for o in self._owned if o is not df]
        return df

    def release(self, *dfs: DataFrame) -> None:
        """Free frames now, owned or not (every consumer must be
        materialized), and drop them from the exit's release list."""
        for df in dfs:
            if df.is_cached:
                df.unpersist()
            else:
                release_local_checkpoint(df)
            self.keep(df)

    def stage(self, df: DataFrame, truncate: bool = False,
              prev: DataFrame | None = None,
              **aggs: Column) -> tuple[DataFrame, dict]:
        """Eagerly checkpoint and own ``df`` (``truncate``: via
        :func:`truncate_plan`, for self-joining loops), then release
        ``prev``, the round it supersedes.  Returns the staged frame and
        the observed ``n`` (row count) and ``aggs``, which ride the
        checkpoint's one job; the first stage sizes the width from ``n``.
        Once the width is pinned, a loop may name its own ``n``.  The row
        is returned, not stored: concurrent fixpoints share a scope."""
        metrics = {"n": F.count(F.lit(1)), **aggs}
        observed, obs = observe(df, *(c.alias(k) for k, c in metrics.items()))
        staged = self.own(
            truncate_plan(observed, eager=True) if truncate
            else observed.localCheckpoint(eager=True)
        )
        row = obs.get
        self.size(int(row["n"] or 0))
        if prev is not None:
            self.release(prev)
        return staged, row

    def leaf(self, df: DataFrame, key: str, *order: str) -> DataFrame:
        """The loop's static side: ``df`` hash-partitioned by ``key`` at
        the loop width, sorted by ``order`` (default ``key``) and eagerly
        checkpointed.  The checkpoint keeps partitioning and sort order,
        so each round's join on ``key`` needs no exchange or sort on this
        side, and the leaf plan stops Catalyst re-analyzing the caller's
        lineage every round.  Stages ``df`` first when the width is not
        sized yet (counting a staged copy, not the caller's plan)."""
        staged = None
        if self.num_partitions is None:
            df = staged = self.stage(df)[0]
        leaf = self.own(
            df.repartition(self.num_partitions, key)
            .sortWithinPartitions(*(order or (key,)))
            .localCheckpoint(eager=True)
        )
        if staged is not None:
            self.release(staged)
        return leaf


@contextmanager
def loop_scope(spark: SparkSession, num_partitions: int | None = None,
               broadcast: bool = False):
    """Session settings and frame ownership for one iterative loop.

    Entry saves :data:`LOOP_CONF` and turns AQE and auto-broadcast off:
    AQE re-plans every round's identical query shape, and the tiny
    statistics of checkpointed loop frames would make Catalyst broadcast
    the V-sized state into every round's joins (each round's planning
    then blocks on a driver-side collect — the measured Pregel-loop
    pathology; an explicit ``F.broadcast`` hint still broadcasts).
    ``broadcast=True`` keeps the session's auto-broadcast threshold, for
    loops that join a small per-round frame against an edge set that is
    not co-partitioned with it (BFS frontiers, maximal matching).  The
    shuffle width is pinned to ``num_partitions`` now, or sized from the
    data by the first :meth:`LoopScope.stage` / :meth:`LoopScope.leaf`
    (``max(1, min(session width, rows // 100_000 + 1))``).

    Exit frees every frame the scope owns except those the loop
    :meth:`~LoopScope.keep`-s, and restores the saved settings — nested
    scopes restore their enclosing scope's values.  A frame a nested
    loop keeps is the enclosing loop's to ``own``.  The loop must have
    materialized whatever it returns before exit: a lazy plan over owned
    round frames would read freed blocks.  If
    the body raises, every RDD persisted since entry is unpersisted too
    (a failed eager checkpoint registers one nobody holds), assuming, as
    the session-wide settings already do, that no other thread creates
    persistent RDDs in this session meanwhile."""
    saved = {k: spark.conf.get(k) for k in LOOP_CONF}
    jsc = spark.sparkContext._jsc
    first_rdd = jsc.sc().newRddId()
    scope = LoopScope(
        spark, num_partitions, int(saved["spark.sql.shuffle.partitions"])
    )
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        if not broadcast:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        if num_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(num_partitions))
        yield scope
    except BaseException:
        for rid, rdd in jsc.getPersistentRDDs().items():
            if rid > first_rdd:
                rdd.unpersist(False)
        # swept above; cached frames still need their CacheManager entry
        scope._owned = [df for df in scope._owned if df.is_cached]
        raise
    finally:
        scope.release(*scope._owned)
        for k, v in saved.items():
            spark.conf.set(k, v)


class ParquetCheckpointer:
    """Durable checkpoints every ``every`` supersteps, local truncation
    in between."""

    def __init__(self, base_dir: str, every: int = 5):
        self.base_dir = str(base_dir)
        self.every = max(1, every)

    def _run_dir(self, run_id: str) -> Path:
        return Path(self.base_dir) / run_id

    def save(self, df: DataFrame, superstep: int, aggr: dict, run_id: str) -> DataFrame:
        """Phase 1: write the state durably (no manifest yet).

        The manifest needs the aggregator values *produced by* this
        superstep, which the engine only knows after its stats action —
        so publication happens in :meth:`commit` (phase 2).  A crash in
        between leaves data without a manifest, which resume ignores.
        """
        if superstep % self.every != 0:
            return df.localCheckpoint(eager=True)
        spark = df.sparkSession
        step_dir = self._run_dir(run_id) / f"superstep={superstep:06d}"
        data_path = str(step_dir / "state")
        # a restarted run may overwrite a superstep that already published a
        # manifest; retract it BEFORE touching the data so a crash mid-write
        # can never leave a complete manifest pointing at torn files
        old_manifest = step_dir / "manifest.json"
        if old_manifest.exists():
            old_manifest.unlink()
        # keep every column the engine reads after _truncate (stats agg uses
        # old_value/participate/has_msg) so the round-trip is transparent
        df.write.mode("overwrite").parquet(data_path)
        reread = spark.read.parquet(data_path)
        lineage = [
            {
                "partition_id": int(r["pid"]),
                "rows": int(r["rows"]),
                "min_id": int(r["min_id"]),
                "max_id": int(r["max_id"]),
            }
            for r in reread.groupBy(F.spark_partition_id().alias("pid"))
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.min("id").alias("min_id"),
                F.max("id").alias("max_id"),
            )
            .collect()
        ]
        self._pending = {
            "run_id": run_id,
            "superstep": superstep,
            "state_path": data_path,
            "partition_lineage": lineage,
            # the global visible DURING this superstep (needed to re-derive
            # its outgoing messages exactly on resume)
            "aggregates_in": _aggr_json(aggr),
        }
        return reread

    def commit(self, superstep: int, aggr: dict, run_id: str) -> None:
        """Phase 2: atomically publish the manifest with the aggregator
        globals this superstep produced (the value the next superstep
        reads — Worker.cc:729-731 timeline)."""
        pending = getattr(self, "_pending", None)
        if not pending or pending["superstep"] != superstep or pending["run_id"] != run_id:
            return
        step_dir = Path(pending["state_path"]).parent
        manifest = {
            **pending,
            "aggregates": _aggr_json(aggr),
            "wall_time": time.time(),
            "complete": True,
        }
        os.makedirs(step_dir, exist_ok=True)
        tmp = step_dir / "manifest.json.tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, step_dir / "manifest.json")  # atomic publish
        self._pending = None

    # -- resume ----------------------------------------------------------
    def manifests(self, run_id: str) -> list[dict]:
        out = []
        run_dir = self._run_dir(run_id)
        if not run_dir.exists():
            return out
        for step_dir in sorted(run_dir.glob("superstep=*")):
            m = step_dir / "manifest.json"
            if m.exists():
                with open(m) as f:
                    doc = json.load(f)
                if doc.get("complete"):
                    out.append(doc)
        return out

    def latest(
        self, spark: SparkSession, run_id: str
    ):
        """(state_df, superstep, aggregates, aggregates_in) of the newest complete
        checkpoint, or None.  Feed directly to ``PregelEngine.run``'s
        ``resume_from``; the aggregates dict is the aggregator state
        *produced by* that superstep (what the next superstep sees as
        global — the Worker.cc:729-731 timeline)."""
        ms = self.manifests(run_id)
        if not ms:
            return None
        m = ms[-1]
        df = spark.read.parquet(m["state_path"])
        return (df, int(m["superstep"]), dict(m["aggregates"]),
                dict(m.get("aggregates_in", m["aggregates"])))
