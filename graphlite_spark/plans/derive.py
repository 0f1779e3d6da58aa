"""Derive the link graph (vertices, edges) from a transcript table.

The graph the engine computes over (FIXTURES.md §2):

* one vertex per turn, with **dense ids 0..V-1** — matching the reference's
  assumption that vertex ids count contiguously from 0
  (GraphLite-0.20/engine/Worker.cc:30-31);
* ``reply`` edges: turn (conv, i) -> (conv, i+1) via ``lead(turn_idx)`` over
  ``Window.partitionBy(conv_id).orderBy(turn_idx)`` (the stable turn
  ordering demanded by the input_hint);
* ``tool`` edges: each *assistant* turn -> the next turn in the same
  conversation whose ``tool`` is non-null (the tool call it triggers).

Dense-id assignment is **fully distributed** (:func:`assign_dense_ids`):
a range shuffle establishes the global (conv_id, turn_idx) order across P
partitions, ``monotonically_increasing_id`` encodes (partition, local row)
without any further shuffle, and a P-row per-partition count (broadcast
back as exclusive prefix-sum offsets) turns local row numbers into global
dense ids.  No single-partition window anywhere — the old
``row_number() over (order by ...)`` formulation funneled the whole table
through ONE task, the definitive bottleneck at 10^12 turns.  Both edge
kinds are windowed *within* a conversation, so the only shuffle the edge
derivation needs is a hash partition on ``conv_id``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: monotonically_increasing_id() = (partition_id << 33) | local_row_counter
_MID_LOCAL_MASK = (1 << 33) - 1


def assign_dense_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "id",
    num_partitions: int | None = None,
) -> DataFrame:
    """Distributed zipWithIndex: ``id`` = global rank of ``order_cols``.

    Semantically identical to ``row_number() over (order by order_cols) - 1``
    but never materializes a single-partition window:

    1. ``repartitionByRange(P, *order_cols)`` + ``sortWithinPartitions`` —
       one range shuffle fixes a total order (partition i's keys all sort
       before partition i+1's; ``order_cols`` must be a unique key so no
       tie can straddle a boundary);
    2. ``monotonically_increasing_id()`` stamps (pid << 33) | local_row in
       that order, shuffle-free;
    3. a groupBy on pid (P result rows, collected) yields per-partition
       counts; their exclusive prefix sums are joined back broadcast-style
       so ``id = offset[pid] + local_row``.

    The frame is persisted before step 3 so the nondeterministic pieces
    (range-sample boundaries, mid counters) are materialized exactly once.
    Cost at scale: one full range shuffle + one P-row driver collect —
    vs the old plan's single-task global sort.

    Overflow safety: ``monotonically_increasing_id``'s local row counter
    occupies the low 33 bits — a partition holding >= 2^33 rows would bleed
    into the partition bits and silently corrupt ids.  The partition id is
    therefore stamped with ``spark_partition_id()`` (exact regardless of
    counter width), the per-partition counts collected in step 3 are
    checked against the 2^33 bound, and on violation P is auto-rescaled so
    rows/partition lands well under the mask (one retry, then a hard
    error).  With the default P=32, 10^12 rows is ~3·10^10 rows/partition —
    past the bound — so this guard is load-bearing at exactly the
    advertised scale, not defensive fluff.
    """
    spark = df.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = None
    for _attempt in range(2):
        part = (
            df.repartitionByRange(P, *order_cols)
            .sortWithinPartitions(*order_cols)
            .withColumn("_pid", F.spark_partition_id())
            .withColumn("_mid", F.monotonically_increasing_id())
            .persist()
        )
        counts = part.groupBy("_pid").count().collect()
        biggest = max((int(r["count"]) for r in counts), default=0)
        if biggest < (1 << 33):
            break
        total = sum(int(r["count"]) for r in counts)
        part.unpersist()
        # target <= 2^32 rows/partition: half the mask, so even 2x range
        # skew stays safely inside the 33-bit local counter
        P = max(P * 2, -(-total // (1 << 32)))
    else:
        raise ValueError(
            f"assign_dense_ids: a range partition still holds {biggest} rows "
            f">= 2^33 after rescaling to P={P}; pass num_partitions explicitly"
        )
    offsets, acc = [], 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((int(r["_pid"]), acc))
        acc += int(r["count"])
    offs = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    out = (
        part.join(F.broadcast(offs), "_pid")
        .withColumn(
            id_col,
            (F.col("_off") + F.col("_mid").bitwiseAND(F.lit(_MID_LOCAL_MASK))).cast(
                "long"
            ),
        )
        .drop("_pid", "_off", "_mid")
    )
    # freeze the assignment (mid counters are nondeterministic on recompute)
    # and release the intermediate cache; at cluster scale this is where a
    # durable parquet/Iceberg write of the vertex table would go instead
    out = out.localCheckpoint(eager=True)
    part.unpersist()
    return out


def _exclusive_conv_offsets(
    cnts: DataFrame, key: str = "conv_id"
) -> tuple[DataFrame, int]:
    """((key, _off), n_keys) — exclusive prefix sum of ``_n`` in ``key``
    order plus the EXACT key count (free: it rides the same P-row
    collect that supplies the partition offsets),
    fully distributed (the weighted analogue of :func:`assign_dense_ids`):
    a range shuffle of the per-key counts fixes the key order across P
    partitions, a per-partition window computes local running sums, and a
    P-row driver collect supplies the exclusive partition offsets.  The
    input is per-KEY (one row per conversation), so this runs on a table
    ~avg_turns× smaller than the turn table; the result is eagerly
    checkpointed (it is joined back twice-removed and the range-sample
    boundaries and partition ids must not be re-drawn on recompute)."""
    from graphlite_spark.checkpoint import release_local_checkpoint

    spark = cnts.sparkSession
    P = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # checkpoint the per-key counts FIRST: they are key-cardinality-sized
    # but computing them costs a full pass over the turn table, and the
    # range shuffle below would otherwise pay that pass twice more (once
    # for boundary sampling, once for the exchange itself)
    cnts = cnts.localCheckpoint(eager=True)
    n_keys = cnts.count()
    if n_keys <= 2_000_000:
        # bounded driver fast path: a prefix sum over <= 2M per-KEY
        # count rows is cut-table-sized (the codebook-collect class the
        # repo already audits), and doing it here replaces the range
        # sample + exchange + stats collect + second checkpoint — three
        # driver round-trips — with one collect.  Key order: the keys
        # are the engine's ASCII 'conv%08d' ids, for which Python's
        # code-point sort equals Spark's UTF8 binary ordering, and a NULL
        # key (a NULL user_id formats to one) sorts first, as Spark's
        # ascending order does.  The distributed path below remains the
        # >2M route.
        rows = sorted(
            cnts.collect(), key=lambda r: (r[key] is not None, r[key])
        )
        data, acc = [], 0
        for r in rows:
            data.append((r[key], acc))
            acc += int(r["_n"])
        ktype = {f.name: f.dataType.simpleString() for f in cnts.schema.fields}[key]
        out = spark.createDataFrame(data, f"{key} {ktype}, _off long")
        release_local_checkpoint(cnts)
        return out, n_keys
    part = (
        cnts.repartitionByRange(P, key)
        .sortWithinPartitions(key)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    stats = {
        int(r["_pid"]): (int(r["_t"]), int(r["_k"]))
        for r in part.groupBy("_pid")
        .agg(F.sum("_n").alias("_t"), F.count(F.lit(1)).alias("_k"))
        .collect()
    }
    offsets, acc = [], 0
    n_keys = sum(k for _, k in stats.values())
    for pid in sorted(stats):
        offsets.append((pid, acc))
        acc += stats[pid][0]
    offs = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _poff long")
    wcum = (
        Window.partitionBy("_pid")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        part.join(F.broadcast(offs), "_pid")
        .select(
            key,
            (F.col("_poff") + F.sum("_n").over(wcum) - F.col("_n"))
            .cast("long")
            .alias("_off"),
        )
        .localCheckpoint(eager=True)
    )
    part.unpersist()
    return out, n_keys


def derive_vertices(transcripts: DataFrame) -> DataFrame:
    """(id, conv_id, turn_idx, text) — dense ids over (conv_id, turn_idx).

    Keeps ``text`` so the per-row invariant (per-turn text equality under
    stable turn ordering) is checkable after derivation.

    The id is the global rank of (conv_id, turn_idx), computed as
    ``offset(conv_id) + rank_within_conversation``: a per-conversation
    window ranks turns (ONE hash shuffle on conv_id — the same
    partitioning the edge derivation needs), and the conversation offsets
    are an exclusive prefix sum over the per-conversation COUNTS — a
    table ~avg_turns× smaller than the turn table.  Equivalent to the
    previous ``assign_dense_ids`` formulation (global rank is identical)
    but without range-sampling, persisting, and eagerly checkpointing the
    full turn table: the turn-level output is deterministic, so no freeze
    is needed at all (measured 8.3 s -> ~2 s for sf0.1
    ``derive_vertices``+count).
    """
    t = transcripts.select("conv_id", "turn_idx", "text")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    ranked = t.select(
        "conv_id",
        "turn_idx",
        "text",
        (F.row_number().over(w) - 1).cast("long").alias("_r"),
    )
    cnts = t.groupBy("conv_id").agg(F.count(F.lit(1)).alias("_n"))
    offs, n_convs = _exclusive_conv_offsets(cnts)
    # Place the broadcast DELIBERATELY: left to its size estimates the
    # planner broadcasts the V-sized ranked turn table here (measured in
    # the sf0.1 plan — BuildLeft over the whole window pipeline), which
    # collects every turn through the driver and is fatal at 10^12 rows.
    # The offsets table is conversation-cardinality and its exact row
    # count just rode the offsets collect, so broadcast it while it is
    # genuinely broadcast-sized and fall back to the shuffle join (ranked
    # stays on its hash(conv_id) partitioning) when it is not.
    if n_convs <= 4_000_000:  # ~60 B/row framed: a few hundred MB at most
        offs = F.broadcast(offs)
    return ranked.join(offs, "conv_id").select(
        (F.col("_off") + F.col("_r")).cast("long").alias("id"),
        "conv_id",
        "turn_idx",
        "text",
    )


def derive_edges(transcripts: DataFrame, vertices: DataFrame | None = None) -> DataFrame:
    """(src, dst, etype, weight) over dense vertex ids.

    weight defaults to 1.0 — the reference's PageRank stores an edge value
    but never consults it (example/PageRankVertex.cc:71,78-82).
    """
    if vertices is None:
        vertices = derive_vertices(transcripts)
    ids = vertices.select("id", "conv_id", "turn_idx")
    w = Window.partitionBy("conv_id").orderBy("turn_idx")

    # reply edges need nothing but the dense-id table: the (conv, turn)
    # -> id map is 1:1 with the transcript rows, so lead(id) over the
    # conversation window on ``ids`` alone equals the joined formulation —
    # no transcript re-scan, no join, and ``ids`` already rides the
    # hash(conv_id) partitioning it was built under.
    reply = (
        ids.withColumn("dst", F.lead("id").over(w))
        .where(F.col("dst").isNotNull())
        .select(F.col("id").alias("src"), "dst", F.lit("reply").alias("etype"))
    )

    # tool edges need role/tool, so one equi-join attaches dense ids —
    # pre-filtered to the only rows that matter: assistant turns (edge
    # sources) and tool turns (min-over-following targets).  Dropping the
    # other rows cannot change the min (every tool turn is retained and
    # rows strictly after a kept row stay strictly after it).  Both join
    # sides are hash(conv_id)-partitioned, and conv_id is a join key, so
    # the join and the following window replan onto that one exchange.
    tt = transcripts.where(
        (F.col("role") == "assistant") | F.col("tool").isNotNull()
    ).select("conv_id", "turn_idx", "role", "tool")
    t = tt.join(ids, ["conv_id", "turn_idx"])

    w_follow = w.rowsBetween(1, Window.unboundedFollowing)
    tool = (
        t.withColumn(
            "dst", F.min(F.when(F.col("tool").isNotNull(), F.col("id"))).over(w_follow)
        )
        .where((F.col("role") == "assistant") & F.col("dst").isNotNull())
        .select(F.col("id").alias("src"), "dst", F.lit("tool").alias("etype"))
    )

    return reply.unionByName(tool).withColumn("weight", F.lit(1.0))
