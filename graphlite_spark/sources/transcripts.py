"""Transcript-table sources.

The engine's primary input (BASELINE.json ``input_hint``) is a table of
multi-turn conversation/agent transcripts::

    (conv_id:string, turn_idx:int32, role:string, text:string,
     tool:string, ts:timestamp)

Three sources are provided:

* :func:`generate_transcripts` — deterministic synthetic generator, a pure
  function of (seed, n_convs, max_turns), built entirely from JVM-side
  expressions (``spark.range`` + hash-derived pseudo-randomness; no Python
  per row) so it scales to any size.  Conversation lengths are
  Zipf-truncated so some conversations are hubs (skew on purpose).
* :func:`transcripts_from_events` — adapter mapping the harness's
  ``events.parquet`` stream ``(event_id, ts, user_id, event_type, value,
  props)`` onto the transcript shape (TESTDATA.md / FIXTURES.md §5).
* :func:`load_tinygraph` — the reference's 5-vertex/12-edge parity fixture
  (GraphLite-0.20/Input/tinygraph, format per engine/Worker.cc:31-57),
  embedded verbatim as data.

All hash-derived columns use ``md5`` (not sha1/xxhash) because md5 is the
one hash both Spark SQL and DuckDB compute identically — the correctness
oracle re-derives these columns in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

TOOL_VOCAB = ["search", "exec", "read", "write", "browse", "calc"]

# GraphLite-0.20/Input/tinygraph, verbatim (header: 5 vertices / 12 edges).
TINYGRAPH_EDGES = [
    (0, 1), (0, 3), (1, 0), (1, 2), (1, 3), (2, 1),
    (2, 4), (3, 0), (3, 1), (3, 4), (4, 3), (4, 2),
]
TINYGRAPH_NUM_VERTICES = 5


def _u01(*cols) -> F.Column:
    """Deterministic uniform(0,1) from columns: md5 -> 48-bit int -> [0,1).

    ``conv(hex, 16, 10)`` on the first 12 hex chars of md5 gives an exact
    48-bit integer; dividing by 2^48 yields a uniform double.  Reproducible
    in DuckDB as ``CAST(('0x'||substr(md5(x),1,12)) AS BIGINT)/281474976710656``
    if an oracle ever needs it.
    """
    h = F.md5(F.concat_ws("\x1f", *[F.col(c) if isinstance(c, str) else c for c in cols]))
    return F.conv(F.substring(h, 1, 12), 16, 10).cast("double") / F.lit(float(2**48))


def generate_transcripts(
    spark: SparkSession,
    n_convs: int = 50,
    max_turns: int = 20,
    seed: int = 42,
    tool_rate: float = 0.2,
    partitions: int | None = None,
) -> DataFrame:
    """Deterministic synthetic transcripts (FIXTURES.md §1).

    ``turns_per_conv`` ~ bounded-Pareto(s=2) on [2, max_turns] (Zipf-ish
    skew, some hub conversations); ``text = f"{conv_id}:{turn_idx}:{h12}"``
    with ``h12 = md5(seed:conv_id:turn_idx)[:12]`` — the per-row invariant
    checked after derivation.  Pure function of (seed, n_convs, max_turns,
    tool_rate); fully distributed (spark.range -> sequence/explode).
    """
    convs = spark.range(n_convs, numPartitions=partitions)
    convs = convs.select(
        F.format_string("conv%08d", F.col("id").cast("int")).alias("conv_id"),
        F.col("id").alias("conv_seq"),
    )
    seed_lit = F.lit(str(seed))
    # Bounded Pareto inverse-CDF: n = floor(1 / (1/lo - u*(1/lo - 1/hi))), s=2.
    lo, hi = 2.0, float(max_turns)
    u = _u01(seed_lit, F.lit("nturns"), "conv_id")
    n_turns = F.floor(1.0 / (1.0 / lo - u * (1.0 / lo - 1.0 / hi)))
    n_turns = F.greatest(F.lit(2), F.least(F.lit(max_turns), n_turns)).cast("int")
    convs = convs.withColumn("n_turns", n_turns)

    turns = convs.select(
        "conv_id",
        "conv_seq",
        F.explode(F.sequence(F.lit(0), F.col("n_turns") - 1)).alias("turn_idx"),
    )
    tool_u = _u01(seed_lit, F.lit("tool"), "conv_id", F.col("turn_idx").cast("string"))
    tool_pick = F.conv(
        F.substring(
            F.md5(F.concat_ws("\x1f", seed_lit, F.lit("pick"), "conv_id",
                              F.col("turn_idx").cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("long") % len(TOOL_VOCAB)
    vocab = F.array(*[F.lit(t) for t in TOOL_VOCAB])
    out = turns.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        F.when(tool_u < F.lit(tool_rate), F.element_at(vocab, tool_pick.cast("int") + 1))
        .otherwise(F.lit(None).cast("string"))
        .alias("tool"),
        F.concat(
            F.col("conv_id"),
            F.lit(":"),
            F.col("turn_idx").cast("string"),
            F.lit(":"),
            F.substring(
                F.md5(F.concat_ws(":", seed_lit, "conv_id", F.col("turn_idx").cast("string"))),
                1, 12,
            ),
        ).alias("text"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("conv_seq") * 3600 + F.col("turn_idx") * 7)
        ).alias("ts"),
    )
    out = out.withColumn(
        "role",
        F.when(F.col("tool").isNotNull(), F.lit("tool"))
        .when(F.col("turn_idx") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant")),
    )
    return out.select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def transcripts_from_events(events: DataFrame) -> DataFrame:
    """Adapt the harness ``events`` table to the transcript shape.

    Mapping (mirrored exactly by the DuckDB oracle SQL in
    ``__spark_entry__.oracle_sql``):

    * ``conv_id``  = ``format('conv%08d', user_id)``
    * ``turn_idx`` = ``row_number() over (partition by conv_id
      order by ts, event_id) - 1``  (stable turn ordering; the oracle
      partitions by user_id, which is the same partition because the
      conv_id format is injective on int ids)
    * ``tool``     = ``event_type`` when it is ``purchase``/``error``
      (tool-ish actions), else null
    * ``role``     = 'tool' when tool is set, else user/assistant by parity
    * ``text``     = ``conv_id || ':' || turn_idx || ':' ||
      substr(md5(cast(event_id as string)), 1, 12)`` — deterministic,
      engine-agnostic payload carrying the per-row invariant
    """
    # Project conv_id FIRST and partition the ranking window by it:
    # conv_id = format('conv%08d', user_id) is injective, so the ranks are
    # identical to partitioning by user_id — but every downstream consumer
    # (dense-id window, per-conversation edge windows, conv groupBys) keys
    # on conv_id, and hanging the one required hash exchange on that
    # column lets all of them ride it instead of re-shuffling.
    # user_id must fit an int: under Spark's default ANSI mode the cast
    # raises ArithmeticException on an out-of-range id instead of
    # wrapping it into another user's conversation.
    base = events.select(
        F.format_string("conv%08d", F.col("user_id").cast("int")).alias("conv_id"),
        "event_type",
        "event_id",
        "ts",
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    t = base.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(F.col("event_type").isin("purchase", "error"), F.col("event_type"))
        .otherwise(F.lit(None).cast("string"))
        .alias("tool"),
        F.col("event_id"),
        F.col("ts"),
    )
    t = t.withColumn(
        "role",
        F.when(F.col("tool").isNotNull(), F.lit("tool"))
        .when(F.col("turn_idx") % 2 == 0, F.lit("user"))
        .otherwise(F.lit("assistant")),
    ).withColumn(
        "text",
        F.concat(
            F.col("conv_id"), F.lit(":"), F.col("turn_idx").cast("string"), F.lit(":"),
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 12),
        ),
    )
    return t.select("conv_id", "turn_idx", "role", "text", "tool", "ts")


def load_tinygraph(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """The reference parity fixture as (vertices, edges) DataFrames.

    Vertices are ALL ids 0..4 (the reference initializes every local id,
    engine/Worker.cc:342-355 — vertices with no out-edges still hold rank).
    """
    edges = spark.createDataFrame(
        [(s, d, 1.0) for s, d in TINYGRAPH_EDGES], "src long, dst long, weight double"
    )
    vertices = spark.range(TINYGRAPH_NUM_VERTICES).select(F.col("id").alias("id"))
    return vertices, edges


def tool_transitions(transcripts: DataFrame) -> DataFrame:
    """(prev_tool, tool, n, p) — the first-order Markov transition counts
    between consecutive TOOL turns of each conversation (ordered by
    turn_idx), with the row-conditional probability p = n / Σ_b n(a, b).
    The transition matrix is the standard readout of agent tool-usage
    structure (which tool follows which) and the input to any
    Markov-chain simulation of tool traffic.

    Exactness: counts are integers; each probability is ONE 6dp-rounded
    division of two exact BIGINTs (the repo's float discipline).

    Shape: one per-conversation window (partitioned by conv_id — never
    global), one map-side-combined pair count, and a broadcast-sized
    join of the per-prev_tool totals (|tools|² rows at most — the
    transition matrix is codebook-sized by definition)."""
    t = transcripts.where(F.col("tool").isNotNull()).select(
        "conv_id", "turn_idx", "tool"
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    p = t.select(
        F.lag("tool").over(w).alias("prev_tool"), F.col("tool")
    ).where(F.col("prev_tool").isNotNull())
    n = p.groupBy("prev_tool", "tool").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = n.groupBy("prev_tool").agg(F.sum("n").cast("long").alias("tot"))
    return n.join(F.broadcast(tot), "prev_tool").select(
        "prev_tool",
        "tool",
        "n",
        F.round(F.col("n").cast("double") / F.col("tot").cast("double"), 6)
        .alias("p"),
    )


def tool_cooccurrence_pmi(transcripts: DataFrame) -> DataFrame:
    """(tool_a, tool_b, n_both, pmi) — pointwise mutual information of
    tool PRESENCE per conversation (which tools co-fire in the same
    trace):  pmi = ln(N·c_ab / (c_a·c_b)) over conversation-level
    presence sets — the association readout behind tool-bundle
    discovery, complementary to the sequential ``tool_transitions``.

    Exactness: N·c_ab and c_a·c_b are exact BIGINTs (≤ 2^53, exactly
    representable in double); the ln of their one-division ratio is a
    single IEEE expression on both engines, rounded to 6dp.

    Shape: one combined distinct builds (conv, tool) presence; the
    pair join is per-conversation (fan-out bounded by tools-per-conv,
    codebook-sized); totals and N are broadcast-sized."""
    pres = (
        transcripts.where(F.col("tool").isNotNull())
        .select("conv_id", "tool")
        .distinct()
    )
    n = pres.select("conv_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_convs")
    )
    ct = pres.groupBy("tool").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    pairs = (
        pres.select("conv_id", F.col("tool").alias("tool_a"))
        .join(
            pres.select("conv_id", F.col("tool").alias("tool_b")),
            "conv_id",
        )
        .where(F.col("tool_a") < F.col("tool_b"))
        .groupBy("tool_a", "tool_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    return (
        pairs.join(
            F.broadcast(
                ct.select(F.col("tool").alias("tool_a"), F.col("c").alias("ca"))
            ),
            "tool_a",
        )
        .join(
            F.broadcast(
                ct.select(F.col("tool").alias("tool_b"), F.col("c").alias("cb"))
            ),
            "tool_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "tool_a",
            "tool_b",
            "n_both",
            F.round(
                F.log(
                    (F.col("n_both") * F.col("n_convs")).cast("double")
                    / (F.col("ca") * F.col("cb")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )
