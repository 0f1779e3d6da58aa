"""Approximate-nearest-neighbor search over an embedding column.

Two paths, per the pipeline tier's contract:

* :func:`cosine_topk` — brute-force baseline: queries × candidates cross
  join with the candidate side broadcast when small, cosine in pure JVM
  expressions (``F.zip_with`` + in-order ``F.aggregate`` fold — no Python).
  O(Q·N·D); correct for any size, affordable when Q·N is bounded.
* :func:`lsh_bucket_topk` — the scale path: sign-bit LSH bucket on the
  first B dimensions (deterministic, engine-agnostic), equi-join on the
  bucket, brute-force only within buckets.  At 100 TB, bucket count grows
  2^B and the shuffle is one hash partition on the bucket key; recall
  trades off with B.

Vectors are cast float→double before any arithmetic so Spark and the
DuckDB oracle (list_inner_product on the same parquet) agree to well below
the 1e-6 rounding applied to outputs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine_expr(a: Column, b: Column) -> Column:
    a, b = _as_double(a), _as_double(b)
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_candidates: bool = True,
) -> DataFrame:
    """(query_id, neighbor_id, rank, sim) — exact top-k by cosine.

    Deterministic tie-break: (round(sim,6) DESC, neighbor_id ASC), so
    cross-engine float noise below 1e-6 cannot reorder results.
    """
    # Hoist the per-vector work out of the O(Q·N) pair loop: the double
    # cast and the self-norm are functions of ONE side, but inlining
    # cosine_expr per pair recomputed both (2 transforms + 2 dot folds +
    # 2 sqrts per pair).  Staged per side, each pair pays exactly one
    # dot fold and one divide; the float ops and their order are
    # unchanged (dot / (sqrt(aa) * sqrt(bb))), so sim is bit-identical.
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    )
    q = q.select(
        "query_id", "qv", F.sqrt(_dot(F.col("qv"), F.col("qv"))).alias("qn")
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    )
    c = c.select(
        "neighbor_id", "cv", F.sqrt(_dot(F.col("cv"), F.col("cv"))).alias("cn")
    )
    if broadcast_candidates:
        c = F.broadcast(c)
    scored = (
        q.join(c, q["query_id"] != c["neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def lsh_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, n_truth, n_approx, n_hits, recall) — measured recall@k
    of the LSH-bucketed path against the brute-force ground truth.

    Turns the recall-vs-num_bits tradeoff into a checked number: n_hits
    is the intersection size between :func:`lsh_bucket_topk` and
    :func:`cosine_topk` per query (integer, hash-exact across engines);
    recall = n_hits / n_truth rounded to 6dp.  Queries whose bucket holds
    no other vector report n_approx = 0, recall 0 — they count, since a
    production tuning loop must see empty-bucket misses, not drop them.

    Scale shape: both top-k paths are the operators under test (bucket
    equi-join / broadcast cross join, WindowGroupLimit top-k); the
    comparison itself is one equi-join on (query_id, neighbor_id) plus a
    map-side-combined groupBy — negligible next to the searches.  At
    100 TB this runs on a sampled query set, never the full corpus (the
    ground-truth side is the brute-force scan)."""
    truth = cosine_topk(embeddings, queries, k=k, id_col=id_col, vec_col=vec_col)
    approx = lsh_bucket_topk(
        embeddings, queries, k=k, num_bits=num_bits, id_col=id_col, vec_col=vec_col
    )
    return _recall_compare(truth, approx)


def matryoshka_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dims: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, n_truth, n_approx, n_hits, recall) — measured recall@k
    of cosine top-k run on only the FIRST ``dims`` coordinates against
    the full-dimension ground truth (same contract as :func:`lsh_recall`).

    The dimension-truncation ablation behind Matryoshka-style embeddings
    (Kusupati et al. 2022, public literature): nested-prefix models are
    trained so a d/4-wide prefix retrieves nearly as well as the full
    vector, and THIS readout is the number that decision is made on —
    how much recall the index gives up by storing/searching the prefix.
    On non-Matryoshka embeddings it doubles as the honest baseline
    showing why naive truncation needs the special training.

    Scale shape: both sides are :func:`cosine_topk` (broadcast cross
    join + WindowGroupLimit top-k) — the truncated side additionally
    SHRINKS every vector to ``dims`` floats before the join via a pure
    ``slice`` projection, which is exactly the memory/bandwidth saving
    the prefix index buys at 100 TB (the d-to-dims ratio comes off the
    shuffle and the distance arithmetic alike).  The comparison is the
    shared :func:`_recall_compare` equi-join."""
    truth = cosine_topk(embeddings, queries, k=k, id_col=id_col, vec_col=vec_col)
    te = embeddings.select(
        F.col(id_col).alias(id_col), F.slice(F.col(vec_col), 1, dims).alias(vec_col)
    )
    tq = queries.select(
        F.col(id_col).alias(id_col), F.slice(F.col(vec_col), 1, dims).alias(vec_col)
    )
    approx = cosine_topk(te, tq, k=k, id_col=id_col, vec_col=vec_col)
    return _recall_compare(truth, approx)


def ivf_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    n_clusters: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, n_truth, n_approx, n_hits, recall) — measured recall@k
    of the IVF path against the brute-force ground truth, the tuning
    number for the nprobe/n_clusters tradeoff (same contract as
    :func:`lsh_recall`)."""
    truth = cosine_topk(embeddings, queries, k=k, id_col=id_col, vec_col=vec_col)
    approx = ivf_topk(
        embeddings, queries, k=k, nprobe=nprobe, n_clusters=n_clusters,
        iterations=iterations, id_col=id_col, vec_col=vec_col,
    )
    return _recall_compare(truth, approx)


def _recall_compare(truth: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query intersection stats of two (query_id, neighbor_id, ...)
    top-k frames: one equi-join + map-side-combined groupBys (negligible
    next to the searches).  Queries with an empty approx set report
    recall 0 — a tuning loop must see empty-cell misses, not drop them."""
    t = truth.select("query_id", "neighbor_id")
    a = approx.select("query_id", "neighbor_id")
    hits = (
        t.join(a, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    nt = t.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_truth"))
    na = a.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_approx"))
    return (
        nt.join(na, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.col("n_truth").cast("long").alias("n_truth"),
            F.coalesce("n_approx", F.lit(0)).cast("long").alias("n_approx"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) / F.col("n_truth"), 6
            ).alias("recall"),
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    n_clusters: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, rank, sim) — IVF-style ANN: top-k by cosine
    among corpus vectors whose k-means cell is one of the query's
    ``nprobe`` nearest cells.

    ``label_col`` turns the search into HARD-NEGATIVE MINING (the
    contrastive-training data step): only candidates with a DIFFERENT
    label compete for the k slots — the filter runs BEFORE the top-k
    window (filtering afterwards would let same-label neighbors eat the
    slots), and the output gains (query_label, neighbor_label).  Same
    index, same probes, same exactness; the per-query hardest negatives
    are the highest-cosine different-label vectors the probes reach.

    The learned counterpart of :func:`lsh_bucket_topk`: the coarse
    quantizer is the :mod:`~graphlite_spark.operators.kmeans` codebook
    (deterministic hash-min seeding, integer-exact Lloyd updates), so the
    whole index is reproducible cross-engine and the DuckDB oracle
    re-derives the identical cells.  Scale shape: the codebook is k·d
    driver-side longs embedded as LITERALS — cell assignment for both
    corpus and queries is a pure whole-stage-codegen expression (no join,
    no shuffle over the N·d data); the search itself is one equi-join on
    the cell id (queries replicated nprobe×, corpus once) followed by the
    usual WindowGroupLimit top-k.  Each corpus vector lives in exactly one
    cell, so probing several cells never duplicates a candidate pair.
    Probe order ties break to the smaller cell index (micro-unit BIGINT
    distances — exact, no float noise)."""
    from graphlite_spark.operators.kmeans import (
        _dists_expr, _fit, _quantized, quantize_expr,
    )

    cents = _fit(_quantized(embeddings, id_col, vec_col), n_clusters, iterations)
    nprobe = min(nprobe, len(cents))

    c_lab = (
        [F.col(label_col).alias("neighbor_label")] if label_col else []
    )
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        quantize_expr(F.col(vec_col)).alias("qv"),
        *c_lab,
    ).select(
        "neighbor_id", "cv", _dists_expr(cents).alias("ds"),
        *(["neighbor_label"] if label_col else []),
    ).select(
        "neighbor_id", "cv",
        # per-vector norm staged once (same hoist as cosine_topk)
        F.sqrt(_dot(F.col("cv"), F.col("cv"))).alias("cn"),
        (F.array_position("ds", F.array_min("ds")) - 1)
        .cast("long").alias("cell"),
        *(["neighbor_label"] if label_col else []),
    )

    q_lab = [F.col(label_col).alias("query_label")] if label_col else []
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qvec"),
        quantize_expr(F.col(vec_col)).alias("qv"),
        *q_lab,
    ).select(
        "*", F.sqrt(_dot(F.col("qvec"), F.col("qvec"))).alias("qn")
    )
    # (dist, cell) structs sort ascending lexicographically — nearest
    # first, smaller cell index on ties — then keep the nprobe head
    ranked = F.slice(
        F.array_sort(
            F.transform(
                _dists_expr(cents),
                lambda d, i: F.struct(
                    d.alias("d"), i.cast("long").alias("cell")
                ),
            )
        ),
        1,
        nprobe,
    )
    ql = ["query_label"] if label_col else []
    nl = ["neighbor_label"] if label_col else []
    probes = (
        q.select("query_id", "qvec", "qn", ranked.alias("pr"), *ql)
        .select("query_id", "qvec", "qn", F.explode("pr").alias("p"), *ql)
        .select("query_id", "qvec", "qn", F.col("p.cell").alias("cell"), *ql)
    )

    scored = probes.join(c, "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    if label_col:
        scored = scored.where(
            F.col("query_label") != F.col("neighbor_label")
        )
    scored = scored.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("qvec"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
        ).alias("sim"),
        *ql,
        *nl,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", *ql, "neighbor_id", *nl, "rank", "sim")
    )


def lsh_bucket(vec: Column, num_bits: int = 8) -> Column:
    """Deterministic sign-bit bucket: bit j set iff vec[j] >= 0."""
    out = F.lit(0)
    for j in range(num_bits):
        out = out + F.when(
            F.element_at(vec, j + 1).cast("double") >= 0, F.lit(1 << j)
        ).otherwise(F.lit(0))
    return out.cast("long")


def lsh_bucket_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    num_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, rank, sim) — top-k within the LSH bucket."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
        lsh_bucket(F.col(vec_col), num_bits).alias("bucket"),
    ).select("*", F.sqrt(_dot(F.col("qv"), F.col("qv"))).alias("qn"))
    c = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        lsh_bucket(F.col(vec_col), num_bits).alias("bucket"),
    ).select("*", F.sqrt(_dot(F.col("cv"), F.col("cv"))).alias("cn"))
    scored = (
        q.join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    nprobe: int = 2,
    n_clusters: int = 8,
    m: int = 4,
    pq_k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, rank, adc) — IVF-PQ ANN search (Jégou,
    Douze & Schmid 2011): IVF routes each query to its ``nprobe``
    nearest k-means cells, then candidates are ranked by ASYMMETRIC
    distance — the query's exact subvectors against each candidate's PQ
    CODES (m codebook indices, the operators/kmeans.pq_encode
    compression), so the candidate side never touches its full vector at
    search time.  ``adc`` is the BIGINT micro-unit squared L2 — exact
    integers end to end, reproducible cross-engine.

    Simplification, stated: codebooks quantize RAW subvectors (not
    IVF-cell residuals) — the variant several production systems run;
    residual encoding is a quality knob, not a plan-shape change.

    Scale shape: corpus cell + m codes are pure codebook-literal
    expressions (the N·d data is never joined or shuffled to be
    indexed); each query carries its m per-codeword distance tables
    (m·pq_k longs) as expression-built arrays; search = ONE equi-join
    on the cell id + per-candidate array lookups + WindowGroupLimit
    top-k.  At 100 TB the index side stores m·log2(pq_k) bits per
    vector — the memory story that makes billion-scale ANN fit."""
    from graphlite_spark.operators.kmeans import (
        _dists_expr, _fit, _quantized, quantize_expr,
    )

    dim_row = embeddings.select(
        F.size(F.col(vec_col)).alias("d")
    ).limit(1).collect()
    if not dim_row:
        return embeddings.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, adc long"
        )
    d = dim_row[0]["d"]
    if d % m != 0:
        raise ValueError(f"ivfpq_topk: d={d} not divisible by m={m}")
    sub = d // m
    from graphlite_spark.checkpoint import release_local_checkpoint

    # one staged quantization shared by the coarse fit and the m
    # codebook fits (they run 5*(1+iterations) driver actions between
    # them; unstaged, each re-ran the scan+quantize plan)
    qz = _quantized(embeddings, id_col, vec_col).localCheckpoint(eager=True)
    try:
        cents = _fit(qz, n_clusters, iterations)
        nprobe = min(nprobe, len(cents))
        books = [
            _fit(
                qz.select("id", F.slice("qv", s * sub + 1, sub).alias("qv")),
                pq_k,
                iterations,
            )
            for s in range(m)
        ]
    finally:
        release_local_checkpoint(qz)

    corpus = (
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            quantize_expr(F.col(vec_col)).alias("qv"),
        )
        .select(
            "neighbor_id",
            _dists_expr(cents).alias("ds"),
            *[
                F.slice("qv", s * sub + 1, sub).alias(f"sv{s}")
                for s in range(m)
            ],
        )
        .select(
            "neighbor_id",
            (F.array_position("ds", F.array_min("ds")) - 1)
            .cast("long")
            .alias("cell"),
            *[
                (
                    F.array_position(
                        _dists_expr(books[s], f"sv{s}"),
                        F.array_min(_dists_expr(books[s], f"sv{s}")),
                    )
                    - 1
                )
                .cast("int")
                .alias(f"code{s}")
                for s in range(m)
            ],
        )
    )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        quantize_expr(F.col(vec_col)).alias("qv"),
    )
    ranked = F.slice(
        F.array_sort(
            F.transform(
                _dists_expr(cents),
                lambda dd, i: F.struct(
                    dd.alias("d"), i.cast("long").alias("cell")
                ),
            )
        ),
        1,
        nprobe,
    )
    probes = (
        q.select(
            "query_id",
            ranked.alias("pr"),
            *[
                F.slice("qv", s * sub + 1, sub).alias(f"sv{s}")
                for s in range(m)
            ],
        )
        .select(
            "query_id",
            F.explode("pr").alias("p"),
            *[
                _dists_expr(books[s], f"sv{s}").alias(f"qd{s}")
                for s in range(m)
            ],
        )
        .select(
            "query_id", F.col("p.cell").alias("cell"),
            *[f"qd{s}" for s in range(m)],
        )
    )

    adc = None
    for s in range(m):
        term = F.expr(f"element_at(qd{s}, CAST(code{s} + 1 AS INT))")
        adc = term if adc is None else adc + term
    scored = (
        probes.join(corpus, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", adc.cast("long").alias("adc")
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc")
    )


def random_projection(
    embeddings: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, dim, value_micros) — Johnson–Lindenstrauss random
    projection with a deterministic ±1 sign matrix (Achlioptas 2003:
    Rademacher entries satisfy the JL guarantee), the dimensionality-
    reduction step a pipeline runs before ANN / clustering when the
    embedding width dominates cost.

    Exactness discipline: inputs quantize to BIGINT micro-units per
    coordinate (``round(x · 10^6)`` — the ANN modules' float handling),
    the sign is pure integer arithmetic
    ``1 − 2·(((i·1103515245 + j·12345) div 2^16) mod 2)`` (an LCG-mixed
    parity — deterministic, engine-portable, no md5 in the hot loop),
    and each output coordinate is an exact BIGINT dot product — no
    float summation order anywhere.  The output is unnormalized (no
    1/√m): downstream cosine is scale-invariant, stated rather than
    hidden.

    Scale shape: a ZERO-SHUFFLE whole-stage-codegen projection — one
    nested higher-order expression (transform over output dims,
    aggregate over input dims) per row; no join, no groupBy, no UDF.
    At 100 TB this is scan-bound, the best shape a row-wise transform
    can have."""
    y = F.expr(
        f"transform(sequence(0, {out_dim - 1}), j ->\n"
        f"  aggregate(sequence(1, size({vec_col})), cast(0 as bigint),"
        " (acc, i) ->\n"
        f"    acc + cast(round(cast(element_at({vec_col}, i) as double)"
        " * 1000000, 0) as bigint)\n"
        "        * (1 - 2 * ((((cast(i as bigint) - 1) * 1103515245"
        " + cast(j as bigint) * 12345) div 65536) % 2))))"
    )
    return embeddings.select(
        F.col(id_col).alias("vec_id"), y.alias("ys")
    ).select("vec_id", F.posexplode("ys").alias("dim", "value_micros"))


def centroid_outliers(
    embeddings: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, dist_sq, rank) — the ``k`` vectors FARTHEST (squared L2,
    exact BIGINT micro²) from the corpus centroid: the embedding-space
    anomaly readout a curation pipeline runs to surface mislabeled /
    off-distribution / garbage documents before training.

    Exactness: coordinates quantize to BIGINT micros (the repo-wide
    ``round(x·10⁶)`` rule); the centroid is the per-dimension truncating
    integer division ``S_j div N`` (Spark ``div`` and DuckDB ``//`` both
    truncate toward zero — the kmeans oracle discipline), and distances
    are pure integer sums — no float anywhere, hash-exact cross-engine.

    Scale shape: per-dimension sums ride ONE map-side-combined aggregate
    (d partial longs per task — a single action collecting one row);
    the centroid then rides back as a d-long LITERAL array, so scoring
    is a zero-shuffle whole-stage-codegen expression over the corpus and
    the top-k is one TakeOrderedAndProject — no join, no groupBy, no
    window over the N·d data.  The same two-pass shape at 10^12 rows."""
    from graphlite_spark.operators.kmeans import quantize_expr

    qz = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_expr(F.col(vec_col)).alias("qv")
    )
    cent = _centroid_micros(qz)
    if cent is None:
        return embeddings.sparkSession.createDataFrame(
            [], "vec_id long, dist_sq long, rank int"
        )
    c_lit = F.array(*[F.lit(c).cast("long") for c in cent])
    dist = F.aggregate(
        F.zip_with(F.col("qv"), c_lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = qz.select("vec_id", dist.alias("dist_sq"))
    w = Window.orderBy(F.col("dist_sq").desc(), F.col("vec_id").asc())
    return (
        scored.orderBy(F.col("dist_sq").desc(), F.col("vec_id").asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("vec_id", "dist_sq", "rank")
    )


def _trunc_div(a: int, b: int) -> int:
    """Integer division truncating toward zero (Spark ``div`` / DuckDB
    ``//`` semantics) — Python's ``//`` floors, which differs for
    negative numerators."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def _centroid_micros(qz: DataFrame) -> list[int] | None:
    """Truncating-division per-dimension centroid of a (vec_id, qv)
    micro-quantized frame: ONE map-side-combined aggregate collecting a
    single row of d sums + the count; None on an empty frame."""
    dim_row = qz.select(F.size("qv").alias("d")).limit(1).collect()
    if not dim_row:
        return None
    d = dim_row[0]["d"]
    sums = qz.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(F.element_at("qv", j + 1)).cast("long").alias(f"s{j}")
            for j in range(d)
        ],
    ).first()
    n = sums["n"]
    return [int(_trunc_div(int(sums[f"s{j}"]), n)) for j in range(d)]


def embedding_covariance_topk(
    embeddings: DataFrame,
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(i, j, cov_sum, rank) — the ``k`` most-correlated off-diagonal
    coordinate pairs of the embedding distribution, by |Σ (x_i − c_i)
    (x_j − c_j)| over the corpus (an UNNORMALIZED covariance: the
    argsort is identical to the covariance's and staying in integers
    keeps it hash-exact).  The redundancy profile a compression pass
    reads before PQ / dimension truncation: strongly-coupled coordinate
    pairs mean the subspace split or the prefix cut is leaving easy
    bits on the table (cf. the rotation/permutation step in OPQ,
    Ge et al. 2013, public literature).

    Exactness: coordinates quantize to BIGINT micros, centered on the
    truncating-division centroid (:func:`_centroid_micros`, the
    :func:`centroid_outliers` discipline); every product and sum is
    exact BIGINT.  Ties break (|cov| DESC, i, j).

    Scale shape: the centroid is one aggregate action riding back as a
    LITERAL; the pair products fan out INSIDE codegen (posexplode of
    the centered vector, then one slice-transform per row — d·(d−1)/2
    terms) and collapse through a map-side-combined (i, j) aggregate —
    the shuffle carries at most d²/2 partial rows per task no matter
    how many vectors; the top-k is a TakeOrderedAndProject."""
    from graphlite_spark.operators.kmeans import quantize_expr

    qz = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_expr(F.col(vec_col)).alias("qv")
    )
    cent = _centroid_micros(qz)
    if cent is None:
        return embeddings.sparkSession.createDataFrame(
            [], "i long, j long, cov_sum long, rank int"
        )
    d = len(cent)
    c_lit = F.array(*[F.lit(c).cast("long") for c in cent])
    centered = qz.select(
        F.zip_with(F.col("qv"), c_lit, lambda a, b: a - b).alias("xv")
    )
    rows = centered.select(
        F.posexplode("xv").alias("i", "xi"), F.col("xv")
    ).select(
        "i",
        F.posexplode(
            F.transform(
                F.slice(F.col("xv"), F.col("i") + 2, F.lit(d)),
                lambda y: y * F.col("xi"),
            )
        ).alias("joff", "prod"),
    )
    agg = rows.groupBy("i", "joff").agg(
        F.sum("prod").cast("long").alias("cov_sum")
    ).select(
        F.col("i").cast("long").alias("i"),
        (F.col("i") + 1 + F.col("joff")).cast("long").alias("j"),
        "cov_sum",
    )
    w = Window.orderBy(
        F.abs(F.col("cov_sum")).desc(), F.col("i").asc(), F.col("j").asc()
    )
    return (
        agg.orderBy(
            F.abs(F.col("cov_sum")).desc(), F.col("i").asc(), F.col("j").asc()
        )
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("i", "j", "cov_sum", "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 5,
    c: int = 60,
) -> DataFrame:
    """(query_id, neighbor_id, rrf_micros, n_lists, rank) — Reciprocal
    Rank Fusion (Cormack et al., SIGIR 2009) of per-query rankings:
    ``score = Σ_lists 1/(c + rank)``, the standard hybrid-retrieval
    combiner (e.g. brute cosine + LSH + IVF, or dense + lexical).
    ``n_lists`` reports how many input rankings surfaced the pair.

    Exactness: each reciprocal term is rounded ONCE to micros — terms
    come from the tiny set {1/(c+1)..1/(c+k_in)} so the rounding is a
    fixed lookup, engine-identical — then summed as BIGINT (the repo
    float rule); top-k ties break (rrf_micros DESC, neighbor_id ASC).

    Scale shape: inputs are already top-k frames (query-count-sized);
    one union + one map-side-combined groupBy + the WindowGroupLimit
    top-k — nothing here touches the N·d corpus."""
    u = None
    for r in rankings:
        t = r.select(
            "query_id",
            "neighbor_id",
            F.round(F.lit(1_000_000.0) / (F.lit(c) + F.col("rank")))
            .cast("long")
            .alias("m"),
        )
        u = t if u is None else u.unionByName(t)
    f = u.groupBy("query_id", "neighbor_id").agg(
        F.sum("m").cast("long").alias("rrf_micros"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_micros").desc(), F.col("neighbor_id").asc()
    )
    return (
        f.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rrf_micros", "n_lists", "rank")
    )


def embedding_health(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(n_vectors, n_zero, n_nonfinite, min_norm, p50_norm, max_norm) —
    the embedding-table health check a pipeline runs before building any
    index on it: zero-norm vectors break cosine (division by zero),
    NaN/Inf coordinates poison every distance they touch, and a
    degenerate norm distribution (min ≈ max ≈ 0) means the encoder
    output is broken upstream.

    Exactness: norms are integer micros — ``round(sqrt(Σ qv²))`` where
    qv is the BIGINT micro quantization, and IEEE requires sqrt to be
    correctly rounded, so both engines agree exactly; the median is the
    :func:`~graphlite_spark.operators.quantiles.grouped_quantiles`
    discrete rank rule (ceil(n/2)-th smallest).  Non-finite coordinates
    are flagged BEFORE quantization and SANITIZED TO 0 inside the norm
    (ANSI Spark raises CAST_OVERFLOW casting NaN to BIGINT; the flag
    column is the report, the sanitized norm keeps the row hashable —
    stated).

    Scale shape: one zero-shuffle codegen projection computing the norm
    + finiteness flags, one 1-row aggregate; the median adds the one
    per-"group" sort window over (constant-group) norms — at 100 TB
    swap the exact median for the quantile sketch, stated."""

    def _bad(x):
        xd = x.cast("double")
        return F.isnan(xd) | (F.abs(xd) > 1e300)

    def _safe_q(x):
        xd = x.cast("double")
        return (
            F.when(_bad(x), F.lit(0).cast("long"))
            .otherwise(F.round(xd * 1000000, 0).cast("long"))
        )

    flagged = embeddings.select(
        F.col(id_col).alias("vid"),
        F.aggregate(
            F.col(vec_col),
            F.lit(0),
            lambda acc, x: acc + F.when(_bad(x), 1).otherwise(0),
        ).alias("bad"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform(F.col(vec_col), _safe_q),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x * x,
                ).cast("double")
            ),
            0,
        ).cast("long").alias("norm_micros"),
    )
    stats = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.when(F.col("norm_micros") == 0, 1).otherwise(0))
        .cast("long").alias("n_zero"),
        F.sum(F.when(F.col("bad") > 0, 1).otherwise(0)).cast("long").alias(
            "n_nonfinite"
        ),
        F.min("norm_micros").cast("long").alias("min_norm"),
        F.max("norm_micros").cast("long").alias("max_norm"),
    )
    w = Window.partitionBy(F.lit(1)).orderBy("norm_micros")
    ranked = flagged.withColumn("rn", F.row_number().over(w))
    med = (
        ranked.crossJoin(
            F.broadcast(stats.select(F.col("n_vectors").alias("nn")))
        )
        .where(F.col("rn") == F.expr("(nn * 50 + 99) div 100"))
        .agg(F.max("norm_micros").cast("long").alias("p50_norm"))
    )
    return stats.crossJoin(F.broadcast(med)).select(
        "n_vectors", "n_zero", "n_nonfinite",
        "min_norm", "p50_norm", "max_norm",
    )


def int8_quant_error(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(n_vecs, dims, sum_sq_err, max_abs_err, mean_sq_err) — the
    reconstruction-error readout of asymmetric per-dimension uint8
    scalar quantization (the industry-standard 4× compression tier
    below PQ): each dimension maps onto 256 levels between its corpus
    min and max, ``code = ((v−min)·255) div range``, ``recon = min +
    (code·range) div 255``, and the exact micro errors are aggregated.
    Read next to :func:`pq distortion <...>`: scalar-quant keeps 8
    bits/dim with no codebook training; this is the number that says
    what that costs on THIS corpus.

    Exactness: vectors quantize once to BIGINT micros (repo-wide
    discipline); codes, reconstructions, and errors are pure integer
    expressions, so the oracle hashes bit-identically.  Constant dims
    (range 0) code to 0 with zero error.

    Scale shape: per-dim min/max ride ONE map-side-combined aggregate
    (2·d agg expressions — never an N·d explode shuffle), broadcast
    back as two array literals' worth of columns; the error pass is
    per-row codegen over the array."""
    from graphlite_spark.operators.kmeans import quantize_expr

    qv = embeddings.select(
        F.col(id_col).alias("id"),
        quantize_expr(F.col(vec_col)).alias("qv"),
    )
    d = len(qv.select("qv").first()["qv"])
    bounds = qv.agg(
        F.array(
            *[F.min(F.element_at("qv", i + 1)) for i in range(d)]
        ).alias("mins"),
        F.array(
            *[F.max(F.element_at("qv", i + 1)) for i in range(d)]
        ).alias("maxs"),
    )
    def err(v, i):
        mn = F.element_at(F.col("mins"), i + 1)
        mx = F.element_at(F.col("maxs"), i + 1)
        rng = mx - mn
        num = (v - mn) * F.lit(255).cast("long")
        code = ((num - num % rng) / rng).cast("long")
        cr = code * rng
        recon = mn + ((cr - cr % F.lit(255)) / F.lit(255)).cast("long")
        return F.when(rng > 0, v - recon).otherwise(
            F.lit(0).cast("long")
        )

    errs = qv.crossJoin(F.broadcast(bounds)).select(
        F.transform(F.col("qv"), err).alias("e")
    )
    agg = errs.select(
        F.aggregate(
            "e", F.lit(0).cast("long"), lambda a, x: a + x * x
        ).alias("sq"),
        F.array_max(F.transform("e", F.abs)).alias("mx"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum("sq").cast("long").alias("sum_sq_err"),
        F.max("mx").cast("long").alias("max_abs_err"),
    )
    return agg.select(
        "n_vecs",
        F.lit(d).cast("long").alias("dims"),
        "sum_sq_err",
        "max_abs_err",
        F.expr(f"sum_sq_err div (n_vecs * {d})")
        .cast("long").alias("mean_sq_err"),
    )


def embedding_distance_profile(
    embeddings: DataFrame,
    num_groups: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "edp",
) -> DataFrame:
    """(n_pairs, p25, p50, p75) — the corpus-geometry profile: exact
    squared euclidean distances (micro² BIGINTs) over a DETERMINISTIC
    linear-size pair sample, quantiled with the shared discrete rank
    rule.  This is the number a SemDeDup / near-dup threshold is set
    against — "how far apart are random pairs here?" — without any
    all-pairs join: vectors land in ``num_groups`` hash buckets and
    pair up with their within-bucket rank neighbor (rank 2k−1 with
    2k), so the pair count is ⌊N/2⌋-ish, reproducible, and blind to
    insertion order.

    Scale shape: one hash-bucket window (each bucket ≈ N/G rows,
    G a knob), one self-free pair groupBy, then the quantile
    machinery over the pair table."""
    from graphlite_spark.functions.hashes import hash48
    from graphlite_spark.operators.kmeans import quantize_expr
    from graphlite_spark.operators.quantiles import grouped_quantiles

    qv = embeddings.select(
        F.col(id_col).alias("id"),
        quantize_expr(F.col(vec_col)).alias("qv"),
        (
            hash48(
                F.concat(F.lit(f"{salt}:"), F.col(id_col).cast("string"))
            )
            % num_groups
        ).alias("g"),
    )
    w = Window.partitionBy("g").orderBy("id")
    ranked = qv.withColumn("rn", F.row_number().over(w)).select(
        "g",
        F.expr("(rn - 1) div 2").alias("pair"),
        "qv",
    )
    pairs = (
        ranked.groupBy("g", "pair")
        .agg(
            F.count(F.lit(1)).alias("c"),
            # within-pair order is collect-nondeterministic but the
            # squared distance is symmetric, so it cannot matter
            F.collect_list("qv").alias("vs"),
        )
        .where(F.col("c") == 2)
    )
    dist = pairs.select(
        F.aggregate(
            F.zip_with(
                F.element_at("vs", 1),
                F.element_at("vs", 2),
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("d2")
    )
    return grouped_quantiles(
        dist.select(F.lit("all").alias("grp"), "d2"), "grp", "d2",
        (25, 50, 75),
    ).select(
        F.col("n").cast("long").alias("n_pairs"),
        F.col("p25").cast("long").alias("p25"),
        F.col("p50").cast("long").alias("p50"),
        F.col("p75").cast("long").alias("p75"),
    )


def knn_accuracy(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(n_vecs, n_correct, accuracy_micros) — leave-one-out 1-NN
    classification accuracy over the embedding labels, riding the
    exact :func:`cosine_topk` machinery (k=1 excludes self by
    construction): the single number that says whether the embedding
    space actually separates the labels — label_separability's
    centroid view made into a classifier metric.

    Scale shape: the brute-force top-1 is the operator under test
    (broadcast cross join + WindowGroupLimit); at 100 TB this runs on
    a sampled query set exactly like the recall readouts (stated)."""
    top1 = cosine_topk(
        embeddings, embeddings, k=1, id_col=id_col, vec_col=vec_col
    )
    lab = embeddings.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("true_l"),
    )
    nlab = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("pred_l"),
    )
    scored = top1.join(lab, "query_id").join(nlab, "neighbor_id")
    agg = scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.sum(
            (F.col("true_l") == F.col("pred_l")).cast("long")
        ).cast("long").alias("n_correct"),
    )
    return agg.select(
        "n_vecs", "n_correct",
        F.expr("(1000000 * n_correct) div n_vecs")
        .cast("long").alias("accuracy_micros"),
    )


def knn_hubness(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(nn_indegree, n_vecs) — the hubness diagnostic (Radovanović et
    al. 2010, public literature): how many vectors name each vector as
    their 1-NN, histogrammed INCLUDING the zero class (anti-hubs).  A
    healthy space has indegrees concentrated near 1; a heavy right
    tail (hubs named by many) plus a large zero class is the
    high-dimensional pathology that silently skews kNN classifiers
    and dedup — the distribution behind :func:`knn_accuracy`'s single
    number.

    Scale shape: one exact top-1 pass (the operator under test — run
    on a sample at 100 TB, stated in knn_accuracy), one indegree
    groupBy, one anti-join for the zero class."""
    top1 = cosine_topk(
        embeddings, embeddings, k=1, id_col=id_col, vec_col=vec_col
    )
    indeg = top1.groupBy(
        F.col("neighbor_id").alias("id")
    ).agg(F.count(F.lit(1)).cast("long").alias("d"))
    allv = embeddings.select(F.col(id_col).alias("id"))
    full = allv.join(indeg, "id", "left").select(
        F.coalesce("d", F.lit(0)).cast("long").alias("nn_indegree")
    )
    return full.groupBy("nn_indegree").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )


def knn_mutuality(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(n_vecs, n_mutual, mutual_micros) — the share of 1-NN relations
    that are reciprocated (a names b AND b names a): the symmetry
    health check on the kNN graph — mutual pairs are the trustworthy
    backbone (SemDeDup-style pairing keeps them first), one-way arcs
    are where hubness lives.  One self-join of the top-1 arc table on
    the reversed key."""
    # stage the arc table: both self-join sides reference it, and each
    # reference would otherwise re-run the full brute-force top-1 pass
    top1 = (
        cosine_topk(embeddings, embeddings, k=1, id_col=id_col, vec_col=vec_col)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=True)
    )
    rev = top1.select(
        F.col("neighbor_id").alias("query_id"),
        F.col("query_id").alias("neighbor_id"),
    )
    mutual = top1.join(rev, ["query_id", "neighbor_id"], "left_semi")
    agg = top1.agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    ).crossJoin(
        F.broadcast(
            mutual.agg(F.count(F.lit(1)).cast("long").alias("n_mutual"))
        )
    )
    return agg.select(
        "n_vecs", "n_mutual",
        F.expr("(1000000 * n_mutual) div n_vecs")
        .cast("long").alias("mutual_micros"),
    )


def twonn_intrinsic_dim(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(n_used, sum_lnmu_micros, id_mle) — the TwoNN intrinsic-dimension
    estimator (Facco et al., Scientific Reports 2017, public
    literature): for each point the ratio mu = d2/d1 of its second- to
    first-nearest-neighbor distance, and the MLE
    ``ID = n / sum ln(mu)``.  An embedding column whose intrinsic
    dimension is far below its ambient dimension is compressible
    (matryoshka / PQ will be nearly lossless); one that tracks the
    ambient dimension is not — the diagnostic that says WHICH
    compression tier the ANN stack should pick.

    Exactness: squared distances ride the same dot-product fold the
    cosine tier uses (d^2 = <q,q> + <c,c> - 2<q,c>), rounded to 6dp
    before ranking (ties break by neighbor_id); each point's
    0.5*ln(d2^2/d1^2) is rounded to integer MICROS so the global sum is
    an order-independent BIGINT, and the final MLE is one float from
    two exact integers.  Points with d1 = 0 (exact duplicate vectors)
    are excluded — stated, since duplicates carry no scale information.

    Scale shape: the exact 2-NN pass is the operator under test (one
    broadcast cross join + WindowGroupLimit top-2, the knn_accuracy
    shape) — at 100 TB this runs on a hash sample of points, never the
    full corpus; everything after is one map-side-combined rollup."""
    # self-dots staged per vector (the cosine_topk hoist): the pair
    # expression keeps the identical <q,q> + <c,c> - 2<q,c> op order
    q = embeddings.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).select("*", _dot(F.col("qv"), F.col("qv")).alias("qq"))
    c = F.broadcast(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("cv"),
        ).select("*", _dot(F.col("cv"), F.col("cv")).alias("cc"))
    )
    dsq = F.round(
        F.col("qq") + F.col("cc")
        - F.lit(2.0) * _dot(F.col("qv"), F.col("cv")),
        6,
    )
    scored = q.join(
        c, F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", dsq.alias("dsq"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dsq").asc(), F.col("neighbor_id").asc()
    )
    top2 = scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= 2
    )
    per = top2.groupBy("query_id").agg(
        F.min(F.when(F.col("rk") == 1, F.col("dsq"))).alias("d1"),
        F.min(F.when(F.col("rk") == 2, F.col("dsq"))).alias("d2"),
    )
    terms = per.where(
        (F.col("d1") > 0) & F.col("d2").isNotNull()
    ).select(
        F.round(
            F.log(F.col("d2") / F.col("d1")) * F.lit(500000.0)
        ).cast("long").alias("lnmu_micros")
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_used"),
        F.sum("lnmu_micros").cast("long").alias("sum_lnmu_micros"),
    )
    return agg.select(
        "n_used", "sum_lnmu_micros",
        F.when(
            F.col("sum_lnmu_micros") > 0,
            F.round(
                F.col("n_used").cast("double") * F.lit(1000000.0)
                / F.col("sum_lnmu_micros").cast("double"),
                6,
            ),
        ).alias("id_mle"),
    )


def uniformity_metric(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    t: float = 2.0,
) -> DataFrame:
    """(n_pairs, sum_g_nanos, uniformity) — the Wang–Isola uniformity
    loss (ICML 2020, public literature): log of the mean Gaussian
    potential ``exp(-t * ||x - y||^2)`` over distinct pairs of
    L2-NORMALIZED embeddings (so ||x-y||^2 = 2 - 2 cos).  Uniformity
    near 0 means the space has collapsed (all pairs close — the failure
    mode embedding_health's effective-rank proxy also watches);
    strongly negative means points spread over the sphere.

    Exactness: each pair's potential is rounded to integer NANOS
    (bounded by 10^9 per pair, so the sum stays in BIGINT through
    ~10^9 pairs) and summed exactly; the final log-mean is one float
    from two exact integers.

    Scale shape: one broadcast self-join over i < j pairs — quadratic
    BY DEFINITION of the metric, so at 100 TB this runs on a hash
    sample of the corpus (the knn_accuracy statement); everything
    after the pair scan is one map-side-combined rollup."""
    q = embeddings.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).select("*", F.sqrt(_dot(F.col("qv"), F.col("qv"))).alias("qn"))
    c = F.broadcast(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            _as_double(F.col(vec_col)).alias("cv"),
        ).select("*", F.sqrt(_dot(F.col("cv"), F.col("cv"))).alias("cn"))
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    g = F.exp(F.lit(-t) * (F.lit(2.0) - F.lit(2.0) * cos))
    pairs = q.join(
        c, F.col("query_id") < F.col("neighbor_id")
    ).select(
        F.round(g * F.lit(1e9)).cast("long").alias("g_nanos")
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("g_nanos").cast("long").alias("sum_g_nanos"),
    )
    return agg.select(
        "n_pairs", "sum_g_nanos",
        F.when(
            (F.col("n_pairs") > 0) & (F.col("sum_g_nanos") > 0),
            F.round(
                F.log(
                    F.col("sum_g_nanos").cast("double")
                    / (F.col("n_pairs").cast("double") * F.lit(1e9))
                ),
                6,
            ),
        ).alias("uniformity"),
    )


def pca_top_component(
    embeddings: DataFrame,
    iterations: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(pos, loading_micros, explained_ratio_micros, n_vecs) — the top
    principal component of the embedding distribution by integer power
    iteration on the exact micro-covariance, plus the share of total
    variance it explains (Rayleigh quotient over the trace).  The
    anisotropy readout behind :func:`embedding_covariance_topk`'s pair
    list: one dominant direction (ratio → 1) means the space is
    collapsing — the classic representation-degeneration signal — while
    a healthy space spreads variance (ratio ≈ 1/d).

    Exactness: the N-scale work is the centered-micro covariance
    aggregate (exact BIGINT pair products, the
    :func:`embedding_covariance_topk` machinery); the d×d matrix
    (d(d+1)/2 ≤ a few thousand rows — codebook-sized, the k-means
    collect discipline) then runs ``iterations`` rounds of EXACT
    integer power iteration driver-side: matrix and vector renormalized
    to ±10⁶ by truncating division each round, arbitrary-precision
    Python ints mirrored term-for-term by the oracle's unrolled HUGEINT
    CTEs.  Start vector all-ones — deterministic sign, no RNG.

    Scale shape: one map-side-combined (i, j) aggregate carries at most
    d²/2 partial rows per task regardless of N; everything after is
    O(d²·iterations) on d-sized literals."""
    from graphlite_spark.operators.kmeans import quantize_expr

    spark = embeddings.sparkSession
    schema = (
        "pos long, loading_micros long, explained_ratio_micros long,"
        " n_vecs long"
    )
    qz = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_expr(F.col(vec_col)).alias("qv")
    )
    cent = _centroid_micros(qz)
    if cent is None:
        return spark.createDataFrame([], schema)
    d = len(cent)
    n = qz.count()
    c_lit = F.array(*[F.lit(c).cast("long") for c in cent])
    centered = qz.select(
        F.zip_with(F.col("qv"), c_lit, lambda a, b: a - b).alias("xv")
    )
    # upper triangle INCLUDING the diagonal (slice from i+1, 1-based)
    rows = centered.select(
        F.posexplode("xv").alias("i", "xi"), F.col("xv")
    ).select(
        "i",
        F.posexplode(
            F.transform(
                F.slice(F.col("xv"), F.col("i") + 1, F.lit(d)),
                lambda y: y * F.col("xi"),
            )
        ).alias("joff", "prod"),
    )
    tri = (
        rows.groupBy("i", "joff")
        .agg(F.sum("prod").cast("long").alias("cov"))
        .select("i", (F.col("i") + F.col("joff")).alias("j"), "cov")
        .collect()
    )
    cov = {}
    for r in tri:
        cov[(r["i"], r["j"])] = r["cov"]
        cov[(r["j"], r["i"])] = r["cov"]
    m = max((abs(c) for c in cov.values()), default=0)
    if m == 0:
        out = [(p, 0, None, n) for p in range(d)]
        return spark.createDataFrame(out, schema)
    a = {ij: _trunc_div(1_000_000 * c, m) for ij, c in cov.items()}
    v = [1_000_000] * d
    for _ in range(iterations):
        w = [
            sum(a.get((i, j), 0) * v[j] for j in range(d)) for i in range(d)
        ]
        mx = max(abs(x) for x in w)
        if mx == 0:
            v = w
            break
        v = [_trunc_div(1_000_000 * x, mx) for x in w]
    num = sum(
        v[i] * a.get((i, j), 0) * v[j] for i in range(d) for j in range(d)
    )
    den = sum(x * x for x in v)
    tr = sum(a.get((i, i), 0) for i in range(d))
    ratio = (
        _trunc_div(1_000_000 * num, den * tr)
        if den > 0 and tr > 0
        else None
    )
    out = [(p, v[p], ratio, n) for p in range(d)]
    return spark.createDataFrame(out, schema)


def mmr_topk(
    embeddings: DataFrame,
    k: int = 5,
    shortlist: int = 32,
    lam_milli: int = 700,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(rank, vec_id, dist_q, mmr_score) — Maximal-Marginal-Relevance
    diversified top-k (Carbonell & Goldstein 1998, public literature)
    against the corpus micro-centroid as the query: greedily pick the
    candidate minimizing ``λ·dist_to_query − (1−λ)·min_dist_to_
    already_selected`` — close to the query AND far from everything
    chosen so far.  The de-redundancy step a retrieval pipeline runs on
    an ANN shortlist before handing context to a model; with λ = 1 it
    degrades to plain nearest-first, with λ = 0 to farthest-point
    (k-center seeding, cf. :func:`kcenter` family).

    Exactness: coordinates quantize to BIGINT micros; the query is the
    truncating-division centroid (:func:`_centroid_micros`); λ rides in
    THOUSANDTHS so every greedy score is an exact BIGINT (micro-λ would
    pass 9.2e18 on far pairs); ties break (score, vec_id ASC).  The
    first pick's score is λ·dist_q (empty-set penalty 0).

    Scale shape: the N-scale work is one zero-shuffle codegen scoring
    pass + one TakeOrderedAndProject for the ``shortlist`` nearest; the
    O(shortlist²·k) greedy runs on collected literals (codebook
    discipline — shortlist·d ints).  The same shape at 10^12 rows."""
    from graphlite_spark.operators.kmeans import quantize_expr

    spark = embeddings.sparkSession
    schema = "rank int, vec_id long, dist_q long, mmr_score long"
    qz = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize_expr(F.col(vec_col)).alias("qv")
    )
    cent = _centroid_micros(qz)
    if cent is None:
        return spark.createDataFrame([], schema)
    c_lit = F.array(*[F.lit(c).cast("long") for c in cent])
    dist = F.aggregate(
        F.zip_with(F.col("qv"), c_lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    short = (
        qz.select("vec_id", "qv", dist.alias("dq"))
        .orderBy(F.col("dq").asc(), F.col("vec_id").asc())
        .limit(shortlist)
        .collect()
    )
    cand = [
        (int(r["vec_id"]), int(r["dq"]), [int(x) for x in r["qv"]])
        for r in short
    ]
    pen = 1000 - lam_milli
    sel: list[tuple[int, list[int]]] = []
    out = []
    for rank in range(1, min(k, len(cand)) + 1):
        best = None
        for vid, dq, v in cand:
            if any(vid == s[0] for s in sel):
                continue
            if sel:
                mind = min(
                    sum((a - b) * (a - b) for a, b in zip(v, sv))
                    for _, sv in sel
                )
                score = lam_milli * dq - pen * mind
            else:
                score = lam_milli * dq
            if best is None or (score, vid) < (best[0], best[1]):
                best = (score, vid, dq, v)
        out.append((rank, best[1], best[2], best[0]))
        sel.append((best[1], best[3]))
    return spark.createDataFrame(out, schema)


def _ndcg_weights(k: int) -> list[int]:
    """Integer micro DCG discounts w_i = round(10⁶/log2(i+1)) for
    i = 1..k — computed ONCE in Python and embedded as literals in
    both engines, so no cross-engine float log ever runs."""
    import math

    return [round(1_000_000 / math.log2(i + 1)) for i in range(1, k + 1)]


def ann_ndcg(
    embeddings: DataFrame,
    n_queries: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(query_id, n_rel, dcg, idcg, ndcg_micros) — NDCG@k of exact
    nearest-neighbor retrieval, scored against label agreement: for
    each of the ``n_queries`` lowest-id vectors, rank the rest of the
    corpus by L2² (micro-int), mark position i relevant when the
    neighbor's label matches the query's, and discount by the DCG
    weight.  THE retrieval-quality readout on a labeled corpus — the
    graded companion to :func:`knn_accuracy`'s flat hit-rate and the
    evaluation the ANN family (:func:`lsh_recall`, IVF/PQ) is tuned
    against.

    Exactness: distances are exact BIGINT micro L2²; the discount
    weights are INTEGER literals (:func:`_ndcg_weights` — the same
    Python list is embedded in the oracle, so both engines sum
    identical ints); IDCG is the prefix-weight sum at
    ``min(k, n_rel)`` (ideal ranking puts all n_rel relevant docs
    first); ``ndcg_micros = (10⁶·dcg) div idcg``, NULL when the query
    label has no other members.  Ties break (dist, vec_id).

    Scale shape: the query side is ``n_queries`` rows riding as a
    broadcast; scoring is one zero-shuffle codegen pass over the
    corpus (Q·N products, Q bounded — the :func:`cosine_topk`
    contract); per-query top-k is one window partitioned BY QUERY
    (never global); label counts are one map-side-combined groupBy."""
    from graphlite_spark.operators.kmeans import quantize_expr

    w = _ndcg_weights(k)
    pw = [sum(w[: i + 1]) for i in range(k)]
    qz = embeddings.select(
        F.col(id_col).alias("vec_id"),
        quantize_expr(F.col(vec_col)).alias("qv"),
        F.col(label_col).alias("label"),
    )
    qs = (
        qz.orderBy("vec_id")
        .limit(n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("qv").alias("quv"),
            F.col("label").alias("qlabel"),
        )
    )
    cand = qz.select(
        F.col("vec_id").alias("nid"),
        F.col("qv").alias("cv"),
        F.col("label").alias("clabel"),
    )
    dist = F.aggregate(
        F.zip_with(F.col("quv"), F.col("cv"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(qs)
        .join(cand, F.col("query_id") != F.col("nid"))
        .select(
            "query_id",
            "qlabel",
            "nid",
            dist.alias("d"),
            (F.col("clabel") == F.col("qlabel")).cast("long").alias("rel"),
        )
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("nid").asc()
    )
    w_lit = F.array(*[F.lit(x).cast("long") for x in w])
    topk = (
        scored.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            (F.col("rel") * F.element_at(w_lit, F.col("rank"))).alias(
                "gain"
            ),
        )
    )
    dcg = topk.groupBy("query_id").agg(
        F.sum("gain").cast("long").alias("dcg")
    )
    lbl_counts = qz.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("nlab")
    )
    pw_lit = F.array(*[F.lit(x).cast("long") for x in pw])
    per_q = (
        qs.join(lbl_counts, qs["qlabel"] == lbl_counts["label"], "left")
        .select(
            "query_id",
            (F.coalesce(F.col("nlab"), F.lit(1)) - 1)
            .cast("long")
            .alias("n_rel"),
        )
        .join(dcg, "query_id", "left")
        .select(
            "query_id",
            "n_rel",
            F.coalesce(F.col("dcg"), F.lit(0)).cast("long").alias("dcg"),
            F.when(
                F.col("n_rel") > 0,
                F.element_at(
                    pw_lit, F.least(F.lit(k), F.col("n_rel")).cast("int")
                ),
            ).cast("long").alias("idcg"),
        )
    )
    return per_q.select(
        "query_id",
        "n_rel",
        "dcg",
        "idcg",
        F.when(
            F.col("idcg") > 0, F.expr("(1000000 * dcg) div idcg")
        ).cast("long").alias("ndcg_micros"),
    )


def decision_stump_dims(
    embeddings: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(pos, n_left, n_right, gini_weighted_micros, rank) — the ``k``
    embedding DIMENSIONS whose centroid-threshold split best separates
    the labels, by weighted Gini impurity: split the corpus at each
    coordinate's centroid value and score ``(n_L·G_L + n_R·G_R)/N``
    with ``G = 1 − Σ (count/n)²``.  The one-feature decision-stump
    scan a feature-selection pass runs before any model: which single
    coordinate carries label signal (cf. CART, Breiman et al. 1984,
    public literature) — the axis-aligned companion to
    :func:`label_separability`'s distance-based readout.

    Exactness: coordinates quantize to BIGINT micros and the threshold
    is the truncating-division centroid (:func:`_centroid_micros`);
    per-side Gini is ``10⁶ − (10⁶·Σ cnt²) div n²`` and the weighted
    score one more truncating division — all-integer, hash-exact.
    Ties break (score ASC, pos ASC).  (10⁶·Σ cnt² needs n < ~3·10⁶
    per side; beyond that, widen to DECIMAL — stated.)

    Scale shape: the centroid is one aggregate action riding back as
    a LITERAL; the scan is ONE posexplode inside codegen collapsing
    through a map-side-combined (pos, side, label) aggregate — the
    shuffle carries at most 2·d·|labels| partial rows per task no
    matter how many vectors; the top-k is a TakeOrderedAndProject."""
    from graphlite_spark.operators.kmeans import quantize_expr

    qz = embeddings.select(
        quantize_expr(F.col(vec_col)).alias("qv"),
        F.col(label_col).alias("label"),
    )
    cent = _centroid_micros(
        qz.select(F.lit(0).cast("long").alias("vec_id"), "qv")
    )
    if cent is None:
        return embeddings.sparkSession.createDataFrame(
            [],
            "pos long, n_left long, n_right long,"
            " gini_weighted_micros long, rank int",
        )
    c_lit = F.array(*[F.lit(c).cast("long") for c in cent])
    sided = qz.select(
        F.posexplode("qv").alias("pos", "xi"), "label"
    ).select(
        "pos",
        (
            F.col("xi") <= F.element_at(c_lit, F.col("pos") + 1)
        ).cast("int").alias("side"),
        "label",
    )
    cnts = sided.groupBy("pos", "side", "label").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_side = cnts.groupBy("pos", "side").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("q"),
    ).select(
        "pos",
        "side",
        "n",
        (
            F.lit(1_000_000)
            - F.expr("(1000000 * q) div (n * n)")
        ).cast("long").alias("g"),
    )
    left = per_side.where(F.col("side") == 1).select(
        "pos",
        F.col("n").alias("n_left"),
        F.col("g").alias("g_left"),
    )
    right = per_side.where(F.col("side") == 0).select(
        "pos",
        F.col("n").alias("n_right"),
        F.col("g").alias("g_right"),
    )
    both = (
        left.join(right, "pos", "full")
        .select(
            F.col("pos").cast("long").alias("pos"),
            F.coalesce("n_left", F.lit(0)).cast("long").alias("n_left"),
            F.coalesce("n_right", F.lit(0)).cast("long").alias("n_right"),
            F.coalesce("g_left", F.lit(0)).alias("gl"),
            F.coalesce("g_right", F.lit(0)).alias("gr"),
        )
        .select(
            "pos",
            "n_left",
            "n_right",
            F.expr(
                "(n_left * gl + n_right * gr) div (n_left + n_right)"
            ).cast("long").alias("gini_weighted_micros"),
        )
    )
    w = Window.orderBy(
        F.col("gini_weighted_micros").asc(), F.col("pos").asc()
    )
    return (
        both.orderBy(
            F.col("gini_weighted_micros").asc(), F.col("pos").asc()
        )
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
        .select("pos", "n_left", "n_right", "gini_weighted_micros", "rank")
    )


def embedding_mmd_labels(
    embeddings: DataFrame,
    label_a: int = 0,
    label_b: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """One row (n_a, n_b, mmd2_scaled) — squared Maximum Mean
    Discrepancy between two label groups under the degree-2 polynomial
    kernel k(x, y) = (xᵀy)² (Gretton et al. 2012, public literature):
    the kernel two-sample companion to :func:`label_separability`'s
    centroid distance — a mean shift of zero with DIFFERENT covariance
    still shows up, because the poly-2 kernel mean embedding IS the
    second-moment matrix.

    Method: for this kernel MMD² = ‖M_A − M_B‖²_F with M_g =
    E_g[x xᵀ], so no pair of points ever meets: each group
    contributes one (i, j) moment-sum table and the statistic is the
    Frobenius norm of the difference of the two mean matrices.

    Exactness: micro-quantized coordinates give exact BIGINT pair
    products; each mean entry is the truncating division
    ``Σ x_i x_j div (n_g · 10⁶)`` (the extra 10⁶ rescale keeps the
    squared differences inside BIGINT); the final sum of squared
    entry differences is exact.  NULL when either group is empty.

    Scale shape: ONE map-side-combined (label, i, j) aggregate — at
    most 2·d²/2 partial rows per task regardless of N (the
    embedding_covariance shape) — then arithmetic on the d²-row
    join."""
    from graphlite_spark.operators.kmeans import quantize_expr

    spark = embeddings.sparkSession
    schema = "n_a long, n_b long, mmd2_scaled long"
    qz = embeddings.where(
        F.col(label_col).isin([label_a, label_b])
    ).select(
        (F.col(label_col) == label_a).cast("int").alias("ga"),
        quantize_expr(F.col(vec_col)).alias("qv"),
    )
    dim_row = qz.select(F.size("qv").alias("d")).limit(1).collect()
    if not dim_row:
        return spark.createDataFrame([], schema)
    d = dim_row[0]["d"]
    rows = qz.select(
        "ga", F.posexplode("qv").alias("i", "xi"), F.col("qv")
    ).select(
        "ga",
        "i",
        F.posexplode(
            F.transform(
                F.slice(F.col("qv"), F.col("i") + 1, F.lit(d)),
                lambda y: y * F.col("xi"),
            )
        ).alias("joff", "prod"),
    )
    moments = rows.groupBy("ga", "i", "joff").agg(
        F.sum("prod").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # n is constant per group (= group size), carried per cell
    a = moments.where(F.col("ga") == 1).select(
        "i",
        "joff",
        F.col("s").alias("sa"),
        F.col("n").alias("na"),
    )
    b = moments.where(F.col("ga") == 0).select(
        "i",
        "joff",
        F.col("s").alias("sb"),
        F.col("n").alias("nb"),
    )
    cells = a.join(b, ["i", "joff"], "full").select(
        F.coalesce("sa", F.lit(0)).alias("sa"),
        F.coalesce("sb", F.lit(0)).alias("sb"),
        F.col("na"),
        F.col("nb"),
        (F.col("joff") > 0).cast("int").alias("off"),
    )
    ns = cells.agg(
        F.max("na").cast("long").alias("na"),
        F.max("nb").cast("long").alias("nb"),
    )
    # mean entries rescaled: m = s div (n * 1e6); off-diagonal cells
    # count twice (the matrix is symmetric, the triangle stores half)
    scored = (
        cells.crossJoin(
            F.broadcast(
                ns.select(
                    F.col("na").alias("gna"), F.col("nb").alias("gnb")
                )
            )
        )
        .select(
            "off",
            "gna",
            "gnb",
            (
                F.expr("sa div (gna * 1000000)")
                - F.expr("sb div (gnb * 1000000)")
            ).cast("long").alias("diff"),
        )
        .select(
            ((F.lit(1) + F.col("off")) * F.col("diff") * F.col("diff"))
            .cast("long").alias("q"),
            "gna",
            "gnb",
        )
    )
    return scored.groupBy("gna", "gnb").agg(
        F.sum("q").cast("long").alias("mmd2_scaled")
    ).select(
        F.col("gna").alias("n_a"),
        F.col("gnb").alias("n_b"),
        "mmd2_scaled",
    )


def ann_map(
    embeddings: DataFrame,
    n_queries: int = 16,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """(query_id, n_rel, n_hits, ap_micros) — average precision @ k of
    exact nearest-neighbor retrieval against label agreement, per
    query: AP = (Σ_{relevant i ≤ k} P@i) / min(k, R) with P@i the
    precision at the relevant hit's rank.  The position-averaged
    companion to :func:`ann_ndcg` (NDCG discounts logarithmically, AP
    averages the precision staircase — the two standard graded
    retrieval metrics; their MEAN over queries is the MAP headline,
    derivable from these rows).

    Setup is exactly :func:`ann_ndcg`'s: the ``n_queries`` lowest-id
    vectors query the rest of the corpus by exact micro-int L2²,
    ties (dist, vec_id).

    Exactness: each precision term is the truncating division
    ``(10⁶·hits@i) div i`` and AP the truncating division of their
    sum by min(k, R) — both mirrored step-for-step in the oracle, so
    the floor placement is identical; NULL when the query's label has
    no other members (R = 0).

    Scale shape: identical to ann_ndcg — broadcast query side,
    zero-shuffle codegen scoring pass, per-query window (never
    global), one map-side-combined label count."""
    from graphlite_spark.operators.kmeans import quantize_expr

    qz = embeddings.select(
        F.col(id_col).alias("vec_id"),
        quantize_expr(F.col(vec_col)).alias("qv"),
        F.col(label_col).alias("label"),
    )
    qs = (
        qz.orderBy("vec_id")
        .limit(n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("qv").alias("quv"),
            F.col("label").alias("qlabel"),
        )
    )
    cand = qz.select(
        F.col("vec_id").alias("nid"),
        F.col("qv").alias("cv"),
        F.col("label").alias("clabel"),
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("quv"), F.col("cv"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(qs)
        .join(cand, F.col("query_id") != F.col("nid"))
        .select(
            "query_id",
            "nid",
            dist.alias("d"),
            (F.col("clabel") == F.col("qlabel")).cast("long").alias(
                "rel"
            ),
        )
    )
    win = Window.partitionBy("query_id").orderBy(
        F.col("d").asc(), F.col("nid").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(win)).where(
        F.col("rank") <= k
    )
    wh = Window.partitionBy("query_id").orderBy("rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    terms = ranked.select(
        "query_id",
        "rel",
        F.sum("rel").over(wh).cast("long").alias("hits"),
        F.col("rank").cast("long").alias("i"),
    ).select(
        "query_id",
        "rel",
        "hits",
        (
            F.col("rel") * F.expr("(1000000 * hits) div i")
        ).cast("long").alias("p_at"),
    )
    per_q = terms.groupBy("query_id").agg(
        F.sum("p_at").cast("long").alias("sap"),
        F.max(F.col("rel") * F.col("hits")).cast("long").alias(
            "n_hits"
        ),
    )
    lbl_counts = qz.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("nlab")
    )
    return (
        qs.join(lbl_counts, qs["qlabel"] == lbl_counts["label"], "left")
        .select(
            "query_id",
            (F.coalesce(F.col("nlab"), F.lit(1)) - 1)
            .cast("long")
            .alias("n_rel"),
        )
        .join(per_q, "query_id", "left")
        .select(
            "query_id",
            "n_rel",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.when(
                F.col("n_rel") > 0,
                F.expr(
                    f"(coalesce(sap, 0)) div least({int(k)}, n_rel)"
                ).cast("long"),
            ).alias("ap_micros"),
        )
    )


def signbit_words(
    vec: Column, d: int = 64, word_bits: int = 32
) -> Column:
    """array<long> of ``ceil(d/word_bits)`` packed sign-bit words: bit j
    of word w is set iff ``vec[w*word_bits + j] >= 0`` (the sign rule
    shared with :func:`lsh_bucket_topk`).  Pure JVM expressions; 32-bit
    words keep every value comfortably positive in a BIGINT."""
    n_words = (d + word_bits - 1) // word_bits
    words = []
    for w in range(n_words):
        bits = [
            F.when(
                F.element_at(vec, w * word_bits + j + 1).cast("double")
                >= 0,
                F.lit(1 << j).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for j in range(word_bits)
            if w * word_bits + j < d
        ]
        acc = bits[0]
        for b in bits[1:]:
            acc = acc + b
        words.append(acc)
    return F.array(*words)


def hamming_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    d: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, rank, hamming) — top-k by Hamming
    distance between packed sign-bit signatures (binary quantization
    retrieval: 64 dims collapse to 8 bytes, distance = popcount of the
    XOR).  Unlike :func:`lsh_bucket_topk` (which equi-joins on an
    8-bit bucket and brute-forces cosine inside it), this RANKS the
    whole corpus by the 1-bit-per-dim distance — the standard first
    stage of a binary-quantized two-stage retriever.

    Exactness: the distance is a BIGINT popcount; tie-break
    (hamming ASC, neighbor_id ASC) is integer-deterministic, so rows
    are hash-exact across engines — no float anywhere.

    Scale shape: signatures are computed in one pure-JVM projection
    (d floats → d/32 longs, the 32× bandwidth cut that makes the scan
    affordable); candidates broadcast like the brute-force baseline,
    top-k is WindowGroupLimit.  At 100 TB the signature table is the
    only thing scanned — 8 bytes/vector vs 256."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        signbit_words(F.col(vec_col), d=d).alias("qs"),
    )
    c = F.broadcast(
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            signbit_words(F.col(vec_col), d=d).alias("cs"),
        )
    )
    scored = q.join(c, q["query_id"] != c["neighbor_id"]).select(
        "query_id", "neighbor_id",
        F.aggregate(
            F.zip_with(
                F.col("qs"), F.col("cs"),
                lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "hamming")
    )


def hamming_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    d: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, n_truth, n_approx, n_hits, recall) — measured
    recall@k of the sign-bit Hamming ranking against the brute-force
    cosine ground truth (same contract as :func:`lsh_recall`): the
    number that decides whether a binary-quantized first stage needs
    a float rerank, and how deep."""
    truth = cosine_topk(
        embeddings, queries, k=k, id_col=id_col, vec_col=vec_col
    )
    approx = hamming_topk(
        embeddings, queries, k=k, d=d, id_col=id_col, vec_col=vec_col
    )
    return _recall_compare(truth, approx)


def ann_mrr(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """One row (n_queries, n_hit, mrr_micros) — Mean Reciprocal Rank
    of the first SAME-LABEL neighbor in the exact cosine top-k: the
    position-sensitive retrieval readout between
    :func:`knn_accuracy` (only rank 1 counts) and recall@k (any rank
    counts equally) — the standard leaderboard metric for "how far
    down must a user scroll to the first right answer".

    Exactness: per query the reciprocal rank rides as the truncating
    micros 10⁶ div rank (0 when no same-label neighbor in the top k,
    which COUNTS toward the mean); the mean is a second truncating
    division — integer end-to-end.

    Scale shape: one :func:`cosine_topk` (the operator under test),
    one broadcast label join, one per-query min, two scalars; sampled
    query set at 100 TB exactly like the recall readouts."""
    topk = cosine_topk(
        embeddings, queries, k=k, id_col=id_col, vec_col=vec_col
    )
    lab = queries.select(
        F.col(id_col).alias("query_id"), F.col(label_col).alias("ql")
    )
    nlab = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("nl")
    )
    first = (
        topk.join(F.broadcast(nlab), "neighbor_id")
        .join(F.broadcast(lab), "query_id")
        .where(F.col("ql") == F.col("nl"))
        .groupBy("query_id")
        .agg(F.min("rank").alias("first_rank"))
    )
    per = lab.join(first, "query_id", "left").select(
        F.coalesce(
            F.expr("1000000 div first_rank"), F.lit(0)
        ).cast("long").alias("rr")
    )
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.sum((F.col("rr") > 0).cast("long")).cast("long").alias(
            "n_hit"
        ),
        F.expr("sum(rr) div count(*)").cast("long").alias("mrr_micros"),
    )


def cka_halves(
    embeddings: DataFrame,
    split: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One row (n_vectors, cka_micros) — linear Centered Kernel
    Alignment (Kornblith et al. 2019, public literature) between the
    first ``split`` and the remaining embedding dimensions:
    CKA = ‖A'B‖²_F / (‖A'A‖_F·‖B'B‖_F) on column-centered features.
    High = the two halves encode the SAME geometry (the
    representation is redundant across dimensions — truncation will
    be cheap, cf. :func:`matryoshka_recall`); low = the halves carry
    complementary information.

    Exactness: features are MILLI-quantized (round(x·10³) — the one
    deliberate departure from the micros rule, stated: it keeps every
    gram cell and squared-cell sum inside BIGINT/DECIMAL(38,0) at
    corpus scale) and centered exactly via the n-scaled form
    c = n·q − S; the three gram matrices are exact integer
    aggregates; the single float is the final
    round(10⁶·S_AB / sqrt(S_AA·S_BB)) — identical expression both
    engines over identical integers.

    Scale shape: one posexplode + per-dimension mean, one id-key
    equi-join per gram (map-side-combined d²-cell aggregates — the
    classic distributed X'X shape), then scalars; nothing wider than
    n·d² rows ever exists and no d×d matrix leaves the executors
    unaggregated."""
    q = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * 1000).cast("long"),
        ).alias("qv"),
    )
    pe = q.select("id", F.posexplode("qv").alias("pos", "val"))
    mom = pe.groupBy("pos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("val").cast("long").alias("s"),
    )
    cen = pe.join(F.broadcast(mom), "pos").select(
        "id", "pos",
        (F.col("n") * F.col("val") - F.col("s")).cast("long").alias("c"),
    )
    a = cen.where(F.col("pos") < split).select(
        "id", F.col("pos").alias("i"), F.col("c").alias("ca")
    )
    b = cen.where(F.col("pos") >= split).select(
        "id", (F.col("pos") - split).alias("j"), F.col("c").alias("cb")
    )

    def _fro2(x: DataFrame, y: DataFrame, kx: str, ky: str,
              vx: str, vy: str) -> DataFrame:
        gram = (
            x.join(y, "id")
            .groupBy(kx, ky)
            .agg(F.sum(F.col(vx) * F.col(vy)).cast("long").alias("g"))
        )
        return gram.agg(
            F.sum(
                F.expr("CAST(g AS DECIMAL(38,0)) * g")
            ).alias("fro2")
        )

    sab = _fro2(a, b, "i", "j", "ca", "cb").select(
        F.col("fro2").alias("s_ab")
    )
    saa = _fro2(
        a, a.select(F.col("id"), F.col("i").alias("i2"),
                    F.col("ca").alias("ca2")),
        "i", "i2", "ca", "ca2",
    ).select(F.col("fro2").alias("s_aa"))
    sbb = _fro2(
        b, b.select(F.col("id"), F.col("j").alias("j2"),
                    F.col("cb").alias("cb2")),
        "j", "j2", "cb", "cb2",
    ).select(F.col("fro2").alias("s_bb"))
    n1 = q.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    return (
        n1.crossJoin(F.broadcast(sab))
        .crossJoin(F.broadcast(saa))
        .crossJoin(F.broadcast(sbb))
        .select(
            "n_vectors",
            F.when(
                (F.col("s_aa") > 0) & (F.col("s_bb") > 0),
                F.round(
                    F.lit(1_000_000.0)
                    * F.col("s_ab").cast("double")
                    / F.sqrt(
                        F.col("s_aa").cast("double")
                        * F.col("s_bb").cast("double")
                    )
                ),
            ).cast("long").alias("cka_micros"),
        )
    )


def effective_rank_embeddings(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One row (n_vectors, n_dims, er_micros) — the participation
    ratio / effective rank PR = (Σλ)²/Σλ² = tr(C)²/‖C‖²_F of the
    embedding covariance, WITHOUT any eigendecomposition (both traces
    read off the centered gram matrix): how many dimensions the
    representation actually uses — 64 = isotropic, ≪64 = collapsed.
    The global-linear companion to :func:`twonn_intrinsic_dim`
    (local, nonlinear) and the scalar summary of
    :func:`embedding_covariance`.

    Exactness: CENTI-quantized (round(x·10²) — coarser than the
    cka_halves millis, stated: 10⁶·tr(C)² must clear DECIMAL(38,0))
    n-scaled centered features; gram cells are exact BIGINTs
    (bound: n³·q̄² < 2⁶³ — exact through ~10⁴ vectors; beyond, drop
    the n-scaling), the trace-square and Frobenius sums ride
    DECIMAL(38,0) / HUGEINT, and the output is one truncating micros
    division — integer end-to-end.

    Scale shape: one posexplode + per-dimension mean, ONE id-key
    equi-join gram (d²-cell map-side-combined aggregate), scalars."""
    q = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * 100).cast("long"),
        ).alias("qv"),
    )
    pe = q.select("id", F.posexplode("qv").alias("pos", "val"))
    mom = pe.groupBy("pos").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("val").cast("long").alias("s"),
    )
    cen = pe.join(F.broadcast(mom), "pos").select(
        "id", F.col("pos").alias("i"),
        (F.col("n") * F.col("val") - F.col("s")).cast("long").alias("c"),
    )
    gram = (
        cen.join(
            cen.select(
                "id", F.col("i").alias("j"), F.col("c").alias("c2")
            ),
            "id",
        )
        .groupBy("i", "j")
        .agg(F.sum(F.col("c") * F.col("c2")).cast("long").alias("g"))
    )
    agg = gram.agg(
        F.countDistinct("i").cast("long").alias("n_dims"),
        F.sum(F.when(F.col("i") == F.col("j"), F.col("g"))).cast(
            "decimal(38,0)"
        ).alias("tr"),
        F.sum(F.expr("CAST(g AS DECIMAL(38,0)) * g")).alias("fro2"),
    )
    n1 = q.agg(F.count(F.lit(1)).cast("long").alias("n_vectors"))
    return n1.crossJoin(F.broadcast(agg)).select(
        "n_vectors", "n_dims",
        F.when(
            F.col("fro2") > 0,
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0)) * tr * tr)"
                " div fro2 AS BIGINT)"
            ),
        ).alias("er_micros"),
    )


def lof_topk(
    embeddings: DataFrame,
    k: int = 5,
    top_k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, kdist_sq, lrd_micros, lof_micros) — Local Outlier Factor
    (Breunig et al. 2000, public literature) over the embedding
    corpus, top ``top_k`` by LOF: the DENSITY-RELATIVE outlier score
    — a point is anomalous if its neighborhood is sparse *compared to
    its neighbors' neighborhoods*, which catches outliers sitting
    next to a dense cluster that a global distance cutoff
    (:func:`centroid_outliers`) misses entirely.

    Exactness: squared micro-quantized L2 distances are BIGINT; the
    classic chain — k-distance, reachability
    reach(u,v) = max(kdist(v), d²(u,v)), local reachability density
    lrd(u) = (10²¹·k) div Σreach (fixed-point scale stated in the
    code — it cancels in the ratio), LOF(u) = (Σ lrd(neighbors) ·
    10⁶) div (k · lrd(u)) — is computed with ONE stated truncating
    division per stage (both engines identical), so ranks are
    bit-stable.  Tie-break (lof DESC, id ASC).

    Scale shape: one broadcast brute-force kNN (the corpus-sized
    operator under test, same plan family as knn_hubness); the LOF
    chain after it is three k-bounded equi-joins on (id, neighbor) —
    at 100 TB the kNN stage swaps for the IVF/LSH index path and the
    chain is unchanged."""
    q = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * 1_000_000).cast("long"),
        ).alias("qv"),
    )
    c = q.select(F.col("id").alias("nid"), F.col("qv").alias("cv"))
    d2 = (
        q.join(F.broadcast(c), F.col("id") != F.col("nid"))
        .select(
            "id", "nid",
            F.aggregate(
                F.zip_with(
                    F.col("qv"), F.col("cv"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("d2"),
        )
    )
    w = Window.partitionBy("id").orderBy(
        F.col("d2").asc(), F.col("nid").asc()
    )
    knn = (
        d2.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .localCheckpoint(eager=False)
    )
    kd = knn.groupBy("id").agg(F.max("d2").cast("long").alias("kdist"))
    reach = (
        knn.join(
            kd.select(F.col("id").alias("nid"), F.col("kdist").alias(
                "kd_n"
            )),
            "nid",
        )
        .select(
            "id", "nid",
            F.greatest(F.col("kd_n"), F.col("d2")).cast("long").alias(
                "reach"
            ),
        )
    )
    # lrd rides a 10^21 fixed-point scale (stated): reachability sums
    # live in squared-micro units (~10^13+), so a 10^6 scale would
    # truncate every density to zero; LOF is a ratio, so the scale
    # cancels and only truncation precision (~6 digits) remains.
    lrd = reach.groupBy("id").agg(
        F.expr(
            "CAST((CAST(1000000000000000000000 AS DECIMAL(38,0))"
            f" * {int(k)}) div CAST(sum(reach) AS DECIMAL(38,0))"
            " AS BIGINT)"
        ).alias("lrd")
    )
    lof = (
        knn.select("id", "nid")
        .join(lrd.select(F.col("id").alias("nid"), F.col("lrd").alias(
            "lrd_n"
        )), "nid")
        .groupBy("id")
        .agg(F.sum("lrd_n").cast("long").alias("lrd_sum"))
        .join(lrd, "id")
        .select(
            "id",
            F.when(
                F.col("lrd") > 0,
                F.expr(
                    "CAST((CAST(lrd_sum AS DECIMAL(38,0)) * 1000000)"
                    f" div (CAST({int(k)} AS DECIMAL(38,0)) * lrd)"
                    " AS BIGINT)"
                ),
            ).otherwise(F.lit(0)).cast("long").alias("lof_micros"),
        )
    )
    return (
        lof.join(kd, "id")
        .join(lrd, "id")
        .select(
            "id", F.col("kdist").alias("kdist_sq"),
            F.col("lrd").alias("lrd_micros"), "lof_micros",
        )
        .orderBy(F.col("lof_micros").desc(), F.col("id").asc())
        .limit(top_k)
    )


def dbscan_labels(
    embeddings: DataFrame,
    min_pts: int = 5,
    knn_k: int = 5,
    rounds: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, is_core, cluster) — DBSCAN (Ester et al. 1996, public
    literature) over the embedding corpus with a DATA-ADAPTIVE
    radius: eps² = the lower-median ``knn_k``-NN distance (the
    standard k-distance-plot heuristic made deterministic), core =
    ≥ ``min_pts``−1 neighbors within eps, clusters = min-id label
    propagation over the core–core eps graph run for EXACTLY
    ``rounds`` synchronized rounds on both engines (equality holds
    even if a pathological chain hasn't converged — both sides are
    the same R-round propagation, the k_core cap discipline); border
    points take the smallest core-neighbor label, noise stays NULL.
    The density clustering that finds arbitrary-shape clusters
    k-means cannot, with noise as a first-class outcome.

    Exactness: squared micro distances and counts are BIGINT; the
    median rank rule is the runs_test lower-median convention; every
    label step is an integer min.

    Scale shape: the brute-force distance table is the operator
    under test (broadcast join, same family as knn/LOF — the IVF
    bucket path swaps in at 100 TB); each propagation round is one
    static-edge equi-join + map-side-combined min (linear loop,
    lazy localCheckpoint)."""
    q = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(
            F.col(vec_col),
            lambda x: F.round(x.cast("double") * 1_000_000).cast("long"),
        ).alias("qv"),
    )
    # loop discipline: the 16 propagation rounds shuffle a core graph
    # of ~N*k rows at most — size the width to that, not the session
    # default (most of the wall was near-empty tasks per round).
    # broadcast=True: the small core/label frames are joined against the
    # distance table every round; shuffling them instead measured 1.17x
    # the wall at sf0.001
    from graphlite_spark.checkpoint import loop_scope, truncate_plan

    with loop_scope(embeddings.sparkSession, broadcast=True) as scope:
        scope.size(q.count() * knn_k)
        c = q.select(F.col("id").alias("nid"), F.col("qv").alias("cv"))
        d2 = scope.own(
            q.join(F.broadcast(c), F.col("id") != F.col("nid"))
            .select(
                "id", "nid",
                F.aggregate(
                    F.zip_with(
                        F.col("qv"), F.col("cv"),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("d2"),
            )
            .localCheckpoint(eager=False)
        )
        w = Window.partitionBy("id").orderBy(
            F.col("d2").asc(), F.col("nid").asc()
        )
        kd = (
            d2.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") == knn_k)
            .select("id", F.col("d2").alias("kdist"))
        )
        wm = Window.orderBy(F.col("kdist").asc(), F.col("id").asc())
        eps = (
            kd.withColumn("rn", F.row_number().over(wm))
            .crossJoin(
                F.broadcast(
                    kd.agg(F.count(F.lit(1)).cast("long").alias("n"))
                )
            )
            .where(F.col("rn") == F.expr("(n + n % 2) div 2"))
            .select(F.col("kdist").alias("eps_sq"))
        )
        near = d2.crossJoin(F.broadcast(eps)).where(
            F.col("d2") <= F.col("eps_sq")
        ).select("id", "nid")
        core = (
            near.groupBy("id")
            .agg(F.count(F.lit(1)).cast("long").alias("nn"))
            .where(F.col("nn") >= min_pts - 1)
            .select("id")
        )
        ce = scope.own(
            near.join(core, "id", "left_semi")
            .join(
                core.select(F.col("id").alias("nid")), "nid", "left_semi"
            )
            .localCheckpoint(eager=False)
        )
        lab = scope.own(
            core.select("id", F.col("id").alias("label")).localCheckpoint(
                eager=False
            )
        )
        for _ in range(rounds):
            gathered = (
                ce.join(
                    lab.select(
                        F.col("id").alias("nid"), F.col("label").alias("nl")
                    ),
                    "nid",
                )
                .groupBy("id")
                .agg(F.min("nl").alias("ml"))
            )
            lab = scope.own(
                lab.join(gathered, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("label"), F.coalesce("ml", F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint(eager=False)
            )
        border = (
            near.join(core.select(F.col("id")), "id", "left_anti")
            .join(
                lab.select(F.col("id").alias("nid"), "label"), "nid"
            )
            .groupBy("id")
            .agg(F.min("label").alias("blabel"))
        )
        allv = q.select("id")
        # materialize inside the pinned-conf scope (truncate_plan keeps
        # the checkpointed rounds' lineage out of the caller's plan)
        return truncate_plan(
            allv.join(
                core.select("id", F.lit(1).alias("is_core")), "id", "left"
            )
            .join(lab.withColumnRenamed("label", "clabel"), "id", "left")
            .join(border, "id", "left")
            .select(
                "id",
                F.coalesce("is_core", F.lit(0)).cast("int").alias(
                    "is_core"
                ),
                F.coalesce("clabel", "blabel").cast("long").alias(
                    "cluster"
                ),
            ),
            eager=True,
        )
