"""Deterministic synthetic graph generators for skew stress-testing.

The transcript-derived graphs the engine is verified on are chain-like
(max degree small), so the hub-handling code path — degree orientation
in the wedge family — is parity-TESTED but not skew-MEASURED by the
standard bench.
This module generates a power-law graph entirely inside Spark (no driver
data, no RNG state): every edge is a pure function of its index under
``xxhash64``, so the graph is reproducible across runs, partitionings
and engines.

Degree law: destination (and optionally source) vertices are drawn
log-uniformly over ``[hub_rank, n_vertices)`` — inverse-CDF of a
Zipf(α≈1) tail, the standard web/link-graph degree model (Broder et al.
2000, public literature).  The expected degree of rank-``r`` vertices is
``E / (r · ln(V / hub_rank))``, so the top vertex's degree is set by
``hub_rank``: with E=10^7, V=10^6, hub_rank=30 the max degree is ≈3·10^4
— the "one 10^5-degree hub" regime the 100 TB claims are about, scaled
to a single host.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def zipf_edges(
    spark: SparkSession,
    n_vertices: int,
    n_edges: int,
    hub_rank: int = 30,
    skew_both_sides: bool = True,
    seed: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """(src, dst) — ``n_edges`` arcs with log-uniform (Zipf-tail) endpoint
    ranks; self-loops removed (so the count is slightly under
    ``n_edges``), duplicates KEPT (real edge logs have them; the wedge
    queries dedup internally).

    ``skew_both_sides`` draws src from the same law (hubs have high in-
    AND out-degree — the worst case for unoriented in×out wedge joins);
    False leaves src uniform (out-degree ≈ E/V everywhere).
    """
    import math

    if hub_rank < 1 or hub_rank >= n_vertices:
        raise ValueError("need 1 <= hub_rank < n_vertices")
    span = math.log(n_vertices / hub_rank)

    def _u(tag: str):
        # uniform in [0, 1) as a pure function of (seed, tag, edge index)
        h = F.xxhash64(F.lit(seed), F.lit(tag), F.col("id"))
        return (F.pmod(h, F.lit(1 << 48)).cast("double") + F.lit(0.5)) / F.lit(
            float(1 << 48)
        )

    def _zipf(tag: str):
        # inverse CDF of density ∝ 1/x on [hub_rank, n_vertices)
        r = F.floor(F.lit(float(hub_rank)) * F.exp(_u(tag) * F.lit(span)))
        return F.least(r, F.lit(n_vertices - 1)).cast("long")

    base = spark.range(n_edges)
    if num_partitions:
        base = base.repartition(num_partitions)
    src = _zipf("s") if skew_both_sides else F.pmod(
        F.xxhash64(F.lit(seed), F.lit("s"), F.col("id")), F.lit(n_vertices)
    ).cast("long")
    return (
        base.select(src.alias("src"), _zipf("d").alias("dst"))
        .where(F.col("src") != F.col("dst"))
    )
