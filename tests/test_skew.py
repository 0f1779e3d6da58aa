"""Skew: the join engine on a hub-heavy (star + chains) graph, and the
two-stage LPA mode combine on a max-fan-in hub."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from graphlite_spark.algos.pagerank import PageRank
from graphlite_spark.operators.pregel import PregelEngine
from tests.reference_sim import simulate_pagerank


def hub_graph():
    """One hub (vertex 0) pointing at everyone + a few back-edges/chains."""
    n = 300
    edges = [(0, i) for i in range(1, n)]          # hub fan-out 299
    edges += [(i, i + 1) for i in range(1, n - 1, 3)]
    edges += [(i, 0) for i in range(1, n, 7)]      # fan-in to the hub
    return edges, n


def test_join_engine_hub_graph_pagerank(spark):
    """PageRank on the hub graph matches the reference simulator, and the
    ``hub_threshold=`` keyword that ``bench.py --skew-only`` still passes
    is accepted and changes nothing."""
    edges, n = hub_graph()
    e = spark.createDataFrame(
        [(s, d, 1.0) for s, d in edges], "src long, dst long, weight double"
    )
    v = spark.range(n).select(F.col("id"))

    plain = PregelEngine(num_partitions=4).run(v, e, PageRank())
    legacy = PregelEngine(num_partitions=4, hub_threshold=50).run(v, e, PageRank())
    expected, ss = simulate_pagerank(edges, n)

    assert plain.supersteps == legacy.supersteps == ss
    got_p = {r["id"]: r["value"] for r in plain.state.collect()}
    got_l = {r["id"]: r["value"] for r in legacy.state.collect()}
    for i in range(n):
        assert math.isclose(got_p[i], expected[i], abs_tol=1e-6)
        assert math.isclose(got_l[i], got_p[i], abs_tol=1e-9)


def test_lpa_mode_combine_is_two_stage_partial(spark):
    """Hub-dst gather in LPA's mode combine is skew-bounded WITHOUT explicit
    salting (SURVEY §7.1.6): demonstrates, on a hub with max fan-in and
    all-distinct labels,

    * stage 1 hashes on (dst, msg) — a hub's distinct labels spread across
      reducers instead of funneling into one;
    * stage 2 (`max_by` per dst) is a declarative aggregate with MAP-SIDE
      partial aggregation, so the hub's reducer receives at most P partial
      rows, not one row per distinct label.

    Checks both the physical plan (partial->final HashAggregate pairs, no
    single-stage fallback) and the result on the worst-case input.
    """
    from graphlite_spark.algos.lpa import LabelPropagation

    n = 5000  # every vertex sends a DISTINCT label to the one hub dst
    msgs = spark.range(n).select(
        F.lit(0).alias("dst"), F.col("id").alias("msg")
    ).repartition(8)
    combined = LabelPropagation().combine(msgs)

    plan = combined._sc._jvm.PythonSQLUtils.explainString(
        combined._jdf.queryExecution(), "formatted"
    )
    # two aggregations, each split partial/final = 4 HashAggregate nodes
    assert plan.count("HashAggregate") == 4, plan
    assert "partial_" in plan or "Partial" in plan, plan

    rows = combined.collect()
    # all counts are 1 -> tie-break picks the MINIMUM label
    assert rows == [type(rows[0])(dst=0, msg=0)] or (
        len(rows) == 1 and rows[0]["dst"] == 0 and rows[0]["msg"] == 0
    )

    # and a mixed case: label 7 appears twice, everything else once
    msgs2 = msgs.unionByName(
        spark.createDataFrame([(0, 7), (0, 7)], "dst long, msg long")
    )
    out2 = LabelPropagation().combine(msgs2).collect()
    assert len(out2) == 1 and out2[0]["msg"] == 7
