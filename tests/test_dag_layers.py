"""DAG longest-path layering: hand answers and convergence."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphlite_spark.algos.dag import dag_layers


def _graph(spark, edges, n):
    e = spark.createDataFrame(
        [(s, d, 1.0) for s, d in edges], "src long, dst long, weight double"
    )
    v = spark.range(n).select(F.col("id"))
    return v, e


# diamond + tail: 0->1, 0->2, 1->3, 2->3, 3->4; plus isolated 5
EDGES = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)]
WANT = {0: 0, 1: 1, 2: 1, 3: 2, 4: 3, 5: 0}


def test_dag_layers_hand(spark):
    v, e = _graph(spark, EDGES, 6)
    res = dag_layers(v, e, depth=8)
    got = {r["id"]: r["value"] for r in res.state.collect()}
    assert got == WANT


def test_dag_layers_depth_bounds(spark):
    # chain 0->1->...->5: depth=3 clips deep vertices to their 3-hop bound
    v, e = _graph(spark, [(i, i + 1) for i in range(5)], 6)
    res = dag_layers(v, e, depth=3)
    got = {r["id"]: r["value"] for r in res.state.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 3, 5: 3}
    # unbounded: converges to the exact layers via act==0 && sent==0
    res = dag_layers(v, e, depth=None)
    got = {r["id"]: r["value"] for r in res.state.collect()}
    assert got == {i: i for i in range(6)}
    assert res.converged

