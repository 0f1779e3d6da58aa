"""Every iterative operator runs inside ``checkpoint.loop_scope``: the
shared session must come out of a loop as it went in — the three pinned
settings restored, and no checkpoint or cache blocks left registered
beyond the one frame a successful call returns (none when an input
frame fails at execution time)."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from graphlite_spark.algos.anf import neighborhood_function
from graphlite_spark.algos.betweenness import betweenness_sampled
from graphlite_spark.algos.bfs import shortest_path_counts, stress_from_source
from graphlite_spark.algos.bowtie import bowtie_decomposition
from graphlite_spark.algos.cascade import ic_cascade, lt_cascade
from graphlite_spark.algos.centrality import (
    algebraic_distance,
    eigenvector_centrality,
    katz_centrality,
    spectral_gap_lambda2,
)
from graphlite_spark.algos.components import (
    connected_components_fast,
    coreness,
    k_core,
    peel_layer_histogram,
)
from graphlite_spark.algos.densest import densest_subgraph_peel
from graphlite_spark.algos.hits import hits, salsa
from graphlite_spark.algos.matching import maximal_matching
from graphlite_spark.algos.mis import greedy_coloring, maximal_independent_set
from graphlite_spark.algos.msf import boruvka_msf
from graphlite_spark.algos.pagerank import pagerank
from graphlite_spark.algos.scc import strongly_connected_components
from graphlite_spark.algos.triangles import k_truss
from graphlite_spark.algos.walks import metapath_walks, node2vec_walks, random_walks
from graphlite_spark.algos.wl import wl_refinement
from graphlite_spark.operators.similarity import dbscan_labels

CONF = (
    "spark.sql.adaptive.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.shuffle.partitions",
)


def _types(v):
    return v.select("id", F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("vtype"))


def _embeddings(v):
    vecs = v.sparkSession.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    return v.select(F.col("id").alias("vec_id")).join(vecs, "vec_id")


# name -> (run(vertices, edges), uses_vertices, uses_edges)
OPS = {
    "pagerank": (lambda v, e: pagerank(v, e, max_supersteps=3).state, True, True),
    "connected_components_fast": (connected_components_fast, True, True),
    "k_core": (k_core, True, True),
    "coreness": (coreness, True, True),
    "peel_layer_histogram": (peel_layer_histogram, True, True),
    "neighborhood_function": (lambda v, e: neighborhood_function(v, e, max_h=2), True, True),
    "hits": (hits, True, True),
    "salsa": (salsa, True, True),
    "katz_centrality": (katz_centrality, True, True),
    "eigenvector_centrality": (eigenvector_centrality, True, True),
    "spectral_gap_lambda2": (lambda v, e: spectral_gap_lambda2(e), False, True),
    "algebraic_distance": (algebraic_distance, True, True),
    "maximal_independent_set": (maximal_independent_set, True, True),
    "greedy_coloring": (greedy_coloring, True, True),
    "densest_subgraph_peel": (densest_subgraph_peel, True, True),
    "strongly_connected_components": (strongly_connected_components, True, True),
    "bowtie_decomposition": (bowtie_decomposition, True, True),
    "random_walks": (lambda v, e: random_walks(v, e, walk_length=3), True, True),
    "node2vec_walks": (lambda v, e: node2vec_walks(v, e, walk_length=3), True, True),
    "metapath_walks": (
        lambda v, e: metapath_walks(v, e, _types(v), ["a", "b"], walk_length=3),
        True,
        True,
    ),
    "boruvka_msf": (boruvka_msf, True, True),
    "shortest_path_counts": (lambda v, e: shortest_path_counts(v, e, depth=2), True, True),
    "stress_from_source": (lambda v, e: stress_from_source(v, e, depth=2), True, True),
    "lt_cascade": (lambda v, e: lt_cascade(v, e, rounds=2), True, True),
    "ic_cascade": (lambda v, e: ic_cascade(v, e, rounds=2, p_micros=1_000_000), True, True),
    "wl_refinement": (wl_refinement, True, True),
    # the vertex frame is read only by the lazily returned join
    "maximal_matching": (maximal_matching, False, True),
    "k_truss": (lambda v, e: k_truss(e), False, True),
    "betweenness_sampled": (lambda v, e: betweenness_sampled(v, e, [0], max_depth=2), True, True),
    "dbscan_labels": (lambda v, e: dbscan_labels(_embeddings(v), min_pts=2, knn_k=2), True, False),
}


def _boom(col: str):
    return (
        F.when(F.col(col) >= 0, F.raise_error(F.lit("boom")))
        .otherwise(F.col(col))
        .cast("long")
    )


def _graph(spark, bad_vertices: bool = False, bad_edges: bool = False):
    n = 8
    v = spark.range(n).select(_boom("id").alias("id") if bad_vertices else F.col("id"))
    e = spark.range(n).select(
        _boom("id").alias("src") if bad_edges else F.col("id").alias("src"),
        ((F.col("id") + 1) % n).alias("dst"),
        F.lit(1.0).alias("weight"),
        (F.col("id") % 3 + 1).alias("w"),
    )
    return v, e


def _conf(spark) -> dict:
    return {k: spark.conf.get(k) for k in CONF}


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


CASES = [
    pytest.param(name, side, id=f"{name}-{side}")
    for name, (_, uses_v, uses_e) in OPS.items()
    for side, used in (("vertices", uses_v), ("edges", uses_e))
    if used
]


@pytest.mark.parametrize("name,side", CASES)
def test_failed_loop_leaves_session_as_found(spark, name, side):
    run = OPS[name][0]
    v, e = _graph(spark, bad_vertices=side == "vertices", bad_edges=side == "edges")
    conf, before = _conf(spark), _persistent_ids(spark)
    with pytest.raises(Exception, match="boom"):
        run(v, e)
    assert _conf(spark) == conf
    assert _persistent_ids(spark) - before == set()


# new persistent RDDs a successful call may leave: the one frame its
# result reads, none where the result is built on the driver
LEFT = {
    "peel_layer_histogram": 0,
    "neighborhood_function": 0,
    "spectral_gap_lambda2": 0,
    # the returned join reads both the staged edge set and the truss
    "k_truss": 2,
}


@pytest.mark.parametrize("name", list(OPS))
def test_successful_loop_leaves_session_as_found(spark, name):
    v, e = _graph(spark)
    conf, before = _conf(spark), _persistent_ids(spark)
    OPS[name][0](v, e).collect()
    assert _conf(spark) == conf
    assert len(_persistent_ids(spark) - before) <= LEFT.get(name, 1)


def test_nested_scopes_restore_enclosing_settings(spark):
    from graphlite_spark.checkpoint import loop_scope

    conf = _conf(spark)
    width = int(conf["spark.sql.shuffle.partitions"])
    with loop_scope(spark) as outer:
        assert outer.size(250_000) == min(width, 3)
        inside = _conf(spark)
        assert inside["spark.sql.adaptive.enabled"] == "false"
        assert inside["spark.sql.autoBroadcastJoinThreshold"] == "-1"
        assert inside["spark.sql.shuffle.partitions"] == str(min(width, 3))
        with loop_scope(spark, num_partitions=1) as inner:
            assert inner.num_partitions == 1
            assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
        assert _conf(spark) == inside
        with pytest.raises(RuntimeError):
            with loop_scope(spark) as inner:
                inner.stage(spark.range(5))
                raise RuntimeError("inner failure")
        assert _conf(spark) == inside
    assert _conf(spark) == conf


def test_scope_sizes_width_from_staged_rows(spark):
    from graphlite_spark.checkpoint import loop_scope

    before = _persistent_ids(spark)
    with loop_scope(spark) as scope:
        leaf = scope.leaf(spark.range(10).select(F.col("id").alias("src")), "src")
        assert scope.num_partitions == 1
        assert leaf.rdd.getNumPartitions() == 1
        assert sorted(r["src"] for r in leaf.collect()) == list(range(10))
        first, row = scope.stage(spark.range(4), odd=F.sum(F.col("id") % 2))
        assert row == {"n": 4, "odd": 2}
        second, row = scope.stage(
            first.where(F.col("id") > 0), prev=first, top=F.max("id")
        )
        assert (row["n"], row["top"]) == (3, 3)
        # the leaf and the current round: prev was released at once
        assert len(_persistent_ids(spark) - before) == 2
        kept = scope.keep(second)
    assert len(_persistent_ids(spark) - before) == 1
    assert sorted(r["id"] for r in kept.collect()) == [1, 2, 3]


def test_concurrent_own_and_keep_lose_no_frame():
    """scc and bow-tie run two fixpoints on threads against one scope: a
    ``keep`` that rebinds the owned list must not drop another thread's
    ``own``."""
    import sys
    import threading

    from graphlite_spark.checkpoint import LoopScope

    scope = LoopScope(None, 1, 1)  # own/keep never touch the session
    frames = [[object() for _ in range(100)] for _ in range(16)]

    def work(mine):
        for f in mine:
            scope.own(f)
            scope.keep(mine[0])  # rebinds the owned list

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(m,)) for m in frames]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    owned = {id(f) for f in scope._owned}
    assert all(id(f) in owned for mine in frames for f in mine[1:])


def test_release_warns_once_without_jvm_handle(monkeypatch):
    from graphlite_spark import checkpoint

    class NoHandle:
        pass

    monkeypatch.setattr(checkpoint, "_release_warned", False)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        checkpoint.release_local_checkpoint(NoHandle())
        checkpoint.release_local_checkpoint(NoHandle())
    msgs = [str(w.message) for w in caught if issubclass(w.category, RuntimeWarning)]
    assert len(msgs) == 1
    assert "AttributeError" in msgs[0]
