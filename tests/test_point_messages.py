"""sendMessageTo parity (SURVEY.md §2.1 #5): an algorithm that uses ONLY
targeted point sends (no edge table at all) — a ring rotation."""

from __future__ import annotations

from pyspark.sql import functions as F

from graphlite_spark.algos.rotate import RingRotate, ring_rotate
from graphlite_spark.operators.pregel import PregelEngine


def test_point_send_ring(spark):
    n = 24
    v = spark.range(n).select(F.col("id"))
    e = spark.createDataFrame([], "src long, dst long, weight double")
    res = PregelEngine(num_partitions=3).run(v, e, RingRotate(n, rounds=1))
    got = [r["value"] for r in res.state.orderBy("id").collect()]
    assert got == [(i - 1) % n for i in range(n)]
    assert res.converged
    # ss0 sent n point messages; ss1 delivered them, no further sends
    assert res.metrics[0].sent == n
    assert res.metrics[-1].sent == 0


def test_multi_round_rotation(spark):
    n = 17
    v = spark.range(n).select(F.col("id"))
    res = ring_rotate(v, rounds=4, num_partitions=2)
    got = [r["value"] for r in res.state.orderBy("id").collect()]
    assert got == [(i - 4) % n for i in range(n)]
    assert res.converged


def test_point_sent_count_validated_consistent(spark):
    """validate_point_sends cross-checks the declared Σ(point_sent_count)
    against the actual point_messages row count — RingRotate's hooks
    agree, so the validated run must match the unvalidated one."""
    n = 12
    v = spark.range(n).select(F.col("id"))
    e = spark.createDataFrame([], "src long, dst long, weight double")
    res = PregelEngine(num_partitions=2, validate_point_sends=True).run(
        v, e, RingRotate(n, rounds=2)
    )
    got = [r["value"] for r in res.state.orderBy("id").collect()]
    assert got == [(i - 2) % n for i in range(n)]


class _LyingRotate(RingRotate):
    """Declares one send per vertex but actually emits messages for only
    half the vertices — the inconsistency the validator must catch (an
    unvalidated engine would silently corrupt the termination test)."""

    def point_messages(self, state, superstep, aggr):
        pm = super().point_messages(state, superstep, aggr)
        if pm is None:
            return None
        return pm.where(F.col("dst") % 2 == 0)


def test_point_sent_count_mismatch_raises(spark):
    import pytest

    n = 10
    v = spark.range(n).select(F.col("id"))
    e = spark.createDataFrame([], "src long, dst long, weight double")
    with pytest.raises(ValueError, match="point_sent_count"):
        PregelEngine(num_partitions=2, validate_point_sends=True).run(
            v, e, _LyingRotate(n, rounds=2)
        )


class _UncountedRotate(RingRotate):
    """Point sends without the per-vertex count declaration."""

    def point_sent_count(self, superstep, aggr):
        return None


def test_point_messages_without_count_raises(spark):
    """A program whose point_messages returns rows must declare
    point_sent_count: the engine raises, and the failed run leaves no
    persisted RDD behind."""
    import pytest

    n = 12
    v = spark.range(n).select(F.col("id"))
    e = spark.createDataFrame([], "src long, dst long, weight double")
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    with pytest.raises(ValueError, match="point_sent_count"):
        PregelEngine(num_partitions=2).run(v, e, _UncountedRotate(n, rounds=3))
    assert set(jsc.getPersistentRDDs().keySet()) == before
