"""Key guards of the graph derivation's driver-side fast paths."""

from __future__ import annotations

from graphlite_spark.plans.derive import _exclusive_conv_offsets, derive_vertices


def test_null_conv_id_sorts_first_in_offsets(spark):
    t = spark.createDataFrame(
        [("conv00000001", 0, "a"), (None, 0, "b"), ("conv00000001", 1, "c")],
        "conv_id string, turn_idx int, text string",
    )
    cnts = t.groupBy("conv_id").count().withColumnRenamed("count", "_n")
    offs, n_keys = _exclusive_conv_offsets(cnts)
    assert n_keys == 2
    # NULL first (Spark's ascending order, as on the distributed path)
    assert [tuple(r) for r in offs.collect()] == [(None, 0), ("conv00000001", 1)]
    # the NULL-keyed turn joins no offset; the others keep their ranks
    rows = sorted(tuple(r) for r in derive_vertices(t).collect())
    assert rows == [(1, "conv00000001", 0, "a"), (2, "conv00000001", 1, "c")]
