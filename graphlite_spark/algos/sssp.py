"""Single-source shortest paths over WEIGHTED edges (min-plus Pregel).

The reference stores an arbitrary per-edge value (include/Node.h:47-54 —
``m_e_value_size`` bytes per out-edge) which its shipped PageRank never
consults; SSSP is the canonical program that does.  This is the 6th vertex
program on the engine contract and the first to exercise

* non-unit messages through the min-combiner: ``msg = value + weight``
  reads the edge table's ``weight`` column inside the scatter join;
* a **non-sum global aggregator**: ``max_dist`` merges with ``F.max``
  (the reference's user-definable ``Aggregator::merge``,
  include/AggregatorBase.h:44-84) — the maximum finite distance settled
  so far, a natural progress/eccentricity gauge.

Semantics per superstep (classic Pregel SSSP):
  ss0   : source adopts 0.0 and relaxes its out-edges; everyone halts.
  ss>=1 : a reactivated vertex takes m = min(inbox); if m < dist it adopts
          m and relaxes; always votes to halt.
Unreached vertices keep the ``INF`` sentinel.  Converges via the engine's
``act==0 && sent==0`` test; ``fixed_supersteps`` bounds the run for the
unrolled min-plus SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from graphlite_spark.operators.pregel import (
    PregelAlgorithm,
    PregelEngine,
    PregelResult,
    warn_if_not_converged,
)

#: unreachable sentinel — large but far from double overflow under +weight
INF = 1.0e18


class SSSP(PregelAlgorithm):
    name = "sssp"
    value_type = "double"
    combine_expr = staticmethod(F.min)

    def __init__(self, source: int = 0, max_supersteps: int = 200,
                 fixed_supersteps: int | None = None):
        self.source = source
        self.fixed = fixed_supersteps
        self.max_supersteps = (
            fixed_supersteps if fixed_supersteps is not None else max_supersteps
        )

    def init_value(self) -> Column:
        return F.lit(INF)

    def update_value(self, superstep: int, aggr: dict[str, float]) -> Column:
        if superstep == 0:
            return F.when(F.col("id") == self.source, F.lit(0.0)).otherwise(
                F.col("value")
            )
        return F.when(
            F.col("has_msg") & (F.col("msg") < F.col("value")), F.col("msg")
        ).otherwise(F.col("value"))

    def update_send(self, superstep: int, aggr: dict[str, float]) -> Column:
        if superstep == 0:
            return F.col("id") == self.source
        return F.col("has_msg") & (F.col("msg") < F.col("value"))

    def update_halt(self, superstep: int, aggr: dict[str, float]) -> Column:
        return F.lit(True)

    def message(self, superstep: int, aggr: dict[str, float]) -> Column:
        # value + per-edge weight: the scatter join exposes the edge
        # table's weight column (operators/pregel.PregelEngine._scatter)
        return F.col("value") + F.col("weight")

    def aggregators(self, superstep: int, aggr: dict[str, float]):
        # max-merge aggregator: largest settled (finite) distance
        return {
            "max_dist": (
                F.when(F.col("value") < F.lit(INF), F.col("value")),
                F.max,
            )
        }


class SSSPWithParents(PregelAlgorithm):
    """SSSP with STRUCT-valued vertex state: value = (dist, parent).

    Exercises the reference's arbitrary-POD vertex value types
    (include/Vertex.h:142-160) through the Spark engine: every cast,
    message, combine and update runs on ``struct<dist:double,parent:bigint>``.
    The min-combiner orders structs lexicographically, so the combined
    inbox is "shortest distance, then smallest parent id" — a
    deterministic parent tree with zero extra passes.
    """

    name = "sssp_parents"
    value_type = "struct<dist:double,parent:bigint>"
    combine_expr = staticmethod(F.min)

    def __init__(self, source: int = 0, max_supersteps: int = 200,
                 fixed_supersteps: int | None = None):
        self.source = source
        self.max_supersteps = (
            fixed_supersteps if fixed_supersteps is not None else max_supersteps
        )

    @staticmethod
    def _mk(dist: Column, parent: Column) -> Column:
        return F.struct(dist.alias("dist"), parent.cast("long").alias("parent"))

    def init_value(self) -> Column:
        return self._mk(F.lit(INF), F.lit(-1))

    def update_value(self, superstep: int, aggr: dict[str, float]) -> Column:
        if superstep == 0:
            return F.when(
                F.col("id") == self.source, self._mk(F.lit(0.0), F.lit(-1))
            ).otherwise(F.col("value"))
        return F.when(
            F.col("has_msg") & (F.col("msg") < F.col("value")), F.col("msg")
        ).otherwise(F.col("value"))

    def update_send(self, superstep: int, aggr: dict[str, float]) -> Column:
        if superstep == 0:
            return F.col("id") == self.source
        return F.col("has_msg") & (F.col("msg") < F.col("value"))

    def update_halt(self, superstep: int, aggr: dict[str, float]) -> Column:
        return F.lit(True)

    def message(self, superstep: int, aggr: dict[str, float]) -> Column:
        return self._mk(
            F.col("value").getField("dist") + F.col("weight"), F.col("id")
        )


def sssp_with_parents(
    vertices: DataFrame,
    edges: DataFrame,
    source: int = 0,
    num_partitions: int | None = None,
    fixed_supersteps: int | None = None,
) -> PregelResult:
    algo = SSSPWithParents(source=source, fixed_supersteps=fixed_supersteps)
    eng = PregelEngine(num_partitions=num_partitions)
    res = eng.run(vertices, edges, algo)
    if fixed_supersteps is None:
        warn_if_not_converged(res, "sssp_parents")
    return res


def sssp(
    vertices: DataFrame,
    edges: DataFrame,
    source: int = 0,
    num_partitions: int | None = None,
    checkpointer=None,
    run_id: str = "sssp",
    fixed_supersteps: int | None = None,
) -> PregelResult:
    algo = SSSP(source=source, fixed_supersteps=fixed_supersteps)
    eng = PregelEngine(num_partitions=num_partitions, checkpointer=checkpointer,
                       run_id=run_id)
    res = eng.run(vertices, edges, algo)
    if fixed_supersteps is None:
        warn_if_not_converged(res, "sssp")
    return res


class WidestPath(PregelAlgorithm):
    """Widest path (max-min semiring): value = the maximum over paths
    from the source of the minimum edge weight along the path — the
    bottleneck-capacity dual of SSSP's min-plus, and the third semiring
    the same engine contract carries (sum-product PageRank, min-plus
    SSSP, max-min here).  Classic network-capacity readout (Pollack
    1960, public literature).

    ss0: the source adopts the +INF sentinel (its own capacity is
    unbounded by convention) and relaxes; afterwards a vertex adopts
    ``max(inbox)`` whenever it beats the current width, where each
    message is ``least(sender width, edge weight)``.  0.0 = unreached
    sentinel (capacities are strictly positive).  Converges by the
    engine's ``act==0 && sent==0`` test; ``fixed_supersteps`` bounds
    the run for the unrolled max-min SQL oracle."""

    name = "widest_path"
    value_type = "double"
    combine_expr = staticmethod(F.max)

    def __init__(self, source: int = 0, max_supersteps: int = 200,
                 fixed_supersteps: int | None = None):
        self.source = source
        self.max_supersteps = (
            fixed_supersteps if fixed_supersteps is not None else max_supersteps
        )

    def init_value(self) -> Column:
        return F.lit(0.0)

    def update_value(self, superstep: int, aggr: dict[str, float]) -> Column:
        if superstep == 0:
            return F.when(
                F.col("id") == self.source, F.lit(INF)
            ).otherwise(F.col("value"))
        return F.when(
            F.col("has_msg") & (F.col("msg") > F.col("value")), F.col("msg")
        ).otherwise(F.col("value"))

    def update_send(self, superstep: int, aggr: dict[str, float]) -> Column:
        if superstep == 0:
            return F.col("id") == self.source
        return F.col("has_msg") & (F.col("msg") > F.col("value"))

    def update_halt(self, superstep: int, aggr: dict[str, float]) -> Column:
        return F.lit(True)

    def message(self, superstep: int, aggr: dict[str, float]) -> Column:
        return F.least(F.col("value"), F.col("weight"))


def widest_path(
    vertices: DataFrame,
    edges: DataFrame,
    source: int = 0,
    num_partitions: int | None = None,
    checkpointer=None,
    run_id: str = "widest_path",
    fixed_supersteps: int | None = None,
) -> PregelResult:
    algo = WidestPath(source=source, fixed_supersteps=fixed_supersteps)
    eng = PregelEngine(num_partitions=num_partitions,
                       checkpointer=checkpointer, run_id=run_id)
    res = eng.run(vertices, edges, algo)
    if fixed_supersteps is None:
        warn_if_not_converged(res, "widest_path")
    return res
