"""Weisfeiler–Leman color refinement — graph fingerprinting.

1-WL (Weisfeiler & Leman 1968; the kernel behind WL graph kernels and
the expressiveness ceiling of message-passing GNNs) iteratively rehashes
every vertex's color with the SORTED multiset of its neighbors' colors.
After h rounds two vertices share a color only if their h-hop unfolding
trees agree — the per-vertex structural fingerprint, and the color
HISTOGRAM is the whole-graph fingerprint embedding pipelines use for
cheap isomorphism screening and structural dedup of graph corpora.

Engine-portable determinism: colors are 48-bit md5 values and the
refinement string is ``wl:<own>:<c1,c2,...>`` with the neighbor colors
NUMERICALLY sorted — both engines build the identical string, so the
refinement is hash-exact.  Scale shape per round: one equi-join + one
grouped ``sort_array(collect_list(...))``.  The collected list is a
vertex's NEIGHBOR COLOR multiset — bounded by its degree, the same
bound any WL implementation carries (a hub's list is big because its
neighborhood is); for hub-heavy graphs, pre-aggregate equal colors into
(color, count) pairs before sorting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphlite_spark.algos.components import symmetrize
from graphlite_spark.checkpoint import loop_scope
from graphlite_spark.functions.hashes import hash48


def wl_refinement(
    vertices: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """(id, color) — the 1-WL color of every vertex after ``iterations``
    refinement rounds from a uniform start (round 1 therefore encodes
    degree, round 2 degree-of-neighbors, ...)."""
    with loop_scope(edges.sparkSession) as scope:
        und = scope.own(symmetrize(edges).select("src", "dst").persist())
        state = vertices.select(
            "id", hash48(F.lit("wl:0")).alias("color")
        ).localCheckpoint(eager=False)
        for _ in range(iterations):
            nbr = (
                und.join(
                    state.select(
                        F.col("id").alias("src"), F.col("color").alias("c")
                    ),
                    "src",
                )
                .groupBy("dst")
                .agg(
                    F.array_join(
                        F.transform(
                            F.sort_array(F.collect_list("c")),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    ).alias("nbrs")
                )
                .select(F.col("dst").alias("nid"), "nbrs")
            )
            state = (
                state.join(nbr, state["id"] == nbr["nid"], "left")
                .select(
                    "id",
                    hash48(
                        F.concat(
                            F.lit("wl:"),
                            F.col("color").cast("string"),
                            F.lit(":"),
                            F.coalesce("nbrs", F.lit("")),
                        )
                    ).alias("color"),
                )
                .localCheckpoint(eager=False)
            )
        state.count()
    return state


def wl_conv_fingerprints(
    vertices: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
) -> DataFrame:
    """(conv_id, n_vertices, fingerprint, class_size) — a structural
    fingerprint per CONVERSATION: the md5 of the numerically-sorted
    1-WL color multiset of its turns.  Two conversations share a
    fingerprint iff their h-round WL refinements agree — structural
    near-isomorphism dedup of agent traces (same reply/tool shape
    regardless of text), the graph-shaped sibling of the content
    dedup family.  ``class_size`` is the number of conversations in
    the fingerprint's duplicate class.

    Engine-portable: colors are the 48-bit md5 WL colors (hash-exact
    on both engines) and the fingerprint string is the comma-joined
    ascending color list — DuckDB's ``string_agg(... ORDER BY color)``
    builds the identical string.

    Scale shape: conversation graphs are disjoint components of the
    transcript graph, so the GLOBAL refinement (one equi-join + one
    grouped sort per round) IS the per-conversation refinement; the
    collect_list here is bounded by conversation length (turns per
    conv), not by any global quantity; class sizes are one groupBy
    over one-row-per-conv."""
    colors = wl_refinement(vertices, edges, iterations)
    per_conv = (
        vertices.select("id", "conv_id")
        .join(colors, "id")
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list("color")),
                        lambda x: x.cast("string"),
                    ),
                    ",",
                )
            ).alias("fingerprint"),
        )
    )
    sizes = per_conv.groupBy("fingerprint").agg(
        F.count(F.lit(1)).cast("long").alias("class_size")
    )
    return per_conv.join(sizes, "fingerprint").select(
        "conv_id", "n_vertices", "fingerprint", "class_size"
    )
