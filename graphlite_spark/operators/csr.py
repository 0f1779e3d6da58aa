"""Per-partition CSR scatter kernels (the north-star physical layout).

GraphLite keeps each worker's subgraph as a packed CSR: a contiguous
source-sorted edge array plus per-vertex (edge_index, out_degree)
(include/Node.h:47-68, engine/Worker.cc:303-322, include/Vertex.h:212-218).
This module re-creates exactly that layout *per Spark partition* as packed
numpy arrays shipped through Arrow:

* vertices are assigned to partition ``pid = pmod(id, P)`` — the
  reference's static modulo placement (engine/Node.cc:104) — and edges are
  co-located with their **source** vertex (``pid = pmod(src, P)``, the same
  1-D edge-cut);
* :func:`build_csr_blocks` packs each partition's edges once into one row
  ``(pid, srcs[], indptr[], dsts[], wgts[])`` — ``indptr`` plays the role
  of ``m_edge_index``/``m_out_degree``, ``wgts`` the per-edge value
  (include/Node.h:50's ``char weight[0]``); the blocks are persisted and
  reused by every superstep;
* the cogrouped scatter kernel gathers each sender's adjacency slice
  (``dsts[indptr[p]:indptr[p+1]]``), generates its messages vectorized
  (numpy, no per-row Python), and **pre-combines by destination inside the
  kernel** (``np.add.at`` / ``np.minimum.at`` / lexicographic first-per-key
  for struct messages) before anything hits the shuffle — the Pregel
  combiner the reference lacks, demanded by the north rule.

Skew (``hub_threshold``): a hub's edges would otherwise all land in one
block (edges follow their source).  With a threshold set, hub edges are
spread across ALL P blocks by ``pmod(dst, P)`` and the hub's (tiny) state
row is replicated to every pid in the scatter — so no single task ever
owns a whole hub adjacency, and the in-kernel combiner still bounds the
shuffle at <= P partials per destination.  Message values stay correct
because kernels read the sender's GLOBAL ``out_degree`` from the state row,
never the block-local adjacency length.

Value types: scalar long/double kernels (PageRank, CC) plus struct-valued
kernels (``reduce_kind='min_struct'`` — SSSP-with-parents' (dist, parent)
state) via flattened field columns re-wrapped into a struct after the
kernel.

Sizing at 100 TB: one block row holds one partition's packed edge arrays,
so pick P ≈ E / ~5M (≈ 40 MB of int64 per block) — the same rule as
``PregelEngine.num_partitions``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphlite_spark.operators.pregel import PregelAlgorithm, PregelEngine

CSR_SCHEMA = (
    "pid int, srcs array<long>, indptr array<long>, dsts array<long>, "
    "wgts array<double>"
)


def _ranges(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenate [s, s+len) ranges without a Python loop.

    Zero-length ranges contribute nothing (mirroring ``np.repeat``), so the
    output stays aligned with messages repeated by the same ``lens``.
    """
    mask = lens > 0
    starts, lens = starts[mask], lens[mask]
    total = int(lens.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    out = np.ones(total, dtype=np.int64)
    ends = np.cumsum(lens)
    out[0] = starts[0]
    out[ends[:-1]] = starts[1:] - (starts[:-1] + lens[:-1]) + 1
    return np.cumsum(out)


def build_csr_blocks(
    edges: DataFrame, num_partitions: int, hub_ids: DataFrame | None = None
) -> DataFrame:
    """One packed CSR row per pid; persisted by the caller.

    ``hub_ids`` (a single ``id`` column): edges whose source is a hub are
    spread by ``pmod(dst, P)`` instead of ``pmod(src, P)`` — each block then
    holds a slice of the hub's adjacency, and the scatter replicates the
    hub's state row to every pid.
    """

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["src", "dst"], kind="mergesort")
        src = pdf["src"].to_numpy(np.int64)
        dst = pdf["dst"].to_numpy(np.int64)
        wgt = pdf["weight"].to_numpy(np.float64)
        srcs, counts = np.unique(src, return_counts=True)
        indptr = np.zeros(len(srcs) + 1, dtype=np.int64)
        np.cumsum(counts, out=indptr[1:])
        return pd.DataFrame(
            {
                "pid": [int(pdf["pid"].iloc[0])],
                "srcs": [srcs],
                "indptr": [indptr],
                "dsts": [dst],
                "wgts": [wgt],
            }
        )

    P = num_partitions
    if hub_ids is None:
        pid = F.pmod(F.col("src"), F.lit(P))
    else:
        hubs = F.broadcast(
            hub_ids.select(F.col("id").alias("src"), F.lit(True).alias("_hub"))
        )
        edges = edges.join(hubs, "src", "left")
        pid = F.when(
            F.col("_hub"), F.pmod(F.col("dst"), F.lit(P))
        ).otherwise(F.pmod(F.col("src"), F.lit(P)))
    with_pid = edges.select(
        pid.cast("int").alias("pid"), "src", "dst", "weight"
    )
    return with_pid.groupBy("pid").applyInPandas(pack, schema=CSR_SCHEMA)


class CSRPregelAlgorithm(PregelAlgorithm):
    """Adds the vectorized kernel hooks the CSR scatter needs."""

    #: 'sum' or 'min' (scalar pre-combine) or 'min_struct' (lexicographic
    #: argmin over struct_fields) — must match combine_expr's semantics
    reduce_kind: str = "sum"
    #: numpy dtype of scalar message values
    msg_dtype: str = "float64"
    #: struct path only: ordered (field_name, numpy_dtype) of the value /
    #: message struct
    struct_fields: list[tuple[str, str]] | None = None

    def message_numpy(
        self,
        values: np.ndarray,
        out_degree: np.ndarray,
        superstep: int,
        aggr: dict[str, float],
    ) -> np.ndarray:
        """Per-sender scalar message (broadcast to all out-neighbors) —
        the vectorized form of :meth:`PregelAlgorithm.message`.
        ``out_degree`` is the sender's GLOBAL out-degree (from its state
        row), not the block-local adjacency length — the two differ for
        hub-split vertices."""
        raise NotImplementedError

    def message_numpy_edges(
        self,
        sender_ids: np.ndarray,
        fields: dict[str, np.ndarray],
        out_degree: np.ndarray,
        weights: np.ndarray,
        superstep: int,
        aggr: dict[str, float],
    ) -> dict[str, np.ndarray]:
        """Struct path: PER-EDGE message fields.  All inputs are aligned
        per edge (sender values repeated along the adjacency slice);
        ``weights`` is the packed per-edge value."""
        raise NotImplementedError


def _empty_out(columns: dict[str, str]) -> pd.DataFrame:
    return pd.DataFrame({c: [] for c in columns}).astype(columns)


class CSRPregelEngine(PregelEngine):
    """PregelEngine whose scatter runs through packed per-partition CSR
    kernels with in-kernel combining (GraphLite's physical layout, Spark's
    execution).  Supports ``hub_threshold`` (hub edges spread by dst,
    hub state replicated — see the module docstring) and struct-valued
    vertex state (``reduce_kind='min_struct'``)."""

    def prepare(self, vertices, edges, algo):
        # the BASE engine's hub split (separate broadcast-join frames)
        # must not run — the CSR layout handles skew by spreading hub
        # edges across blocks instead.  Temporarily hide the threshold.
        hub, self.hub_threshold = self.hub_threshold, None
        try:
            state, e = super().prepare(vertices, edges, algo)
        finally:
            self.hub_threshold = hub
        P = self.num_partitions
        if hub is not None:
            deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
            self._hub_ids = self._scope.own(
                deg.where(F.col("d") > hub).select(F.col("src").alias("id"))
                .persist()
            )
        self._csr = self._scope.own(
            build_csr_blocks(e, P, hub_ids=self._hub_ids).persist()
        )
        self._csr.count()  # build once, reuse every superstep
        return state, e

    # -- keyed state (pid, sender columns) --------------------------------
    def _keyed_state(self, state: DataFrame, value_cols: list) -> DataFrame:
        P = self.num_partitions
        base_cols = ["id", "out_degree", *value_cols]
        sending = state.where("send")
        if self._hub_ids is None:
            return sending.select(
                F.pmod(F.col("id"), F.lit(P)).cast("int").alias("pid"), *base_cols
            )
        # replicate hub senders to every pid (their edges are spread by
        # dst across all blocks); non-hubs keep the modulo placement
        hubs = F.broadcast(
            self._hub_ids.select("id", F.lit(True).alias("_hub"))
        )
        pids = F.when(
            F.col("_hub"), F.sequence(F.lit(0), F.lit(P - 1))
        ).otherwise(F.array(F.pmod(F.col("id"), F.lit(P)).cast("int")))
        return (
            sending.join(hubs, "id", "left")
            .withColumn("_pid", F.explode(pids))
            .select(F.col("_pid").cast("int").alias("pid"), *base_cols)
        )

    def _scatter(self, state, e, algo, superstep, aggr, cache=None):
        # ``cache`` is the base engine's per-token Column cache — the CSR
        # scatter runs numpy kernels, not Column trees, so there is
        # nothing to memoize; accepted for loop-contract compatibility
        if getattr(algo, "struct_fields", None):
            return self._scatter_struct(state, algo, superstep, aggr)
        return self._scatter_scalar(state, algo, superstep, aggr)

    def _scatter_scalar(self, state, algo, superstep, aggr):
        reduce_kind = algo.reduce_kind
        msg_dtype = algo.msg_dtype
        value_np = "int64" if algo.value_type == "long" else "float64"
        out_schema = f"dst long, msg {algo.value_type}"
        empty_cols = {"dst": "int64", "msg": msg_dtype}

        def kernel(state_pdf: pd.DataFrame, csr_rows: pd.DataFrame) -> pd.DataFrame:
            if csr_rows.empty or state_pdf.empty:
                return _empty_out(empty_cols)
            srcs = np.asarray(csr_rows["srcs"].iloc[0], dtype=np.int64)
            indptr = np.asarray(csr_rows["indptr"].iloc[0], dtype=np.int64)
            dsts = np.asarray(csr_rows["dsts"].iloc[0], dtype=np.int64)

            ids = state_pdf["id"].to_numpy(np.int64)
            pos = np.searchsorted(srcs, ids)
            present = (pos < len(srcs)) & (srcs[np.minimum(pos, len(srcs) - 1)] == ids)
            pos = pos[present]
            if pos.size == 0:
                return _empty_out(empty_cols)
            values = state_pdf["value"].to_numpy(value_np)[present]
            odeg = state_pdf["out_degree"].to_numpy(np.int64)[present]
            starts = indptr[pos]
            lens = indptr[pos + 1] - starts

            # GLOBAL out-degree, not block-local lens: they differ for
            # hub-split senders
            msg_per_sender = algo.message_numpy(values, odeg, superstep, aggr)
            d = dsts[_ranges(starts, lens)]
            m = np.repeat(msg_per_sender, lens)

            # in-kernel combiner: pre-reduce by destination BEFORE the shuffle
            ud, inv = np.unique(d, return_inverse=True)
            if reduce_kind == "sum":
                acc = np.zeros(len(ud), dtype=msg_dtype)
                np.add.at(acc, inv, m)
            elif reduce_kind == "min":
                acc = np.full(len(ud), np.iinfo(np.int64).max
                              if msg_dtype == "int64" else np.inf, dtype=msg_dtype)
                np.minimum.at(acc, inv, m)
            elif reduce_kind == "max":
                acc = np.full(len(ud), np.iinfo(np.int64).min
                              if msg_dtype == "int64" else -np.inf, dtype=msg_dtype)
                np.maximum.at(acc, inv, m)
            else:  # pragma: no cover
                raise ValueError(f"unsupported reduce {reduce_kind!r}")
            return pd.DataFrame({"dst": ud, "msg": acc})

        keyed = self._keyed_state(state, [F.col("value")])
        return (
            keyed.groupBy("pid")
            .cogroup(self._csr.groupBy("pid"))
            .applyInPandas(kernel, schema=out_schema)
        )

    def _scatter_struct(self, state, algo, superstep, aggr):
        """Struct-valued messages: per-edge field generation + in-kernel
        lexicographic-min pre-combine (``reduce_kind='min_struct'``)."""
        if algo.reduce_kind != "min_struct":  # pragma: no cover
            raise ValueError(
                f"struct kernels support reduce_kind='min_struct', "
                f"got {algo.reduce_kind!r}"
            )
        fields = algo.struct_fields
        fnames = [n for n, _ in fields]
        spark_types = dict(
            (n, t) for n, t in _struct_spark_types(algo.value_type)
        )
        flat_schema = "dst long, " + ", ".join(
            f"m_{n} {spark_types[n]}" for n in fnames
        )
        empty_cols = {"dst": "int64", **{f"m_{n}": d for n, d in fields}}

        def kernel(state_pdf: pd.DataFrame, csr_rows: pd.DataFrame) -> pd.DataFrame:
            if csr_rows.empty or state_pdf.empty:
                return _empty_out(empty_cols)
            srcs = np.asarray(csr_rows["srcs"].iloc[0], dtype=np.int64)
            indptr = np.asarray(csr_rows["indptr"].iloc[0], dtype=np.int64)
            dsts = np.asarray(csr_rows["dsts"].iloc[0], dtype=np.int64)
            wgts = np.asarray(csr_rows["wgts"].iloc[0], dtype=np.float64)

            ids = state_pdf["id"].to_numpy(np.int64)
            pos = np.searchsorted(srcs, ids)
            present = (pos < len(srcs)) & (srcs[np.minimum(pos, len(srcs) - 1)] == ids)
            pos = pos[present]
            if pos.size == 0:
                return _empty_out(empty_cols)
            starts = indptr[pos]
            lens = indptr[pos + 1] - starts
            sel = np.repeat(np.arange(pos.size), lens)  # per-edge sender idx
            edge_sel = _ranges(starts, lens)

            per_sender = {
                n: state_pdf[f"_v_{n}"].to_numpy(d)[present]
                for n, d in fields
            }
            msg = algo.message_numpy_edges(
                ids[present][sel],
                {n: a[sel] for n, a in per_sender.items()},
                state_pdf["out_degree"].to_numpy(np.int64)[present][sel],
                wgts[edge_sel],
                superstep,
                aggr,
            )
            d = dsts[edge_sel]
            # lexicographic min per dst == F.min over the struct: sort by
            # (dst, field0, field1, ...) and keep the first row per dst
            order = np.lexsort(
                tuple(msg[n] for n in reversed(fnames)) + (d,)
            )
            d_sorted = d[order]
            first = np.concatenate(
                ([True], d_sorted[1:] != d_sorted[:-1])
            ) if d_sorted.size else np.empty(0, dtype=bool)
            keep = order[first]
            out = {"dst": d[keep]}
            for n, dt in fields:
                out[f"m_{n}"] = msg[n][keep].astype(dt)
            return pd.DataFrame(out)

        value_cols = [F.col(f"value.{n}").alias(f"_v_{n}") for n in fnames]
        keyed = self._keyed_state(state, value_cols)
        flat = (
            keyed.groupBy("pid")
            .cogroup(self._csr.groupBy("pid"))
            .applyInPandas(kernel, schema=flat_schema)
        )
        return flat.select(
            "dst",
            F.struct(
                *[F.col(f"m_{n}").alias(n) for n in fnames]
            ).alias("msg"),
        )


def _struct_spark_types(value_type: str) -> list[tuple[str, str]]:
    """Parse ``struct<a:double,b:bigint>`` into [(a, double), (b, bigint)]."""
    inner = value_type.strip()
    assert inner.startswith("struct<") and inner.endswith(">"), value_type
    out = []
    for part in inner[len("struct<"):-1].split(","):
        name, typ = part.split(":")
        out.append((name.strip(), typ.strip()))
    return out
