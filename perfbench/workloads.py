"""The benchmark's two workloads.

Each workload stages its seeded input as parquet during set-up, then runs
the same job (a *pass*) several times in one Spark session.  Every call into
the package runs inside ``tracer.layer(<layer>, pass_no)``; the layer names
match the package's modules (``derive``, ``pregel``, ``algos.*``,
``checkpoint``, ``sinks``).

Sizes are chosen so that one run of a workload (session start, set-up, a
cold pass, ``warmups`` warm-up passes and three timed passes) stays near a
minute on four cores.  At these sizes the per-job and per-superstep
Spark-driver latency, not data volume, sets most of a pass's time.

``warmups`` is the number of untimed passes after the cold one.  Passes get
faster while the JIT compiles the Spark driver's paths.  On the Zipf graph
the two passes after the cold one took 1.1-1.4x as long as the fourth in
five runs, so that workload drops two.  The transcript pipeline drops one.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks as C

# transcript graph: chains of up to MAX_TURNS turns, so PageRank runs about
# MAX_TURNS + 2 light supersteps whatever the seed
TRANSCRIPT_CONVS = 1000
TRANSCRIPT_MAX_TURNS = 5
# power-law graph: a few hubs with degree in the hundreds to low thousands
ZIPF_VERTICES = 10_000
ZIPF_ARCS = 40_000
ZIPF_HUB_RANK = 30
ZIPF_PAGERANK_SUPERSTEPS = 6
ZIPF_LPA_ITERATIONS = 2
# checkpoint-resume: durable state every 4 supersteps; the first run stops
# after superstep 5, off that interval, as a crash would
CHECKPOINT_EVERY = 4
CRASH_AT = 6


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


@dataclass
class PassResult:
    """What one pass leaves for the metrics and the output checks."""

    pagerank_s: float = 0.0  # wall time of every PageRank call in the pass
    pagerank_sent: int = 0  # Σ sent over their supersteps
    supersteps: list = field(default_factory=list)  # SuperstepMetrics, pregel layer
    outputs: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)  # counters measured from outside


class TranscriptPipeline:
    """read → derive → PageRank with durable parquet checkpoints, stopped off
    the checkpoint interval as a crash would stop it, then resumed from the
    newest manifest to convergence → CC (fast) → parquet sink of the ranks."""

    name = "transcript-pipeline"
    warmups = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.input = os.path.join(work, "transcripts")

    def stage(self) -> None:
        from graphlite_spark.sources.transcripts import generate_transcripts

        generate_transcripts(
            self.spark,
            n_convs=TRANSCRIPT_CONVS,
            max_turns=TRANSCRIPT_MAX_TURNS,
            seed=self.seed,
        ).write.mode("overwrite").parquet(self.input)

    def run_pass(self, tr, p: int) -> PassResult:
        from graphlite_spark.algos.components import connected_components_fast
        from graphlite_spark.algos.pagerank import PageRank
        from graphlite_spark.checkpoint import ParquetCheckpointer
        from graphlite_spark.operators.pregel import PregelEngine
        from graphlite_spark.plans.derive import derive_edges, derive_vertices
        from graphlite_spark.sources.sinks import write_result_parquet

        with tr.layer("derive", p):
            tx = self.spark.read.parquet(self.input)
            v = derive_vertices(tx).localCheckpoint(eager=True)
            e = derive_edges(tx, v).localCheckpoint(eager=True)
        ids = v.select("id")
        ck_dir = os.path.join(self.work, f"checkpoints-{p}")
        ck = ParquetCheckpointer(ck_dir, every=CHECKPOINT_EVERY)
        run_id = "pagerank"
        with tr.layer("pregel", p):
            t0 = time.perf_counter()
            crashed = PregelEngine(checkpointer=ck, run_id=run_id).run(
                ids, e, PageRank(max_supersteps=CRASH_AT)
            )
            pr_s = time.perf_counter() - t0
        with tr.layer("checkpoint", p):
            latest = ck.latest(self.spark, run_id)
        with tr.layer("pregel", p):
            t0 = time.perf_counter()
            resumed = PregelEngine(checkpointer=ck, run_id=run_id).run(
                ids, e, PageRank(), resume_from=latest
            )
            pr_s += time.perf_counter() - t0
        with tr.layer("algos.cc", p):
            comp = connected_components_fast(ids, e)
        out = os.path.join(self.work, "ranks")
        with tr.layer("sinks", p):
            write_result_parquet(resumed.state, out)
        return PassResult(
            pagerank_s=pr_s,
            pagerank_sent=sum(m.sent for m in crashed.metrics + resumed.metrics),
            supersteps=crashed.metrics + resumed.metrics,
            outputs={
                "v": v,
                "e": e,
                "comp": comp,
                "ranks": out,
                "crashed": crashed,
                "latest_step": latest[1],
                "resumed": resumed,
            },
            layer={
                "sinks.output_mb": dir_mb(out),
                "checkpoint.durable_mb": dir_mb(ck_dir),
                "checkpoint.manifests": len(ck.manifests(run_id)),
                "checkpoint.resume_supersteps": len(resumed.metrics),
            },
        )

    def check(self, r: PassResult) -> list[C.Check]:
        import duckdb

        want_v, want_e = C.derive_reference(self.input)
        got_v = r.outputs["v"].select("id", "conv_id", "turn_idx").toPandas()
        got_e = r.outputs["e"].select("src", "dst", "etype").toPandas()
        src = want_e["src"].to_numpy(np.int64)
        dst = want_e["dst"].to_numpy(np.int64)
        ranks, supersteps, _ = C.pagerank_reference(len(want_v), src, dst)
        written = duckdb.sql(
            f"SELECT id, value FROM read_parquet('{r.outputs['ranks']}/*.parquet')"
        ).df()
        comp = r.outputs["comp"].toPandas()
        last_durable = (CRASH_AT - 1) // CHECKPOINT_EVERY * CHECKPOINT_EVERY
        r.layer["derive.vertices"] = len(got_v)
        r.layer["derive.edges"] = len(got_e)
        return [
            C.same_vertices("derive.vertices", got_v, want_v),
            C.same_edges("derive.edges", got_e, want_e),
            C.equal("crash.supersteps", r.outputs["crashed"].supersteps, CRASH_AT),
            C.equal("checkpoint.latest_superstep", r.outputs["latest_step"], last_durable),
            C.equal("resume.supersteps", r.outputs["resumed"].supersteps, supersteps),
            C.close_values(
                "resume.ranks_written",
                written["id"].to_numpy(np.int64),
                written["value"].to_numpy(),
                ranks,
            ),
            C.components_per_conversation("cc_fast.per_conversation", comp, want_v),
        ]


class ZipfHubs:
    """PageRank (fixed supersteps) → LPA → degree-oriented triangle count on
    a power-law graph with hubs."""

    name = "zipf-hubs"
    warmups = 2

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed
        self.input = os.path.join(work, "zipf_edges")

    def stage(self) -> None:
        from pyspark.sql import functions as F

        from graphlite_spark.sources.synthetic import zipf_edges

        zipf_edges(
            self.spark,
            ZIPF_VERTICES,
            ZIPF_ARCS,
            hub_rank=ZIPF_HUB_RANK,
            seed=self.seed,
        ).withColumn("weight", F.lit(1.0)).write.mode("overwrite").parquet(self.input)

    def run_pass(self, tr, p: int) -> PassResult:
        from graphlite_spark.algos.lpa import label_propagation
        from graphlite_spark.algos.pagerank import pagerank
        from graphlite_spark.algos.triangles import triangle_count

        v = self.spark.range(ZIPF_VERTICES)
        with tr.layer("pregel", p):
            e = self.spark.read.parquet(self.input)
            t0 = time.perf_counter()
            res = pagerank(v, e, fixed_supersteps=ZIPF_PAGERANK_SUPERSTEPS)
            pr_s = time.perf_counter() - t0
        with tr.layer("algos.lpa", p):
            lpa = label_propagation(v, e, iterations=ZIPF_LPA_ITERATIONS)
        with tr.layer("algos.triangles", p):
            tri = int(triangle_count(e, orient="degree").collect()[0]["triangles"])
        return PassResult(
            pagerank_s=pr_s,
            pagerank_sent=sum(m.sent for m in res.metrics),
            supersteps=res.metrics,
            outputs={"res": res, "lpa": lpa, "triangles": tri},
        )

    def check(self, r: PassResult) -> list[C.Check]:
        src, dst = C.read_edges(self.input)
        n = ZIPF_VERTICES
        ranks, _, sent = C.pagerank_reference(n, src, dst, fixed=ZIPF_PAGERANK_SUPERSTEPS)
        labels = C.lpa_reference(n, src, dst, ZIPF_LPA_ITERATIONS)
        pr = r.outputs["res"].state.select("id", "value").toPandas()
        lp = r.outputs["lpa"].state.select("id", "value").toPandas()
        return [
            C.equal("pagerank.sent", r.pagerank_sent, sent),
            C.close_values(
                "pagerank.ranks", pr["id"].to_numpy(np.int64), pr["value"].to_numpy(), ranks
            ),
            C.equal_values(
                "lpa.labels",
                lp["id"].to_numpy(np.int64),
                lp["value"].to_numpy(np.int64),
                labels,
            ),
            C.equal("triangles.count", r.outputs["triangles"], C.triangles_reference(self.input)),
        ]


WORKLOADS = {w.name: w for w in (TranscriptPipeline, ZipfHubs)}
