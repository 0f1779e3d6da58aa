"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload transcript-pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository; the benchmark imports the
package from there and keeps every file it writes under ``.perfbench_work/``
in that root, removing them at the end.

One run:

1. starts its own Spark session at ``local[<cpus>]`` with a pinned shuffle
   width and console progress off (``session.start_s``);
2. stages the workload's seeded input as parquet, several times, keeping the
   median (``sources.stage_s``); ``setup_s`` is the two together;
3. times one cold pass (``cold_job_s``), then runs the workload's
   ``warmups`` untimed warm-up passes;
4. times passes for ``--seconds`` seconds (at least ``MIN_TIMED``) and
   reports their medians (``job_s``, ``pagerank_edges_per_s``);
5. checks the last pass's outputs against independent computations
   (``perfbench/checks.py``), untimed.

With ``--trace 1`` the session also writes a Spark event log and every layer
call is tagged with its job group; the log is folded into the per-layer
metrics (medians over the timed passes), printed instead of the end-to-end
ones.  ``trace.job_s`` is the traced run's own ``job_s``: its difference from
an untraced run's ``job_s`` is the tracing overhead.

The last line of standard output is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
An operation is one pass or one output check; a pass that raises, or a
check that fails, counts as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

STAGE_REPEATS = 3
MIN_TIMED = 3
SHUFFLE_PARTITIONS_PER_CPU = 2
DRIVER_MEMORY = "1g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def jvm_pid_of() -> int:
    """pid of the Spark JVM (spark-submit execs into it)."""
    from pyspark import SparkContext

    return int(SparkContext._gateway.proc.pid)


def start_session(work: Path, trace: bool):
    from graphlite_spark.session import get_spark

    tmp = work / "tmp"
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # -Xms at the heap cap: the JVM's resident size then follows the
        # program's footprint rather than when G1 chose to grow the heap.
        # No perf-data file, so nothing is written under /tmp.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}"
        " -XX:-UsePerfData",
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    n = cpus()
    return get_spark(
        app_name="perfbench",
        cores=n,
        shuffle_partitions=SHUFFLE_PARTITIONS_PER_CPU * n,
        extra_conf=conf,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(wl, tracer, folded, passes: dict, timed: list[int]) -> dict:
    """Per-layer metrics: the median over the timed passes of each one."""
    from perfbench.eventlog import TagStats

    def stats(layer: str, p: int) -> TagStats:
        return folded.get(tracer.tag(wl.name, layer, p), TagStats())

    def per_pass(p: int) -> dict:
        r = passes[p]
        out = {}
        d = stats("derive", p)
        span = tracer.seconds("derive", p)
        out.update(
            {
                "derive.wall_s": span,
                "derive.driver_gap_s": span - d.busy_ms() / 1000 if d.jobs else 0.0,
                "derive.executor_s": d.executor_ms / 1000,
                "derive.jobs": len(d.jobs),
                "derive.stages": len(d.stages),
                "derive.shuffle_write_mb": d.shuffle_write_bytes / 1e6,
            }
        )
        g = stats("pregel", p)
        ss = len(r.supersteps)
        span = tracer.seconds("pregel", p)
        per = (lambda x: x / ss) if ss else (lambda x: 0.0)
        out.update(
            {
                "pregel.supersteps": ss,
                "pregel.prepare_s": span - sum(m.wall_ms for m in r.supersteps) / 1000,
                "pregel.superstep_ms_p50": median(m.wall_ms for m in r.supersteps)
                if ss
                else 0.0,
                "pregel.driver_gap_ms_per_superstep": per(span * 1000 - g.busy_ms()),
                "pregel.executor_ms_per_superstep": per(g.executor_ms),
                "pregel.jobs_per_superstep": per(len(g.jobs)),
                "pregel.stages_per_superstep": per(len(g.stages)),
                "pregel.tasks_per_superstep": per(g.tasks),
                "pregel.shuffle_mb_per_superstep": per(g.shuffle_write_bytes / 1e6),
                "pregel.gc_ms": g.gc_ms,
                "pregel.task_skew": g.task_skew(),
            }
        )
        cc, tri = stats("algos.cc", p), stats("algos.triangles", p)
        out.update(
            {
                "algos.cc_fast_s": tracer.seconds("algos.cc", p),
                "algos.cc_fast_jobs": len(cc.jobs),
                "algos.lpa_s": tracer.seconds("algos.lpa", p),
                "algos.triangles_s": tracer.seconds("algos.triangles", p),
                "algos.triangles_shuffle_mb": tri.shuffle_write_bytes / 1e6,
                "algos.triangles_spill_mb": tri.spill_bytes / 1e6,
            }
        )
        out.update(
            {
                "checkpoint.durable_mb": r.layer.get("checkpoint.durable_mb", 0.0),
                "checkpoint.manifests": r.layer.get("checkpoint.manifests", 0),
                "checkpoint.write_s": g.write_ms() / 1000,
                "checkpoint.latest_s": tracer.seconds("checkpoint", p),
                "checkpoint.resume_supersteps": r.layer.get(
                    "checkpoint.resume_supersteps", 0
                ),
                "sinks.write_s": tracer.seconds("sinks", p),
                "sinks.output_mb": r.layer.get("sinks.output_mb", 0.0),
            }
        )
        return out

    rows = [per_pass(p) for p in timed]
    return {k: median(row[k] for row in rows) for k in rows[0]}


def metric_units(trace: bool) -> dict[str, str]:
    """{name: unit} of the metrics BENCHMARK.json declares for this mode."""
    with open(ROOT / "BENCHMARK.json") as fh:
        declared = json.load(fh)["per_layer" if trace else "end_to_end"]
    return {m["name"]: m["unit"] for m in declared}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # import the package first: without it there is nothing to measure
    import graphlite_spark  # noqa: F401

    from perfbench.checks import Check
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    trace = bool(args.trace)
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # keep Python's and Spark's scratch files inside the work directory
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()
    import tempfile

    tempfile.tempdir = None

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, trace)
        session_s = time.perf_counter() - t0
        jvm_pid = jvm_pid_of()

        wl = WORKLOADS[args.workload](spark, str(work), args.seed)
        stage_times = []
        for _ in range(STAGE_REPEATS):
            t0 = time.perf_counter()
            wl.stage()
            stage_times.append(time.perf_counter() - t0)
        from perfbench.workloads import dir_mb, parquet_rows

        tracer = Tracer(spark.sparkContext, wl.name, tagging=trace)
        attempted = failed = 0
        passes: dict = {}
        walls: dict[int, float] = {}

        def one_pass(p: int) -> None:
            nonlocal attempted, failed
            attempted += 1
            t = time.perf_counter()
            # only the newest pass's frames stay referenced, so Spark can
            # release the blocks of the ones before it
            for earlier in passes.values():
                earlier.outputs.clear()
            try:
                passes[p] = wl.run_pass(tracer, p)
            except Exception:
                failed += 1
                traceback.print_exc(file=sys.stderr)
                return
            walls[p] = time.perf_counter() - t

        for p in range(1 + wl.warmups):
            one_pass(p)
        p = 1 + wl.warmups
        timed: list[int] = []
        t_start = time.perf_counter()
        while len(timed) < MIN_TIMED or time.perf_counter() - t_start < args.seconds:
            one_pass(p)
            timed.append(p)
            p += 1
        timed_ok = [q for q in timed if q in walls]
        if 0 not in walls or not timed_ok:
            raise SystemExit("no cold or no timed pass completed: nothing to report")

        # before the checks, which load reference data into this process
        rss_py, rss_jvm = vm_hwm_mb(os.getpid()), vm_hwm_mb(jvm_pid)
        try:
            results = wl.check(passes[timed_ok[-1]])
        except Exception:
            traceback.print_exc(file=sys.stderr)
            results = [Check("checks", False, "raised")]
        attempted += len(results)
        failed += sum(not c.ok for c in results)
        for c in results:
            print(f"check {c.name}: {'ok' if c.ok else 'FAILED'} ({c.detail})", file=sys.stderr)
        correct = all(c.ok for c in results)

        stage_s = median(stage_times)
        job_s = median(walls[q] for q in timed_ok)
        print(
            f"{wl.name} seed={args.seed} session={session_s:.2f}s "
            f"stage={['%.2f' % s for s in stage_times]} "
            f"passes={['%.2f' % walls[q] for q in sorted(walls)]} (first {1 + wl.warmups} untimed) "
            f"rss_py={rss_py:.0f}MB rss_jvm={rss_jvm:.0f}MB",
            file=sys.stderr,
        )
        for q in sorted(walls):
            print(f"pass {q}: {tracer.pass_summary(q)}", file=sys.stderr)
        if trace:
            stop_session(spark)
            spark = None
            from perfbench.eventlog import fold_file

            (log,) = list((work / "eventlog").iterdir())
            folded = fold_file(str(log))
            values = {
                "session.start_s": session_s,
                "sources.stage_s": stage_s,
                "sources.input_mb": dir_mb(wl.input),
                "sources.rows": parquet_rows(wl.input),
                **layer_metrics(wl, tracer, folded, passes, timed_ok),
                "derive.vertices": passes[timed_ok[-1]].layer.get("derive.vertices", 0),
                "derive.edges": passes[timed_ok[-1]].layer.get("derive.edges", 0),
                "trace.job_s": job_s,
            }
        else:
            values = {
                "setup_s": session_s + stage_s,
                "cold_job_s": walls[0],
                "job_s": job_s,
                "pagerank_edges_per_s": median(
                    passes[q].pagerank_sent / passes[q].pagerank_s for q in timed_ok
                ),
                "peak_rss_mb": rss_py + rss_jvm,
            }
        metrics = {k: {"value": values[k], "unit": u} for k, u in metric_units(trace).items()}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
