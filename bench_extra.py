#!/usr/bin/env python
"""Round-6 auxiliary measurements (bench.py is frozen for the driver).

Modes:
  python bench_extra.py derive [sf_dir]   — per-stage timing of the graph
      derivation (transcripts window, derive_vertices, derive_edges) with
      the same session config as bench.py; prints one JSON line.
  python bench_extra.py derive-plan OUT   — write .explain("formatted") of
      derive_vertices/derive_edges to OUT (no execution).
  python bench_extra.py query NAME [...]  — time entry queries by name with
      a noop-style terminal action (collect row count only), one JSON line.

Numbers from this file are cited in OPTIMIZATION_r06.md; the driver's own
timing comes from the frozen bench.py.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _spark():
    from graphlite_spark.session import get_spark

    return get_spark(app_name="bench_extra", cores=CPUS, shuffle_partitions=32)


def mode_derive(sf_dir: str) -> None:
    from graphlite_spark.plans.derive import derive_edges, derive_vertices
    from graphlite_spark.sources.tables import load_table
    from graphlite_spark.sources.transcripts import transcripts_from_events

    spark = _spark()
    out: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.perf_counter()
        r = fn()
        out[name] = round(time.perf_counter() - t0, 3)
        return r

    events = load_table(spark, sf_dir, "events")
    t = transcripts_from_events(events)
    # isolate the transcript window itself (noop-style: count, no sink)
    timed("transcripts_count", t.count)
    # derive_vertices runs the conversation-offsets actions eagerly, then
    # returns a lazy plan: persist() only marks it, so the turn-level work
    # lands in the *_materialize_count stage that follows
    v = timed(
        "derive_vertices_offsets_plan", lambda: derive_vertices(t).persist()
    )
    timed("derive_vertices_materialize_count", v.count)
    e = timed("derive_edges_plan", lambda: derive_edges(t, v).persist())
    timed("derive_edges_materialize_count", e.count)
    out["total_like_bench"] = round(
        out["derive_vertices_offsets_plan"]
        + out["derive_vertices_materialize_count"]
        + out["derive_edges_plan"]
        + out["derive_edges_materialize_count"],
        3,
    )
    print(json.dumps({"mode": "derive", "sf_dir": sf_dir, "timings": out}))


def mode_derive_plan(path: str) -> None:
    from graphlite_spark.plans.derive import derive_edges, derive_vertices
    from graphlite_spark.sources.tables import load_table
    from graphlite_spark.sources.transcripts import transcripts_from_events

    spark = _spark()
    t = transcripts_from_events(load_table(spark, SF_DIR, "events"))
    v = derive_vertices(t)
    e = derive_edges(t, v)
    jvm = spark._jvm
    with open(path, "w") as fh:
        fh.write("== derive_vertices ==\n")
        fh.write(jvm.PythonSQLUtils.explainString(
            v._jdf.queryExecution(), "formatted"))
        fh.write("\n== derive_edges ==\n")
        fh.write(jvm.PythonSQLUtils.explainString(
            e._jdf.queryExecution(), "formatted"))
    print(json.dumps({"mode": "derive-plan", "out": path}))


def mode_query(names: list[str]) -> None:
    import __spark_entry__ as entry

    spark = _spark()
    qs = dict(entry.queries())
    out = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        t0 = time.perf_counter()
        df = qs[name](spark, SF_DIR)
        n = df.count()
        out[name] = {"sec": round(time.perf_counter() - t0, 3), "rows": n}
    print(json.dumps({"mode": "query", "sf_dir": SF_DIR, "queries": out}))


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "derive"
    if mode == "derive":
        mode_derive(sys.argv[2] if len(sys.argv) > 2 else SF_DIR)
    elif mode == "derive-plan":
        mode_derive_plan(sys.argv[2])
    elif mode == "query":
        mode_query(sys.argv[2:])
    else:
        raise SystemExit(f"unknown mode {mode}")
