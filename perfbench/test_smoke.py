"""Smoke test of the benchmark's own parts, at a tiny size and without Spark.

    python3 -m pytest perfbench -q

* the event-log fold, on a hand-written log with known answers and on a
  short log recorded from Spark (``testdata/eventlog_tiny.jsonl``);
* the independent output checks, against the repository's per-vertex
  reference simulators on the tinygraph and on small random graphs, and on
  outputs that are wrong on purpose.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import checks as C  # noqa: E402
from perfbench.eventlog import fold, fold_file, union_length  # noqa: E402
from tests.reference_sim import (  # noqa: E402
    random_digraph,
    simulate_lpa,
    simulate_pagerank,
    simulate_triangles,
)

# GraphLite-0.20/Input/tinygraph (also graphlite_spark.sources.transcripts)
TINYGRAPH = [
    (0, 1), (0, 3), (1, 0), (1, 2), (1, 3), (2, 1),
    (2, 4), (3, 0), (3, 1), (3, 4), (4, 3), (4, 2),
]


def _log(*events) -> list[str]:
    return [json.dumps(e) for e in events]


def _job_start(jid, t, stages, tag=None, exec_id=None):
    props = {}
    if tag:
        props["spark.jobGroup.id"] = tag
    if exec_id is not None:
        props["spark.sql.execution.id"] = str(exec_id)
    return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t,
            "Stage IDs": stages, "Properties": props}


def _task_end(stage, launch, finish, run_ms, gc_ms=0, shuffle_w=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": gc_ms,
                             "Disk Bytes Spilled": spill,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w}}}


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 10), (5, 15), (20, 25)]) == 20
    assert union_length([(20, 25), (0, 30)]) == 30


def test_fold_hand_written_log():
    lines = _log(
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "physicalPlanDescription": "Execute InsertIntoHadoopFsRelationCommand"},
        _job_start(0, 1000, [0, 1], tag="w:derive:1", exec_id=3),
        _task_end(0, 1000, 1100, 90, gc_ms=5, shuffle_w=1000),
        _task_end(0, 1000, 1300, 280, shuffle_w=500, spill=64),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        _job_start(1, 1300, [2], tag="w:derive:1", exec_id=7),
        _task_end(2, 1310, 1590, 270),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1600},
        _job_start(2, 2000, [3]),  # no job group: not folded
        _task_end(3, 2000, 2100, 100),
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 2100},
    )
    tags = fold(lines)
    assert list(tags) == ["w:derive:1"]
    st = tags["w:derive:1"]
    assert len(st.jobs) == 2
    assert st.stages == {0, 2}  # stage 1 never ran a task (skipped)
    assert st.tasks == 3
    assert st.busy_ms() == 600  # [1000, 1400] ∪ [1300, 1600]
    assert st.write_ms() == 300  # job 1 belongs to the parquet write
    assert st.executor_ms == 640 and st.gc_ms == 5
    assert st.shuffle_write_bytes == 1500 and st.spill_bytes == 64
    assert st.task_skew() == pytest.approx(300 / 200)  # heaviest stage: 100 and 300 ms


def test_fold_recorded_log():
    tags = fold_file(str(Path(__file__).parent / "testdata" / "eventlog_tiny.jsonl"))
    assert set(tags) == {"tiny:pregel:1", "tiny:sinks:1"}
    pregel, sinks = tags["tiny:pregel:1"], tags["tiny:sinks:1"]
    for st in (pregel, sinks):
        assert st.jobs and all(end is not None for _, end in st.jobs.values())
        assert 0 < st.busy_ms() <= union_length([(s, e) for s, e in st.jobs.values()])
        assert st.tasks >= len(st.stages) > 0
    # the sink writes parquet; PageRank's in-memory loop writes nothing
    assert sinks.write_jobs and not pregel.write_jobs
    assert pregel.shuffle_write_bytes > 0


def _arrays(edges):
    e = np.array(edges, dtype=np.int64)
    return e[:, 0], e[:, 1]


GRAPHS = [
    ("tinygraph", TINYGRAPH, 5),
    ("random-a", random_digraph(30, 80, seed=1), 30),
    ("random-b", random_digraph(60, 150, seed=2), 60),
]


@pytest.mark.parametrize("name,edges,n", GRAPHS, ids=[g[0] for g in GRAPHS])
def test_pagerank_reference_matches_simulator(name, edges, n):
    src, dst = _arrays(edges)
    for fixed in (None, 4):
        want, want_ss = simulate_pagerank(edges, n, fixed=fixed)
        got, ss, sent = C.pagerank_reference(n, src, dst, fixed=fixed)
        assert ss == want_ss
        assert sent == len(edges) * (ss - (0 if fixed else 1))
        assert C.close_values("ranks", np.arange(n), got, np.array(want)).ok


@pytest.mark.parametrize("name,edges,n", GRAPHS, ids=[g[0] for g in GRAPHS])
def test_lpa_reference_matches_simulator(name, edges, n):
    src, dst = _arrays(edges)
    for iterations in (1, 3):
        want = np.array(simulate_lpa(edges, n, iterations=iterations))
        got = C.lpa_reference(n, src, dst, iterations)
        assert C.equal_values("labels", np.arange(n), got, want).ok


@pytest.mark.parametrize("name,edges,n", GRAPHS, ids=[g[0] for g in GRAPHS])
def test_triangles_reference_matches_simulator(name, edges, n, tmp_path):
    pd.DataFrame(edges, columns=["src", "dst"]).to_parquet(tmp_path / "part-0.parquet")
    _per_vertex, total = simulate_triangles(edges, n)
    assert C.triangles_reference(str(tmp_path)) == total


def test_checks_catch_wrong_outputs():
    ids = np.arange(5)
    want = np.array([0.5, 1.0, 1.5, 2.0, 2.5])
    assert C.close_values("ok", ids, want.copy(), want).ok
    assert not C.close_values("off", ids, want + 1e-6, want).ok
    assert not C.close_values("missing", ids[:4], want[:4], want).ok
    assert not C.equal_values("dup", np.array([0, 0, 2, 3, 4]), want, want).ok

    vertices = pd.DataFrame({"id": [0, 1, 2, 3], "conv_id": ["a", "a", "b", "b"]})
    good = pd.DataFrame({"id": [0, 1, 2, 3], "component": [0, 0, 2, 2]})
    merged = pd.DataFrame({"id": [0, 1, 2, 3], "component": [0, 0, 0, 0]})
    assert C.components_per_conversation("cc", good, vertices).ok
    assert not C.components_per_conversation("cc", merged, vertices).ok

    e = pd.DataFrame({"src": [0, 1], "dst": [1, 2], "etype": ["reply", "tool"]})
    assert C.same_edges("e", e, e.iloc[::-1]).ok
    assert not C.same_edges("e", e.assign(etype="reply"), e).ok
