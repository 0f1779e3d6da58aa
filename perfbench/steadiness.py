"""Run workloads repeatedly and print the spread of every metric.

    python3 perfbench/steadiness.py --runs 10 --seconds 10 [--first-seed 1] [--trace]
        [--workload transcript-pipeline --workload zipf-hubs]

Each run is a fresh ``perfbench/run.py`` process with its own seed
(``first-seed``, ``first-seed + 1``, ...).  For every end-to-end metric it
prints the median, the first and third quartiles (``statistics.quantiles``,
n=4) and the quartile distance as a share of the median: the spread the
bounds in ``BENCHMARK.json`` are set against.  With ``--trace`` each seed
also gets a traced run; the per-layer medians are printed, and the tracing
overhead is the traced runs' median ``trace.job_s`` against the untraced
runs' median ``job_s``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path
from statistics import median, quantiles

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

from perfbench.workloads import WORKLOADS  # noqa: E402


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, str(HERE / "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=HERE.parent, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    result["wall_s"] = wall
    return result


def spread_rows(results: list[dict]) -> dict:
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        mid = median(values)
        q1, _, q3 = quantiles(values, n=4) if len(values) > 1 else (mid, mid, mid)
        out[name] = {
            "unit": results[0]["metrics"][name]["unit"],
            "median": mid,
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / mid if mid else 0.0,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    summary = {}
    for wl in args.workload or WORKLOADS:
        seeds = range(args.first_seed, args.first_seed + args.runs)
        plain = []
        for s in seeds:
            plain.append(one_run(wl, s, args.seconds, 0))
            values = " ".join(
                f"{k}={m['value']:.4g}" for k, m in plain[-1]["metrics"].items()
            )
            print(f"{wl} seed {s}: {plain[-1]['wall_s']:.1f} s wall, {values}", file=sys.stderr)
        rows = spread_rows(plain)
        failed = {r["failed"] / r["attempted"] for r in plain}
        print(f"\n{wl}: {len(plain)} runs, seeds {seeds.start}..{seeds.stop - 1}, "
              f"failed share {sorted(failed)}, "
              f"run wall median {median(r['wall_s'] for r in plain):.1f} s, "
              f"correct {all(r['correct'] for r in plain)}")
        for name, row in rows.items():
            print(f"  {name:24s} median {row['median']:12.4f} {row['unit']:8s} "
                  f"q1 {row['q1']:12.4f}  q3 {row['q3']:12.4f}  spread {row['spread']:.3f}")
        summary[wl] = {"end_to_end": rows}
        if args.trace:
            traced = [one_run(wl, s, args.seconds, 1) for s in seeds]
            layers = spread_rows(traced)
            for name, row in layers.items():
                print(f"  {name:40s} median {row['median']:12.4f} {row['unit']}")
            overhead = layers["trace.job_s"]["median"] / rows["job_s"]["median"] - 1
            print(f"  tracing overhead on job_s: {overhead:+.1%}")
            summary[wl]["per_layer"] = layers
            summary[wl]["tracing_overhead"] = overhead
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
