"""Self-run the driver's correctness gate over the FULL queries() surface
at the driver's own scale (sf0.01 by default) and write a per-query
artifact.  The driver caps at 50 rows/round; this closes the evidence gap
for everything past position 50 (VERDICT r4: "evidence-budget gap").

Each record also carries ``persistent_rdds``, the session's count of
registered persistent RDDs after the query, so storage that drifts up
across the sweep shows in the artifact.

Usage: python tools/selfcheck.py [out.json]
Env: SPARK_GRAFT_TEST_SF (default /root/testdata/sf0.01)
"""
from __future__ import annotations

import json
import math
import os
import sys
import time
import traceback

sys.path.insert(0, "/root/repo")

import duckdb

import __spark_entry__ as entrymod
from graphlite_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
OUT = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/SELFCHECK_r05.json"
LOG = OUT + ".progress.jsonl"


def _norm(v):
    if v is None:
        return ("\x00null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("\x00nan",)
        return ("f", round(v, 9))
    if isinstance(v, int):
        return ("f", float(v)) if abs(v) < 2**52 else ("i", v)
    return ("s", str(v))


def compare(a, b):
    if sorted(a.columns) != sorted(b.columns):
        return False, f"columns {sorted(a.columns)} != {sorted(b.columns)}"
    cols = sorted(a.columns)
    ra = sorted(tuple(_norm(v) for v in r) for r in a[cols].itertuples(index=False))
    rb = sorted(tuple(_norm(v) for v in r) for r in b[cols].itertuples(index=False))
    if len(ra) != len(rb):
        return False, f"{len(ra)} vs {len(rb)} rows"
    bad = [i for i, (x, y) in enumerate(zip(ra, rb)) if x != y]
    if bad:
        return False, f"{len(bad)} mismatched rows, first {ra[bad[0]]} vs {rb[bad[0]]}"
    return True, f"{len(ra)} rows"


def main():
    spark = get_spark(app_name="selfcheck", cores=16, shuffle_partitions=32)
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    oracles = entrymod.oracle_sql()
    qs = entrymod.queries()
    results = {}
    done = set()
    if os.path.exists(LOG):  # resume
        with open(LOG) as f:
            for line in f:
                rec = json.loads(line)
                results[rec["name"]] = rec
                done.add(rec["name"])
    logf = open(LOG, "a")
    jsc = spark.sparkContext._jsc
    names = list(qs)
    for i, name in enumerate(names):
        if name in done:
            continue
        t0 = time.time()
        rec = {"name": name, "pos": i}
        try:
            pdf = qs[name](spark, SF_DIR).toPandas()
            rec["rows"] = int(len(pdf))
            if name in oracles:
                odf = con.sql(oracles[name]).df()
                ok, detail = compare(pdf, odf)
                rec["oracle"] = "match" if ok else "MISMATCH"
                rec["detail"] = detail
            else:
                rec["oracle"] = "rows-only"
                rec["detail"] = f"{len(pdf)} rows, {len(pdf.columns)} cols"
            rec["ok"] = rec["oracle"] != "MISMATCH"
        except Exception as e:
            rec["ok"] = False
            rec["oracle"] = "ERROR"
            rec["detail"] = f"{type(e).__name__}: {e}"[:500]
            traceback.print_exc()
        rec["sec"] = round(time.time() - t0, 2)
        rec["persistent_rdds"] = int(jsc.getPersistentRDDs().size())
        results[name] = rec
        logf.write(json.dumps(rec) + "\n")
        logf.flush()
        print(f"[{i+1}/{len(names)}] {name}: {rec['oracle']} ({rec['sec']}s)",
              flush=True)
    logf.close()
    n_ok = sum(1 for r in results.values() if r["ok"])
    held = [r["persistent_rdds"] for r in results.values() if "persistent_rdds" in r]
    summary = {
        "sf_dir": SF_DIR,
        "total": len(names),
        "ok": n_ok,
        "mismatch": [n for n, r in results.items() if r["oracle"] == "MISMATCH"],
        "error": [n for n, r in results.items() if r["oracle"] == "ERROR"],
        "rows_only": [n for n, r in results.items() if r["oracle"] == "rows-only"],
        "total_sec": round(sum(r.get("sec", 0) for r in results.values()), 1),
        # registered persistent RDDs after each query: the sweep's max and
        # the count the last query left
        "persistent_rdds": {
            "max": max(held, default=None),
            "final": held[-1] if held else None,
        },
        "queries": {n: {k: r[k] for k in ("oracle", "rows", "sec", "detail",
                                          "persistent_rdds") if k in r}
                    for n, r in results.items()},
    }
    with open(OUT, "w") as f:
        json.dump(summary, f, indent=1)
    print(f"DONE {n_ok}/{len(names)} ok -> {OUT}")
    spark.stop()


if __name__ == "__main__":
    main()
