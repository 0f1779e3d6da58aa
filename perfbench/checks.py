"""Independent output checks for the benchmark.

Nothing here imports ``graphlite_spark``: each reference is computed from the
method's stated semantics with numpy, pandas or DuckDB, on the same staged
parquet input the engine read.  None of it is timed.

* :func:`derive_reference` — the link graph of a transcript table
  (dense ids over (conv_id, turn_idx), reply edges to the next turn, tool
  edges from each assistant turn to the next tool turn), in DuckDB.
* :func:`pagerank_reference` — unnormalized PageRank ``0.15 + 0.85·Σ``,
  halting at superstep ≥ 2 when the previous global Σ|Δ| < eps, ending when
  no vertex is active and nothing was sent; numpy, vectorized.
* :func:`lpa_reference` — synchronous label propagation over the distinct
  undirected neighbours: adopt the most frequent neighbour label, smallest
  label on ties, keep the label without neighbours; pandas.
* :func:`triangles_reference` — triangles of the distinct undirected,
  self-loop-free closure, in DuckDB.
"""

from __future__ import annotations

from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd

#: relative tolerance for ranks: the engine sums messages in another order
RANK_RTOL = 1e-9


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


def _glob(path: str) -> str:
    return f"{path}/*.parquet"


def derive_reference(transcripts_path: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(vertices[id, conv_id, turn_idx], edges[src, dst, etype]) of the
    staged transcript parquet."""
    con = duckdb.connect()
    try:
        con.execute(
            f"""CREATE TABLE v AS
            SELECT row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS id,
                   conv_id, turn_idx, role, tool
            FROM read_parquet('{_glob(transcripts_path)}')"""
        )
        vertices = con.execute(
            "SELECT id, conv_id, turn_idx FROM v ORDER BY id"
        ).df()
        edges = con.execute(
            """
            SELECT src, dst, 'reply' AS etype FROM (
              SELECT id AS src,
                     lead(id) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS dst
              FROM v) WHERE dst IS NOT NULL
            UNION ALL
            SELECT src, dst, 'tool' AS etype FROM (
              SELECT id AS src, role,
                     min(CASE WHEN tool IS NOT NULL THEN id END) OVER (
                       PARTITION BY conv_id ORDER BY turn_idx
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS dst
              FROM v) WHERE role = 'assistant' AND dst IS NOT NULL
            """
        ).df()
    finally:
        con.close()
    return vertices, edges


def read_edges(edges_path: str) -> tuple[np.ndarray, np.ndarray]:
    con = duckdb.connect()
    try:
        df = con.execute(
            f"SELECT src, dst FROM read_parquet('{_glob(edges_path)}')"
        ).df()
    finally:
        con.close()
    return df["src"].to_numpy(np.int64), df["dst"].to_numpy(np.int64)


def pagerank_reference(
    n: int,
    src: np.ndarray,
    dst: np.ndarray,
    eps: float = 1e-6,
    max_supersteps: int = 200,
    fixed: int | None = None,
) -> tuple[np.ndarray, int, int]:
    """(ranks indexed by vertex id, supersteps executed, Σ sent)."""
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    share = np.zeros(n)
    val = np.ones(n)  # superstep 0: every vertex takes 1.0 and sends
    sent = len(src)
    last = fixed if fixed is not None else max_supersteps
    delta = 0.0  # the global Σ|Δ| merged from the previous superstep
    ss = 0
    for ss in range(1, last):
        if fixed is None and ss >= 2 and delta < eps:
            # every vertex votes to halt and sends nothing: act == 0, sent == 0
            return val, ss + 1, sent
        np.divide(val, out_deg, out=share, where=out_deg > 0)
        new = 0.15 + 0.85 * np.bincount(dst, weights=share[src], minlength=n)
        delta = float(np.abs(val - new).sum())
        val = new
        sent += len(src)
    return val, ss + 1, sent


def lpa_reference(n: int, src: np.ndarray, dst: np.ndarray, iterations: int) -> np.ndarray:
    """Labels indexed by vertex id after ``iterations`` synchronous rounds."""
    und = pd.DataFrame(
        {"a": np.concatenate([src, dst]), "b": np.concatenate([dst, src])}
    )
    und = und[und["a"] != und["b"]].drop_duplicates()
    a, b = und["a"].to_numpy(), und["b"].to_numpy()
    labels = np.arange(n, dtype=np.int64)
    for _ in range(iterations):
        counts = (
            pd.DataFrame({"v": b, "label": labels[a]})
            .groupby(["v", "label"], sort=False)
            .size()
            .reset_index(name="c")
            .sort_values(["v", "c", "label"], ascending=[True, False, True])
            .drop_duplicates("v")
        )
        new = labels.copy()
        new[counts["v"].to_numpy()] = counts["label"].to_numpy()
        labels = new
    return labels


def triangles_reference(edges_path: str) -> int:
    con = duckdb.connect()
    try:
        return int(
            con.execute(
                f"""
                WITH u AS MATERIALIZED (
                  SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
                  FROM read_parquet('{_glob(edges_path)}') WHERE src <> dst)
                SELECT count(*) FROM u e1
                JOIN u e2 ON e1.lo = e2.lo AND e1.hi < e2.hi
                JOIN u e3 ON e3.lo = e1.hi AND e3.hi = e2.hi
                """
            ).fetchone()[0]
        )
    finally:
        con.close()


# ---- comparisons -----------------------------------------------------------


def same_edges(name: str, got: pd.DataFrame, want: pd.DataFrame) -> Check:
    cols = ["src", "dst", "etype"]
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True)
    if len(g) != len(w):
        return Check(name, False, f"{len(g)} edges, reference has {len(w)}")
    bad = int((g != w).any(axis=1).sum())
    return Check(name, bad == 0, f"{bad} of {len(w)} edges differ")


def same_vertices(name: str, got: pd.DataFrame, want: pd.DataFrame) -> Check:
    cols = ["id", "conv_id", "turn_idx"]
    g = got[cols].sort_values("id").reset_index(drop=True)
    w = want[cols].reset_index(drop=True)
    if len(g) != len(w):
        return Check(name, False, f"{len(g)} vertices, reference has {len(w)}")
    bad = int((g.astype(str) != w.astype(str)).any(axis=1).sum())
    return Check(name, bad == 0, f"{bad} of {len(w)} vertices differ")


def close_values(name: str, ids: np.ndarray, values: np.ndarray, want: np.ndarray) -> Check:
    """``values[i]`` is the engine's value of vertex ``ids[i]``; ``want`` is
    indexed by vertex id and covers every vertex."""
    if len(ids) != len(want) or len(np.unique(ids)) != len(want):
        return Check(name, False, f"{len(ids)} rows for {len(want)} vertices")
    ref = want[ids]
    err = np.abs(values - ref) / np.maximum(np.abs(ref), 1.0)
    worst = float(err.max()) if len(err) else 0.0
    return Check(name, worst <= RANK_RTOL, f"max relative error {worst:.3g}")


def equal_values(name: str, ids: np.ndarray, values: np.ndarray, want: np.ndarray) -> Check:
    if len(ids) != len(want) or len(np.unique(ids)) != len(want):
        return Check(name, False, f"{len(ids)} rows for {len(want)} vertices")
    bad = int((values != want[ids]).sum())
    return Check(name, bad == 0, f"{bad} of {len(want)} values differ")


def equal(name: str, got, want) -> Check:
    return Check(name, got == want, f"got {got}, want {want}")


def components_per_conversation(
    name: str, comp: pd.DataFrame, vertices: pd.DataFrame
) -> Check:
    """Every conversation is one component, labelled by its smallest id."""
    j = vertices[["id", "conv_id"]].merge(comp, on="id", how="left")
    if len(comp) != len(vertices) or j["component"].isna().any():
        return Check(name, False, f"{len(comp)} labels for {len(vertices)} vertices")
    g = j.groupby("conv_id").agg(
        lo=("id", "min"), cmin=("component", "min"), cmax=("component", "max")
    )
    bad = int(((g["cmin"] != g["lo"]) | (g["cmax"] != g["lo"])).sum())
    n_comp = int(comp["component"].nunique())
    ok = bad == 0 and n_comp == len(g)
    return Check(name, ok, f"{bad} bad conversations, {n_comp} components, {len(g)} conversations")
