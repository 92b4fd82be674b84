"""Output checks, run after the timed loop.

Every EMD the engine reports is recomputed with the repository's
independent successive-shortest-path solver (``scripts/fixture_solver.py``,
a different algorithm from the engine's transportation simplex), and
completeness is checked by brute force over a seeded row sample, using
only lower bounds proven here (no engine code).  Dedup output is checked
against the DuckDB oracle SQL.  The first output of each kind (for each
content) that passes becomes the reference: later ops on the same content
must produce the same digest.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

SLACK = 1e-4  # the engine's documented output slack (EMD <= theta + slack)
TOL = 2e-6  # engine EMD is rounded to 6 dp before comparing


def digest(rows) -> str:
    return hashlib.sha1(repr(rows).encode()).hexdigest()


def weights(table) -> np.ndarray:
    """Row-normalized (N, B) weights, row i = id i."""
    ids = np.asarray(table.column("id").to_pylist())
    w = np.stack(table.column("w").to_numpy(zero_copy_only=False)).astype(float)
    out = np.empty_like(w)
    out[ids] = w / w.sum(axis=1, keepdims=True)
    return out


def l2_cost(pts: np.ndarray) -> np.ndarray:
    return np.sqrt(((pts[:, None, :] - pts[None, :, :]) ** 2).sum(axis=2))


def rubner_l2(w: np.ndarray, pts: np.ndarray):
    """Centroid distance: a lower bound of EMD under the L2 ground."""
    c = w @ pts
    return lambda r: np.linalg.norm(c - c[r], axis=1)


def sqrt_l1_lower(w: np.ndarray, pts: np.ndarray):
    """Lower bound of EMD under the sqrt(L1) ground on a lattice whose L1
    distances lie in [0, L]: sqrt(t) >= t / sqrt(L) there, so the EMD is at
    least EMD_L1 / sqrt(L) >= ||centroid_a - centroid_b||_1 / sqrt(L)."""
    c = w @ pts
    lmax = float(np.abs(pts[:, None, :] - pts[None, :, :]).sum(axis=2).max())
    return lambda r: np.abs(c - c[r]).sum(axis=1) / np.sqrt(lmax)


class PairSolver:
    """Exact EMD by successive shortest paths, one solve per distinct pair
    of distinct histograms."""

    def __init__(self, w: np.ndarray, cost: np.ndarray):
        from fixture_solver import ssp_emd

        self._ssp = ssp_emd
        self.w = w
        self.cost = cost
        _, self.group = np.unique(w, axis=0, return_inverse=True)
        self.group = self.group.ravel()
        self._memo: dict[tuple[int, int], float] = {}

    def emd(self, i: int, j: int) -> float:
        gi, gj = int(self.group[i]), int(self.group[j])
        if gi == gj:
            return 0.0
        key = (min(gi, gj), max(gi, gj))
        v = self._memo.get(key)
        if v is None:
            v = self._memo[key] = self._ssp(self.w[i], self.w[j], self.cost)
        return v


def _bad_pair(solver: PairSolver, a: int, b: int, e: float, theta: float):
    ref = solver.emd(a, b)
    if abs(ref - e) > TOL:
        return f"pair ({a},{b}) emd {e} != solver {ref:.7f}"
    if ref > theta + SLACK + TOL:
        return f"pair ({a},{b}) emd {ref:.7f} above threshold {theta}"
    return None


def _missing(solver, r: int, lb, theta: float, found: set, pair) -> str | None:
    for s in np.flatnonzero(lb(r) <= theta + SLACK + TOL):
        s = int(s)
        if s != r and solver.emd(r, s) <= theta - TOL and pair(r, s) not in found:
            return f"missing pair {pair(r, s)} (emd {solver.emd(r, s):.6f})"
    return None


def threshold_pairs(rows, solver, theta, lb, sample) -> str | None:
    """Self-join pairs ``(rid, sid, emd)``: rid < sid, no duplicates, every
    emd recomputed, and every pair of a sampled row that lies clearly
    inside the threshold present."""
    found = set()
    for rid, sid, e in rows:
        if rid >= sid or (rid, sid) in found:
            return f"pair ({rid},{sid}) out of order or repeated"
        found.add((rid, sid))
        bad = _bad_pair(solver, rid, sid, e, theta)
        if bad:
            return bad
    for r in sample:
        bad = _missing(
            solver, int(r), lb, theta, found, lambda a, b: (min(a, b), max(a, b))
        )
        if bad:
            return bad
    return None


def topk_from_threshold(rows, grid_rows, k: int, theta: float) -> str | None:
    """The top-k must equal the k smallest verified threshold pairs, by
    (emd rounded to 6 dp, rid, sid)."""
    ranked = sorted(grid_rows, key=lambda p: (p[2], p[0], p[1]))[:k]
    if len(ranked) < k or ranked[-1][2] >= theta - TOL:
        return "threshold join does not cover the top-k; cannot check it"
    if [r[0] for r in rows] != list(range(1, k + 1)):
        return f"top-k ranks {[r[0] for r in rows]} are not 1..{k}"
    got = [r[1:] for r in rows]
    if got != ranked:
        return f"top-k {got[:3]}... != expected {ranked[:3]}..."
    return None


def probe_batch(rows, qids, solver, theta, lb) -> str | None:
    """Range-search output ``(qid, nid, emd)`` for one batch: every emd
    recomputed, and for every query every row clearly inside the threshold
    present (id-equal matches excluded)."""
    qset = set(qids)
    found = set()
    for q, n, e in rows:
        if q not in qset or q == n or (q, n) in found:
            return f"row ({q},{n}) not a query, a self match or repeated"
        found.add((q, n))
        bad = _bad_pair(solver, q, n, e, theta)
        if bad:
            return bad
    for q in qids:
        bad = _missing(solver, int(q), lb, theta, found, lambda a, b: (a, b))
        if bad:
            return bad
    return None


class DedupOracle:
    """DuckDB evaluation of ``jaccard_pairs_oracle_sql`` and
    ``dup_clusters_oracle_sql`` over the workload's document file."""

    def __init__(self, docs_path: str, work: str, theta: float, ngram: int):
        import duckdb

        from melody_join_spark.operators.dedup import (
            dup_clusters_oracle_sql,
            jaccard_pairs_oracle_sql,
        )

        tmp = os.path.join(work, "duckdb-tmp")
        os.makedirs(tmp, exist_ok=True)
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory = '{tmp}'")
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_path}')"
            )
            con.execute(
                "CREATE TABLE jp AS "
                + jaccard_pairs_oracle_sql(theta, ngram=ngram)
            )
            self.pairs = sorted(
                (int(a), int(b), round(float(j), 6))
                for a, b, j in con.execute("SELECT rid, sid, jaccard FROM jp").fetchall()
            )
            self.clusters = sorted(
                (int(a), int(b))
                for a, b in con.execute(
                    dup_clusters_oracle_sql(
                        "SELECT rid, sid FROM jp", "SELECT doc_id AS id FROM documents"
                    )
                ).fetchall()
            )
        finally:
            con.close()

    def check_clusters(self, rows) -> str | None:
        if rows != self.clusters:
            diff = set(rows) ^ set(self.clusters)
            return f"clusters differ from the DuckDB oracle at {sorted(diff)[:3]}"
        return None

    def check_pairs(self, rows) -> str | None:
        if rows != self.pairs:
            diff = set(rows) ^ set(self.pairs)
            return f"pairs differ from the DuckDB oracle at {sorted(diff)[:3]}"
        return None


def by_reference(ctx, results, verify, key=lambda r: r.kind) -> dict[int, str]:
    """Fully verify the first output of each key; later outputs of the same
    key must match its digest.  Returns op id -> failure."""
    failures: dict[int, str] = {}
    for r in results:
        if r.error:
            failures[r.op_id] = r.error
            continue
        k = key(r)
        d = digest(r.rows)
        ref = ctx.reference.get(k)
        if ref is not None:
            if d != ref:
                failures[r.op_id] = f"{r.kind} output digest differs from the reference"
            continue
        bad = verify(r)
        if bad:
            failures[r.op_id] = f"{r.kind}: {bad}"
        else:
            ctx.reference[k] = d
            ctx.verified.setdefault(r.kind, r.rows)
    return failures


def tail(sorted_ts: list[float]) -> tuple[float | None, float | None]:
    """Highest percentile that still has at least ten samples beyond it."""
    n = len(sorted_ts)
    if n < 11:
        return None, None
    return sorted_ts[n - 11], round(100.0 * (n - 10) / n, 1)
