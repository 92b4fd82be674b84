"""In-process replay of the EMD kernel on a workload's own table.

Run as a child process (so BLAS can be pinned to one thread before numpy
loads) by the traced run:

    python3 perfbench/kernel_replay.py <table.parquet> <3d|2d> <l2|sqrt_l1> <theta>

Over all pairs of the table it times, in process CPU seconds, the public
``EmdCascade.run`` once as a whole, then each bound function and
``emd_exact_pairs`` in cascade order on the previous stage's survivors,
under the join's default config.  Prints one JSON object.
"""

from __future__ import annotations

import json
import sys
import time

import numpy as np
import pyarrow.parquet as pq


def replay(path: str, dims: str, ground: str, theta: float) -> dict:
    from melody_join_spark.kernel import (
        CascadeStats,
        EmdCascade,
        dual_bound_pairs,
        emd_exact_pairs,
        indmin_bound_pairs,
        projection_bound_pairs,
        rubner_bound,
    )
    from melody_join_spark.operators.emd_join_nd import build_config
    from melody_join_spark.plans.tpch_bridge import bin_points_2d, bin_points_3d

    t = pq.read_table(path)
    w = np.stack(t.column("w").to_numpy(zero_copy_only=False)).astype(float)
    w /= w.sum(axis=1, keepdims=True)
    pts = bin_points_3d() if dims == "3d" else bin_points_2d()
    if ground == "sqrt_l1":
        g = np.sqrt(np.abs(pts[:, None, :] - pts[None, :, :]).sum(axis=2))
    else:
        g = ground
    cfg = build_config(pts, seed_weights=w[:8], ground=g)
    li, ri = np.triu_indices(len(w), 1)

    def cascade():
        return EmdCascade(
            weights=w, cost=cfg.cost, bin_points=cfg.bin_points,
            proj_positions=cfg.proj_positions, duals=cfg.duals,
            reductions=cfg.reductions, rubner_ord=cfg.rubner_ord,
            metric_cost=cfg.metric_cost,
        )

    out = {}
    st = CascadeStats()
    c0 = time.process_time()
    cascade().run(li, ri, theta, stats=st)
    out["cascade_cpu_s"] = time.process_time() - c0

    thr = theta + cfg.slack
    c = cascade()
    stages = []
    if cfg.rubner_ord is not None:
        stages.append(("rubner", lambda a, b: rubner_bound(c.cents[a], c.cents[b], ord=cfg.rubner_ord)))
    for pos in cfg.proj_positions:
        stages.append(("projection", lambda a, b, p=pos: projection_bound_pairs(w, p, a, b)))
    for key, ckey in c.dual_keys:
        stages.append(("dual", lambda a, b, k=key, ck=ckey: dual_bound_pairs(k, ck, a, b)))
    if cfg.is_metric():
        stages.append(("indmin", lambda a, b: indmin_bound_pairs(w, cfg.cost, a, b)))
    for name in ("rubner", "projection", "dual", "indmin"):
        out[f"{name}_cpu_s"] = 0.0
    for name, fn in stages:
        c0 = time.process_time()
        keep = fn(li, ri) <= thr
        out[f"{name}_cpu_s"] += time.process_time() - c0
        li, ri = li[keep], ri[keep]
    c0 = time.process_time()
    emd_exact_pairs(w, cfg.cost, li, ri)
    out["exact_cpu_s"] = time.process_time() - c0
    out["exact_lps"] = int(li.size)
    return out


if __name__ == "__main__":
    p, dims, ground, theta = sys.argv[1:5]
    print(json.dumps(replay(p, dims, ground, float(theta))))
