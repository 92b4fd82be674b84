"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The smoke tests start Spark and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "scripts")]

import checks  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


# -- inputs ------------------------------------------------------------------


def _write(tmp_path, name: str, seed: int) -> dict[str, bytes]:
    ctx = workloads.Ctx(None, str(tmp_path / f"{name}-{seed}"), seed, 0.25)
    workloads.write_inputs(ctx, workloads.WORKLOADS[name])
    out = {}
    for key, path in ctx.src.items():
        with open(path, "rb") as f:
            out[key] = f.read()
    return out


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_gives_byte_identical_inputs(tmp_path, name):
    a = _write(tmp_path / "a", name, 5)
    b = _write(tmp_path / "b", name, 5)
    c = _write(tmp_path / "c", name, 6)
    assert a == b
    assert a != c


def test_generated_shapes():
    import gen

    t = gen.sparse_histograms(3, 2000, gen.BINS_3D)
    w = np.stack(t.column("w").to_numpy(zero_copy_only=False))
    assert 2.5 < (w > 0).sum(axis=1).mean() < 3.8  # support about 3
    dup = 1 - len(np.unique(w, axis=0)) / len(w)
    assert 0.15 < dup < 0.4  # about a quarter duplicate rows
    docs = gen.documents(3, 300)
    words = [len(s.split()) for s in docs.column("text").to_pylist()]
    assert min(words) >= gen.WORDS_MIN and max(words) <= gen.WORDS_MAX


# -- contract ----------------------------------------------------------------


def test_metric_names_match_benchmark_json():
    spec = _bench_json()
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert layers == run.PER_LAYER


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", "near_dup_dedup", "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


# -- checks have teeth -------------------------------------------------------


def _toy():
    import gen

    t = gen.sparse_histograms(9, 120, gen.BINS_3D)
    from melody_join_spark.plans.tpch_bridge import bin_points_3d

    pts = bin_points_3d()
    w = checks.weights(t)
    solver = checks.PairSolver(w, checks.l2_cost(pts))
    lb = checks.rubner_l2(w, pts)
    theta = 0.4
    pairs = []
    for i in range(len(w)):
        for j in np.flatnonzero(lb(i) <= theta + 1e-3):
            j = int(j)
            if j > i:
                e = solver.emd(i, j)
                if e <= theta:
                    pairs.append((i, j, round(e, 6)))
    return solver, lb, theta, sorted(pairs)


def test_threshold_check_accepts_truth_and_rejects_faults():
    solver, lb, theta, pairs = _toy()
    sample = np.arange(len(solver.w))
    assert pairs and checks.threshold_pairs(pairs, solver, theta, lb, sample) is None
    wrong = [(a, b, e + 0.01) for a, b, e in pairs[:1]] + pairs[1:]
    assert checks.threshold_pairs(wrong, solver, theta, lb, sample)
    inside = [p for p in pairs if p[2] < theta - 1e-3]
    missing = [p for p in pairs if p != inside[0]]
    assert checks.threshold_pairs(missing, solver, theta, lb, sample)


def test_topk_check_uses_emd_then_ids():
    _, _, theta, pairs = _toy()
    k = 5
    ranked = sorted(pairs, key=lambda p: (p[2], p[0], p[1]))[:k]
    rows = [(i + 1, *p) for i, p in enumerate(ranked)]
    assert checks.topk_from_threshold(rows, pairs, k, theta) is None
    swapped = [rows[1][:1] + rows[0][1:], rows[0][:1] + rows[1][1:]] + rows[2:]
    if ranked[0] != ranked[1]:
        assert checks.topk_from_threshold(swapped, pairs, k, theta)


def test_fresh_paths_are_new_links_of_the_same_bytes(tmp_path):
    ctx = workloads.Ctx(None, str(tmp_path), 1, 1.0)
    src = tmp_path / "x.parquet"
    src.write_bytes(b"abc")
    d = tmp_path / "tree"
    (d / "sub").mkdir(parents=True)
    (d / "sub" / "f").write_bytes(b"def")
    paths = [ctx.fresh(str(src)) for _ in range(3)] + [ctx.fresh(str(d)) for _ in range(2)]
    assert len(set(paths)) == len(paths)
    assert (tmp_path / "in" / "1" / "part-0.parquet").read_bytes() == b"abc"
    assert (tmp_path / "in" / "5" / "sub" / "f").read_bytes() == b"def"


# -- end to end --------------------------------------------------------------


def _leftovers() -> list[int]:
    """Processes still running with a benchmark run's Spark environment:
    the JVM and its Python workers inherit ``SPARK_LOCAL_DIRS``."""
    mark = f"SPARK_LOCAL_DIRS={os.path.join(ROOT, '.perfbench_work')}".encode()
    out = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                env = f.read()
        except OSError:
            continue
        if name.isdigit() and mark in env:
            out.append(int(name))
    return out


def _result(p: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert p.returncode == 0, p.stderr[-3000:]
    # the run waited for the JVM and the workers it started to end
    assert _leftovers() == []
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_smoke_run_is_correct(name):
    detail, res = _result(_run("--workload", name, "--seed", "3", "--seconds", "1",
                               "--trace", "0", "--scale", "0.5"))
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert detail["error_rate"] == 0
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())
    # no op read a path that another op (or the set-up) had read
    assert detail["paths_unique"] and detail["paths_read"] > detail["ops"]


def test_traced_smoke_run_reports_every_layer():
    detail, res = _result(_run("--workload", "emd_selfjoin_probe", "--seed", "3",
                               "--seconds", "1", "--trace", "1", "--scale", "0.5"))
    assert res["correct"] and detail["error_rate"] == 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == run.PER_LAYER
    v = {k: x["value"] for k, x in res["metrics"].items()}
    for k in ("emd_join_nd.jobs", "emd_join_nd.candidates", "emd_join_nd.exact_evaluated",
              "kernel.exact_lps", "emd_index.probe_jobs", "query.probe_s"):
        assert v[k] > 0, k
