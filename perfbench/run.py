#!/usr/bin/env python3
"""Benchmark of the melody_join_spark engine: two seeded workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The workload's inputs are generated from
``--seed`` and written as parquet during set-up; the engine only reads
those files.  One Spark session on ``local[4]`` (2 GB heap) serves one
client in a closed loop for ``--seconds``; every op reads a fresh path.
Outputs are checked after the timed loop.  The last line of stdout is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``).  The line before it holds the per-query timings, the
error rate and the host's busy and steal shares during the run.

The Python workers import the engine too, so the repository root is put
on ``PYTHONPATH`` before the JVM starts; everything the run writes goes
under ``.perfbench_work/`` in the repository root and is removed at the
end, except the traced run's span file in ``.perfbench_work/traces/``.
Before it exits, the run stops the JVM and waits until it and every
Python worker have ended, also when it fails or gets SIGTERM.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}

JOIN_PLAN = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
             "driver_gap_s", "executor_run_s", "python_udf_s", "python_plan_nodes")
JOIN_COUNTERS = ("candidates", "pruned_rubner", "pruned_projection", "pruned_dual",
                 "pruned_reduction", "pruned_indmin", "exact_evaluated",
                 "guest_replicas", "laesa_survivors")
KERNEL = ("cascade_cpu_s", "rubner_cpu_s", "projection_cpu_s", "dual_cpu_s",
          "indmin_cpu_s", "exact_cpu_s", "exact_lps", "us_per_exact_lp")
INDEX = ("probe_jobs", "probe_tasks", "probe_records_read", "probe_executor_run_s",
         "probe_driver_gap_s", "candidates_per_query")
DEDUP = ("jaccard_pairs_s", "dup_clusters_s", "pairs_out", "stages", "tasks",
         "shuffle_bytes", "driver_gap_s", "executor_run_s")
QUERIES = ("topk_s", "join_pivot_s", "index_build_s", "probe_s", "dedup_s")
BATCH = 8  # queries per index probe batch


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "B"
    if name == "us_per_exact_lp":
        return "us"
    if name == "exact_yield":
        return "ratio"
    return "count"


PER_LAYER = {
    **{f"session.{m}": "s" for m in ("start_s", "input_gen_s", "warmup_s")},
    **{f"query.{m}": "s" for m in QUERIES},
    **{f"emd_join_nd.{m}": _unit(m) for m in JOIN_PLAN + JOIN_COUNTERS + ("exact_yield",)},
    **{f"kernel.{m}": _unit(m) for m in KERNEL},
    **{f"emd_index.{m}": _unit(m) for m in INDEX},
    **{f"dedup.{m}": _unit(m) for m in DEDUP},
    "cache.rdds_left": "count",
    "cache.bytes_left": "B",
    "cache.peak_storage_bytes": "B",
    "trace.overhead_pct": "%",
}

# kernel replays per workload: (input, lattice, ground, theta)
REPLAYS = {
    "emd_selfjoin_probe": (("s3", "3d", "l2", 0.4), ("s2", "2d", "sqrt_l1", 0.5)),
    "near_dup_dedup": (),
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (tests use a small one)")
    return p.parse_args(argv)


def _environment(work: str, traced: bool) -> None:
    for d in ("spark-local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    # the heap is touched at start, so resident memory does not depend on
    # how far the collector happened to grow into it
    env["JAVA_TOOL_OPTIONS"] = (
        f"-XX:+AlwaysPreTouch -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    )
    env["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} pyspark-shell"
    )
    if traced:
        env["SPARK_GRAFT_EVENTLOG_DIR"] = os.path.join(work, "eventlog")
    else:
        env.pop("SPARK_GRAFT_EVENTLOG_DIR", None)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _replay(ctx, wl_name: str) -> dict[str, float]:
    out = {m: 0.0 for m in KERNEL}
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1",
               MKL_NUM_THREADS="1")
    for src, dims, ground, theta in REPLAYS[wl_name]:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "kernel_replay.py"), ctx.src[src],
             dims, ground, str(theta)],
            env=env, capture_output=True, text=True, timeout=120, check=True,
        )
        for k, v in json.loads(proc.stdout.strip().splitlines()[-1]).items():
            out[k] += v
    out["us_per_exact_lp"] = (
        1e6 * out["exact_cpu_s"] / out["exact_lps"] if out["exact_lps"] else 0.0
    )
    return out


JOIN_KINDS = ("join_grid", "topk", "join_pivot")


def per_layer(wl, units, setup: dict, split: dict, events) -> dict[str, float]:
    """Per-layer metrics of the traced units: each layer's numbers are
    summed over the unit's ops that call into it, then the median over the
    traced units is taken."""
    from tracing import attribute

    m = {k: 0.0 for k in PER_LAYER}
    for k in ("start_s", "input_gen_s", "warmup_s"):
        m[f"session.{k}"] = setup[k]
    m["query.index_build_s"] = setup.get("index_build_s", 0.0)
    traced = [u for u in units if u["traced"]]
    plain = [u for u in units if not u["traced"]]
    ops = [r for u in traced for r in u["ops"]]
    for kind in wl.kinds:
        m[f"query.{kind}_s"] = _median([r.seconds for r in ops if r.kind == kind])

    def layer(kinds) -> list[dict]:
        out = []
        for u in traced:
            agg: dict[str, float] = {}
            for r in u["ops"]:
                if r.kind not in kinds:
                    continue
                t = r.info["trace"]
                row = attribute(events, r.t0, r.t1)
                row["python_udf_s"] = t["udf_s"]
                row["python_plan_nodes"] = t["plan_nodes"]
                row.update(t["counters"])
                if r.kind in ("join_grid", "join_pivot"):
                    row["result_pairs"] = len(r.rows or ())
                    row["threshold_exact"] = t["counters"].get("exact_evaluated", 0)
                for k, v in row.items():
                    agg[k] = agg.get(k, 0) + v
            out.append(agg)
        return out

    def med(rows, key):
        return _median([a.get(key, 0) for a in rows])

    joins = layer(JOIN_KINDS)
    if any(k in wl.kinds for k in JOIN_KINDS):
        for k in JOIN_PLAN + JOIN_COUNTERS:
            m[f"emd_join_nd.{k}"] = med(joins, k)
        m["emd_join_nd.exact_yield"] = _median(
            [a["result_pairs"] / a["threshold_exact"] for a in joins
             if a.get("threshold_exact")]
        )
    if "probe" in wl.kinds:
        probes = layer(("probe",))
        for k in ("jobs", "tasks", "records_read", "executor_run_s", "driver_gap_s"):
            m[f"emd_index.probe_{k}"] = med(probes, k)
        m["emd_index.candidates_per_query"] = med(probes, "records_read") / BATCH
    if "dedup" in wl.kinds:
        dedup = layer(("dedup",))
        for k in ("stages", "tasks", "driver_gap_s", "executor_run_s"):
            m[f"dedup.{k}"] = med(dedup, k)
        m["dedup.shuffle_bytes"] = med(dedup, "shuffle_write_bytes")
        for k in ("jaccard_pairs_s", "dup_clusters_s", "pairs_out"):
            m[f"dedup.{k}"] = split[k]
    traces = [r.info["trace"] for r in ops]
    m["cache.rdds_left"] = max((t["rdds_left"] for t in traces), default=0)
    m["cache.bytes_left"] = max((t["bytes_left"] for t in traces), default=0)
    m["cache.peak_storage_bytes"] = max((t["storage_peak"] for t in traces), default=0)
    t_on = _median([u["seconds"] for u in traced])
    t_off = _median([u["seconds"] for u in plain])
    m["trace.overhead_pct"] = 100.0 * (t_on - t_off) / t_off if t_off else 0.0
    return m


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM and every
    Python worker it started have ended, so that nothing of this run is
    left to serve the next one."""
    import host
    from pyspark import SparkContext

    known = host.descendants()
    try:
        if spark is not None:
            spark.stop()
    except Exception as e:  # a signal can cut the gateway's connection
        print(f"perfbench: spark.stop() failed: {e!r}", file=sys.stderr)
    finally:
        gateway = SparkContext._gateway
        SparkContext._gateway = None
        SparkContext._jvm = None
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            proc = getattr(gateway, "proc", None)
            if proc is not None and proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        left = host.end_descendants(known)
        if left:
            print(f"perfbench: ended {len(left)} leftover processes by signal",
                  file=sys.stderr)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through run()'s clean-up


def run(args) -> int:
    if not (
        os.path.isfile(os.path.join(ROOT, "melody_join_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "scripts", "fixture_solver.py"))
    ):
        print(f"perfbench: the engine sources are not under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import host
    import workloads

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{wl.name}-{args.seed}-{os.getpid()}")
    _environment(work, traced)
    spark = None
    try:
        stat0 = host.cpu_stat()
        rss = host.RssSampler()
        t0 = time.time()
        p0 = time.perf_counter()
        from melody_join_spark.session import get_spark

        spark = get_spark(f"perfbench-{wl.name}")
        spark.sparkContext.setLogLevel("ERROR")
        setup = {"start_s": time.perf_counter() - p0}
        ctx = workloads.Ctx(spark, work, args.seed, args.scale)
        if traced:
            from tracing import Tracer

            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            ctx.tracer = Tracer(spark)
            ctx.tracer.add_span("session.get_spark", t0, time.time())
        setup["input_gen_s"] = workloads.write_inputs(ctx, wl)
        setup.update(wl.setup(ctx))
        setup_s = sum(setup.values())
        if traced:
            ctx.tracer.add_span("setup", t0, time.time())

        units = []
        loop_stat0 = host.cpu_stat()
        loop0 = time.perf_counter()
        rss.start()
        while True:
            # the traced run alternates plain and traced units, so the
            # recorders' cost is measured inside one session
            unit_traced = traced and ctx.units % 2 == 1
            ctx.units += 1
            ops = wl.unit(ctx, unit_traced)
            units.append({
                "traced": unit_traced,
                "ops": ops,
                "seconds": sum(r.seconds for r in ops),
                "cpu_s": sum(r.cpu_s for r in ops),
            })
            done = time.perf_counter() - loop0 >= args.seconds
            if done and len(units) >= max(wl.min_units, 2 if traced else 1):
                break
        rss.stop()
        loop_steal, loop_busy = host.pcts(loop_stat0, host.cpu_stat())
        results = [r for u in units for r in u["ops"]]
        c0 = time.perf_counter()
        failures = wl.check(ctx, ctx.warmups + results)
        check_s = time.perf_counter() - c0
        split = {}
        attempted = len(ctx.warmups) + len(results)
        if traced and hasattr(wl, "split"):
            split = wl.split(ctx)
            attempted += 1
            if split["error"]:
                failures[-1] = f"dedup split: {split['error']}"
        kernel = _replay(ctx, wl.name) if traced else {}
        _stop_spark(spark)
        spark = None
        steal, busy = host.pcts(stat0, host.cpu_stat())

        plain = [u for u in units if not u["traced"]]
        failed = len(failures)
        detail = {
            "workload": wl.name,
            "seed": args.seed,
            "trace": args.trace,
            "units": len(units),
            "ops": attempted,
            "error_rate": failed / attempted,
            "failures": sorted(failures.values())[:5],
            "check_s": round(check_s, 3),
            **{k: round(v, 4) for k, v in setup.items()},
            **wl.detail([r for u in plain for r in u["ops"]]),
            "host": {
                "nproc": os.cpu_count(),
                "busy_pct": busy, "steal_pct": steal,
                "loop_busy_pct": loop_busy, "loop_steal_pct": loop_steal,
            },
        }
        if traced:
            from tracing import read_event_log

            events = read_event_log(os.path.join(work, "eventlog"))
            values = per_layer(wl, units, setup, split, events)
            values.update({f"kernel.{k}": v for k, v in kernel.items()})
            names = PER_LAYER
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            ctx.tracer.dump(os.path.join(
                base, "traces", f"{wl.name}-{args.seed}-{os.getpid()}.json"))
        else:
            values = {
                "setup_s": setup_s,
                "op_p50_s": _median([u["seconds"] for u in plain]),
                "op_cpu_s": _median([u["cpu_s"] for u in plain]),
                "peak_rss_mb": rss.peak_mb,
            }
            names = END_TO_END
        detail["paths_read"] = len(ctx.reads)
        detail["paths_unique"] = len({p for _, p in ctx.reads}) == len(ctx.reads)
        print(json.dumps(detail, default=str))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in names.items()},
        }))
        return 0
    finally:
        try:
            _stop_spark(spark)  # also when the JVM started but no session did
        finally:
            shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _terminate)
    return run(parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
