#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Bench hygiene (round-2 VERDICT item 7): this host shows 10x CPU swings from
noisy neighbors, so single-shot wall-clock is not evidence.  The harness
runs the whole query list until $SPARK_GRAFT_BENCH_RUNS runs with whole-run
steal <= $SPARK_GRAFT_BENCH_STEAL_MAX (default 3 clean runs at <=0.5% —
contended runs don't count toward the target but still feed the min), up to
2*n+2 total runs — extended to 2*(2n+2) while budget remains and the clean
target is unmet — or $SPARK_GRAFT_BENCH_BUDGET seconds (default 3000, a
runaway backstop).  If the target is still unmet the artifact carries
clean_shortfall: true.  Reports each query's MIN across all runs as the
headline number (the least-contended observation), and carries the per-run
arrays plus per-run host busy/steal so regressions can be called on
min-of-n with the contention context attached.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time


def _cpu_stat() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _pcts(stat0: list[int], stat1: list[int]) -> tuple[float | None, float]:
    d = [b - a for a, b in zip(stat0, stat1)]
    tot = sum(d) or 1
    steal = round(100.0 * d[7] / tot, 2) if len(d) > 7 else None
    busy = round(100.0 * (tot - d[3]) / tot, 2)
    return steal, busy


def _rdd_storage(spark) -> list[int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return [len(infos), sum(int(i.memSize()) + int(i.diskSize()) for i in infos)]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

    from melody_join_spark.session import get_spark

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    if only:
        keep = {s.strip() for s in only.split(",") if s.strip()}
        qs = {k: v for k, v in qs.items() if k in keep}
    runs: dict[str, list[float]] = {name: [] for name in qs}
    busy_per_run: list[float] = []
    steal_per_run: list[float | None] = []
    # per-query host-busy + wall timestamps (round-5 VERDICT wrong #2):
    # whole-run busy averages hide which queries absorbed a load spike, so
    # every (query, run) carries its own contention context and cross-round
    # tables become interpretable without re-running
    query_busy: dict[str, list[float]] = {name: [] for name in qs}
    query_t0: dict[str, list[float]] = {name: [] for name in qs}
    # [RDDs holding blocks, bytes stored] after each query's release: the
    # proof that storage does not grow across a pass
    rdd_storage: dict[str, list[list[int]]] = {name: [] for name in qs}
    # Contention-aware stopping (round-8 VERDICT next #1): the old fixed
    # 1000-s budget truncated a contended round to min-of-2, defeating the
    # exact defense min-of-n exists for.  Now a run only counts as CLEAN
    # when its whole-run steal is at or below $SPARK_GRAFT_BENCH_STEAL_MAX
    # (default 0.5% — quiet rounds measure 0.05-0.15%, the contaminated r8
    # host 1.7-2.5%), and the harness keeps running until it has n_runs
    # clean runs, up to a hard cap of 2*n_runs+2 total runs or the budget
    # (default raised to 3000 s ~ 6x a quiet full pass, so the budget is a
    # runaway backstop, not the binding constraint).  Contended runs still
    # feed min-of-n — contention only ever inflates walls, so extra
    # observations can't corrupt the min — they just don't satisfy the
    # stopping rule.
    budget = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "3000"))
    steal_max = float(os.environ.get("SPARK_GRAFT_BENCH_STEAL_MAX", "0.5"))
    # Round-9 amendment: the old 2n+2 run cap bound BEFORE the budget on
    # the r9 driver host (8 runs, only 2 clean, minutes of budget left), so
    # while budget remains and the clean target is unmet the cap extends to
    # a 2x-higher runaway ceiling; if even that (or the budget) runs out
    # short of the target, the artifact says so explicitly
    # (clean_shortfall: true) instead of looking like a met protocol.
    max_runs = 2 * n_runs + 2
    hard_cap = 2 * max_runs
    clean_runs = 0
    t_start = time.time()
    r = -1
    while True:
        r += 1
        if clean_runs >= n_runs:
            break
        if r >= hard_cap:
            print(f"# bench run cap after {r} runs ({clean_runs} clean)",
                  file=sys.stderr)
            break
        if r == max_runs:  # notice once, not once per extended run
            print(f"# extending past the {max_runs}-run cap "
                  f"(only {clean_runs}/{n_runs} clean, budget remains)",
                  file=sys.stderr)
        if r > 0 and time.time() - t_start > budget:
            print(f"# bench budget spent after {r} runs "
                  f"({clean_runs} clean)", file=sys.stderr)
            break
        stat0 = _cpu_stat()
        for name, fn in qs.items():
            qstat0 = _cpu_stat()
            t0 = time.time()
            df = fn(spark, sf_dir)
            n = df.count()
            dt = time.time() - t0
            runs[name].append(round(dt, 3))
            _, qbusy = _pcts(qstat0, _cpu_stat())
            query_busy[name].append(qbusy)
            query_t0[name].append(round(t0, 1))
            print(f"# run{r} {name}: {n} rows in {dt:.2f}s (busy {qbusy}%)",
                  file=sys.stderr, flush=True)
            # release query N's intermediates before query N+1 (outside any
            # timed window): clearCache drops persisted frames; operators
            # hold the rest as local checkpoints, which the ContextCleaner
            # frees once python GC has dropped the DataFrame handles and a
            # JVM GC has collected the RDDs
            del df
            spark.catalog.clearCache()
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            rdd_storage[name].append(_rdd_storage(spark))
        steal, busy = _pcts(stat0, _cpu_stat())
        busy_per_run.append(busy)
        steal_per_run.append(steal)
        if steal is None or steal <= steal_max:
            clean_runs += 1
        else:
            print(f"# run{r} contended (steal {steal}% > {steal_max}%): "
                  "does not count toward the clean-run target",
                  file=sys.stderr, flush=True)

    timings = {name: min(ts) for name, ts in runs.items() if ts}
    total = round(sum(timings.values()), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Emission order matters (round-6 VERDICT wrong #1): the driver records
    # only the TAIL of this process's output, and in round 6 the diagnostic
    # dicts printed after the headline pushed the per-query walls out of the
    # recorded artifact.  So: the full record (runs arrays, per-query host
    # busy, start timestamps) prints FIRST, and a compact headline line —
    # per-query min walls + total — prints LAST, with `queries`/`value` as
    # its final keys, so any truncation eats diagnostics, never the walls.
    print(
        json.dumps(
            {
                "metric": "headline_queries_full_record",
                "unit": "sec",
                "sf": sf_val,
                "n_runs": len(busy_per_run),
                "clean_runs": clean_runs,
                "clean_shortfall": clean_runs < n_runs,
                "steal_max_pct": steal_max,
                "runs": runs,
                "query_host_busy": query_busy,
                "query_t_start": query_t0,
                "query_rdd_storage": rdd_storage,
                "host_busy_per_run": busy_per_run,
                "host_steal_per_run": steal_per_run,
                # back-compat aggregate context
                "host_steal_pct": steal_per_run[-1],
                "host_busy_pct": round(sum(busy_per_run) / len(busy_per_run), 2),
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "unit": "sec",
                "sf": sf_val,
                "n_runs": len(busy_per_run),
                "clean_runs": clean_runs,
                "clean_shortfall": clean_runs < n_runs,
                "steal_max_pct": steal_max,
                "host_busy_per_run": busy_per_run,
                "host_steal_per_run": steal_per_run,
                # 4 decimals: sub-second A/B ratios computed from the
                # recorded headline lost ~1% at 2 (round-7 ADVICE); the
                # full-precision per-run arrays stay in the first record
                "queries": {k: round(v, 4) for k, v in timings.items()},
                "value": total,  # sum of per-query min across runs
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
