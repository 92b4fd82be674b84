"""Recorders for the traced run.

The timed run and the traced run execute the same op code; the only
difference is which recorder the ops receive.  ``NullRecorder`` does
nothing.  ``Tracer`` keeps spans (name, start, end, parent, op id) in
memory, passes ``JoinStats`` into the EMD operators, reads the block
manager's storage after each op and the per-UDF profiles of
``spark.sql.pyspark.udf.profiler=perf``.  Spark jobs, stages and tasks are
attributed to op windows afterwards, from the event log that
``melody_join_spark.session`` writes when ``SPARK_GRAFT_EVENTLOG_DIR`` is
set.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

# Python-boundary physical operators (the pandas/Arrow UDF exec nodes)
PY_NODES = (
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
)


class NullRecorder:
    def span(self, name: str):
        return contextlib.nullcontext()

    def join_stats(self):
        return None

    def result(self, df, rows) -> None:
        pass


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: dict | None = None
        self._op_span = None

    # -- op lifecycle --------------------------------------------------
    def add_span(self, name: str, start: float, end: float) -> None:
        """A set-up phase timed before the tracer existed."""
        self.spans.append(
            {"id": len(self.spans), "name": name, "parent": None, "op": None,
             "start": start, "end": end}
        )

    def begin_op(self, kind: str, op_id: int) -> None:
        self.spark.profile.clear(type="perf")
        self._op = {
            "id": op_id,
            "kind": kind,
            "join_stats": [],
            "plan_nodes": 0,
            "storage_peak": 0,
        }
        self.ops.append(self._op)
        self._op_span = self._open(f"op.{kind}")

    def end_op(self, t0: float, t1: float) -> dict:
        self._close(self._op_span)
        op = self._op
        op["t0"], op["t1"] = t0, t1
        op["udf_s"] = _udf_seconds(self.spark)
        rdds, nbytes = storage(self.spark)
        op["rdds_left"], op["bytes_left"] = rdds, nbytes
        op["storage_peak"] = max(op["storage_peak"], nbytes)
        op["counters"] = _merge_stats(op.pop("join_stats"))
        self._op = None
        return op

    # -- hooks the ops call -------------------------------------------
    def _open(self, name: str) -> dict:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self._op["id"] if self._op else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        return rec

    def _close(self, rec: dict) -> None:
        self._stack.pop()
        rec["end"] = time.time()

    @contextlib.contextmanager
    def span(self, name: str):
        rec = self._open(name)
        try:
            yield
        finally:
            self._close(rec)

    def join_stats(self):
        from melody_join_spark.operators.emd_join_nd import JoinStats

        st = JoinStats(self.spark.sparkContext)
        self._op["join_stats"].append(st)
        return st

    def result(self, df, rows) -> None:
        """Called with the op's DataFrame right after it was collected."""
        plan = df._jdf.queryExecution().executedPlan().toString()
        self._op["plan_nodes"] += sum(plan.count(n) for n in PY_NODES)
        self._op["storage_peak"] = max(
            self._op["storage_peak"], storage(self.spark)[1]
        )

    def dump(self, path: str) -> None:
        """Write the spans, the per-op records and each span name's total
        self time."""
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "ops": self.ops,
                 "self_s": self_times(self.spans)},
                f,
            )


def storage(spark) -> tuple[int, int]:
    """(persisted RDDs, their memory + disk bytes) still registered."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def _udf_seconds(spark) -> float:
    stats = spark.profile.profiler_collector._perf_profile_results
    return float(sum(s.total_tt for s in stats.values()))


def _merge_stats(stats: list) -> dict[str, int]:
    out: dict[str, int] = {}
    for st in stats:
        for k, v in st.snapshot().items():
            out[k] = out.get(k, 0) + int(v)
    return out


# ---------------------------------------------------------------------------
# event-log attribution
# ---------------------------------------------------------------------------


def _part(path: str) -> tuple[str, int]:
    # rolling logs: <dir>/events_<n>_<app id>, read in <n> order
    head, name = os.path.split(path)
    n = name.split("_")[1] if name.startswith("events_") else "0"
    return head, int(n) if n.isdigit() else 0


def read_event_log(evdir: str) -> list[dict]:
    events = []
    paths = glob.glob(os.path.join(evdir, "**", "*"), recursive=True)
    for path in sorted((p for p in paths if os.path.isfile(p)), key=_part):
        if os.path.basename(path).startswith("appstatus_"):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def attribute(events: list[dict], t0: float, t1: float) -> dict[str, float]:
    """Jobs, stages, tasks, shuffle bytes, executor run time and driver gap
    of the wall window ``[t0, t1]`` (seconds since the epoch)."""
    lo, hi = t0 * 1000.0, t1 * 1000.0
    out = {
        "jobs": 0, "stages": 0, "tasks": 0, "records_read": 0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
        "executor_run_s": 0.0,
    }
    intervals = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if lo <= ev.get("Submission Time", -1) <= hi:
                out["jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            s, e = info.get("Submission Time"), info.get("Completion Time")
            if s is not None and e is not None and lo <= s <= hi:
                out["stages"] += 1
                intervals.append((max(s, lo), min(e, hi)))
        elif kind == "SparkListenerTaskEnd":
            ti = ev["Task Info"]
            if not lo <= ti["Launch Time"] <= hi:
                continue
            out["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics", {})
            out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            out["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            out["records_read"] += m.get("Input Metrics", {}).get("Records Read", 0)
    covered = 0.0
    end = lo
    for s, e in sorted(intervals):
        if e > end:
            covered += e - max(s, end)
            end = e
    out["driver_gap_s"] = max(0.0, (hi - lo - covered) / 1000.0)
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: duration minus what children cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    out: dict[str, float] = {}
    for s in spans:
        own = s["end"] - s["start"] - child.get(s["id"], 0.0)
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
