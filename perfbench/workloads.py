"""The workloads: inputs, set-up, the timed unit of work, and checks.

Each workload is driven as a closed loop with one client: the next unit
starts when the previous one has returned its collected result.  Every op
reads its input from a fresh path (a hard link of the set-up file under a
new directory), so no op can be served by state an earlier op left behind
for the same path.

Every Spark op here costs several seconds however small its input, and each
run pays a session start and a cold-JVM warm-up, so the index lookups run
inside the self-join workload's round instead of in a workload of their
own: a third workload would not fit the benchmark's time budget.  For the
same reason the grid threshold join runs once per run, as the warm-up: the
timed top-k runs its whole plan.  Outputs of warm-up ops that the checks
use are checked like the timed ones.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import checks
import gen
from host import tree_cpu_s

THETA_GRID = 0.4
TOPK = 30
THETA_PIVOT = 0.5
THETA_PROBE = 0.4
INDEX_GRID = 5  # the join's auto grid for 800 rows at d=3: round(800 ** (1/4))
BATCH = 8
JACCARD_THETA = 0.8
NGRAM = 5


@dataclass
class OpResult:
    kind: str
    seconds: float
    cpu_s: float
    rows: list | None
    error: str | None
    op_id: int
    t0: float = 0.0
    t1: float = 0.0
    info: dict = field(default_factory=dict)


class Ctx:
    """Per-run state shared by a workload's ops."""

    def __init__(self, spark, work: str, seed: int, scale: float):
        from tracing import NullRecorder

        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self._null = NullRecorder()
        self.rec = self._null  # what the op in flight records into
        self.tracer = None  # a tracing.Tracer in the traced run
        self.tables: dict = {}  # input name -> pyarrow table
        self.src: dict = {}  # input name -> parquet file written in set-up
        self.index_dir = ""
        self.oracle = None  # checks.DedupOracle, built by the dedup check
        self.units = 0  # units of work started so far
        self.warmups: list[OpResult] = []  # set-up ops whose output is checked
        self.reads: list[tuple[int | None, str]] = []  # (op id, path read)
        self.reference: dict = {}  # check key -> digest of verified output
        self.verified: dict = {}  # op kind -> first verified output
        self.op_id: int | None = None  # None outside an op
        self._ops = 0
        self._n = 0
        os.makedirs(os.path.join(work, "in"), exist_ok=True)

    def size(self, n: int) -> int:
        return max(16, int(round(n * self.scale)))

    def fresh(self, src: str) -> str:
        """Hard-link ``src`` (a file or a directory tree) under a new path."""
        self._n += 1
        dst = os.path.join(self.work, "in", str(self._n))
        if os.path.isdir(src):
            shutil.copytree(src, dst, copy_function=os.link)
        else:
            os.makedirs(dst)
            os.link(src, os.path.join(dst, "part-0.parquet"))
        self.reads.append((self.op_id, dst))
        return dst

    def read_parquet(self, src: str):
        return self.spark.read.parquet(self.fresh(src))

    def run_op(self, kind: str, fn, traced: bool = False) -> OpResult:
        self.op_id = self._ops
        self._ops += 1
        if traced:
            self.rec = self.tracer
            self.tracer.begin_op(kind, self.op_id)
        c0 = tree_cpu_s()
        t0 = time.time()
        p0 = time.perf_counter()
        err = None
        rows = None
        try:
            rows = fn(self)
        except Exception as e:  # an op that fails is counted, not fatal
            traceback.print_exc()
            err = f"{type(e).__name__}: {e}"[:500]
        dt = time.perf_counter() - p0
        t1 = time.time()
        cpu = tree_cpu_s() - c0
        res = OpResult(kind, dt, cpu, rows, err, self.op_id, t0, t1)
        if traced:
            res.info["trace"] = self.tracer.end_op(t0, t1)
            self.rec = self._null
        self.op_id = None
        return res


def _pairs(rows, a: str, b: str, v: str) -> list[tuple]:
    return sorted((int(r[a]), int(r[b]), round(float(r[v]), 6)) for r in rows)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _must(r: OpResult) -> None:
    if r.error:
        raise RuntimeError(f"warm-up {r.kind} failed: {r.error}")
    print(f"# warm-up {r.kind}: {r.seconds:.2f} s", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# emd_selfjoin_probe
# ---------------------------------------------------------------------------


def _sqrt_l1(pts: np.ndarray) -> np.ndarray:
    return np.sqrt(np.abs(pts[:, None, :] - pts[None, :, :]).sum(axis=2))


class EmdSelfJoinProbe:
    """A round of two self-joins and one index lookup: the top-k on the
    27-bin 3-d table, the pivot threshold join under a sqrt-L1 cost matrix
    on the 16-bin 2-d table, then one batch of eight seeded query ids
    against the grid index built on the 3-d table during set-up.  The grid
    threshold join on the 3-d table is the set-up's warm-up."""

    name = "emd_selfjoin_probe"
    kinds = ("topk", "join_pivot", "probe")
    N3, N2 = 800, 800
    BATCHES = 16  # distinct query batches; the last one is the warm-up's
    min_units = 1  # a round takes longer than the run's seconds

    def inputs(self, ctx: Ctx) -> dict:
        s3 = gen.sparse_histograms(ctx.seed, ctx.size(self.N3), gen.BINS_3D)
        out = {
            "s3": s3,
            "s2": gen.sparse_histograms(ctx.seed, ctx.size(self.N2), gen.BINS_2D),
        }
        rng = np.random.default_rng([ctx.seed, 3])
        for b in range(self.BATCHES):
            ids = np.sort(rng.choice(s3.num_rows, size=BATCH, replace=False))
            out[f"q{b}"] = s3.take(ids)
        return out

    def setup(self, ctx: Ctx) -> dict[str, float]:
        """The warm-up grid join on a throwaway path (its output is checked:
        the top-k check derives from it), the index build (timed on its
        own) and a warm-up probe."""
        from melody_join_spark.operators.emd_index import emd_index_build
        from melody_join_spark.plans.tpch_bridge import bin_points_3d

        t0 = time.perf_counter()
        # One warm-up join: the top-k runs the grid join's whole plan, and
        # the first op pays nearly all of the cold-JVM cost (18 s against
        # 5.5 s warm); warming the pivot join too would cost 9 s of every
        # run's time budget to save it about 1.5 s.
        warm = ctx.run_op("join_grid", self._grid)
        _must(warm)
        ctx.warmups.append(warm)
        t1 = time.perf_counter()
        ctx.index_dir = os.path.join(ctx.work, "index")
        emd_index_build(
            ctx.read_parquet(ctx.src["s3"]), bin_points_3d(), ctx.index_dir,
            grid=INDEX_GRID,
        )
        t2 = time.perf_counter()
        _must(ctx.run_op("probe", self._probe(self.BATCHES - 1, self._load(ctx))))
        return {
            "warmup_s": t1 - t0 + time.perf_counter() - t2,
            "index_build_s": t2 - t1,
        }

    @staticmethod
    def _grid(ctx):
        from melody_join_spark.operators.emd_join_nd import emd_join_nd
        from melody_join_spark.plans.tpch_bridge import bin_points_3d

        rec = ctx.rec
        hist = ctx.read_parquet(ctx.src["s3"])
        with rec.span("operators.emd_join_nd.emd_join_nd"):
            df = emd_join_nd(
                hist, bin_points_3d(), THETA_GRID, strategy="grid",
                stats=rec.join_stats(),
            )
        with rec.span("collect"):
            rows = df.collect()
        rec.result(df, rows)
        return _pairs(rows, "rid", "sid", "emd")

    def _joins(self):
        from melody_join_spark.operators.emd_join_nd import emd_join_nd, emd_topk_nd
        from melody_join_spark.plans.tpch_bridge import bin_points_2d, bin_points_3d

        def topk(ctx):
            rec = ctx.rec
            hist = ctx.read_parquet(ctx.src["s3"])
            with rec.span("operators.emd_join_nd.emd_topk_nd"):
                df = emd_topk_nd(
                    hist, bin_points_3d(), TOPK, strategy="grid",
                    stats=rec.join_stats(),
                )
            with rec.span("collect"):
                rows = df.collect()
            rec.result(df, rows)
            return [
                (int(r["rank"]), int(r["rid"]), int(r["sid"]), round(float(r["emd"]), 6))
                for r in sorted(rows, key=lambda r: r["rank"])
            ]

        def pivot(ctx):
            rec = ctx.rec
            hist = ctx.read_parquet(ctx.src["s2"])
            pts = bin_points_2d()
            with rec.span("operators.emd_join_nd.emd_join_nd"):
                df = emd_join_nd(
                    hist, pts, THETA_PIVOT, strategy="pivot", ground=_sqrt_l1(pts),
                    stats=rec.join_stats(),
                )
            with rec.span("collect"):
                rows = df.collect()
            rec.result(df, rows)
            return _pairs(rows, "rid", "sid", "emd")

        return (("topk", topk), ("join_pivot", pivot))

    def _load(self, ctx: Ctx):
        """Open the index under a fresh path.  Not part of the timed probe:
        a serving process opens its index once."""
        from melody_join_spark.operators.emd_index import emd_index_load

        return emd_index_load(ctx.spark, ctx.fresh(ctx.index_dir))

    def _probe(self, b: int, idx):
        from melody_join_spark.operators.emd_index import emd_index_search

        def probe(ctx):
            rec = ctx.rec
            queries = ctx.read_parquet(ctx.src[f"q{b}"])
            with rec.span("operators.emd_index.emd_index_search"):
                df = emd_index_search(idx, queries, THETA_PROBE)
            with rec.span("collect"):
                rows = df.collect()
            rec.result(df, rows)
            return _pairs(rows, "qid", "nid", "emd")

        return probe

    def unit(self, ctx: Ctx, traced: bool) -> list[OpResult]:
        out = [ctx.run_op(kind, fn, traced) for kind, fn in self._joins()]
        b = ctx.units % (self.BATCHES - 1)
        probe = ctx.run_op("probe", self._probe(b, self._load(ctx)), traced)
        probe.info["batch"] = b
        return out + [probe]

    def check(self, ctx: Ctx, results: list[OpResult]) -> dict[int, str]:
        from melody_join_spark.plans.tpch_bridge import bin_points_2d, bin_points_3d

        p3, p2 = bin_points_3d(), bin_points_2d()
        w3, w2 = checks.weights(ctx.tables["s3"]), checks.weights(ctx.tables["s2"])
        solver3 = checks.PairSolver(w3, checks.l2_cost(p3))
        solver2 = checks.PairSolver(w2, _sqrt_l1(p2))
        rng = np.random.default_rng([ctx.seed, 7])
        sample3 = rng.choice(len(w3), size=min(len(w3), 16), replace=False)
        sample2 = rng.choice(len(w2), size=min(len(w2), 16), replace=False)
        lb3 = checks.rubner_l2(w3, p3)
        lb2 = checks.sqrt_l1_lower(w2, p2)

        def verify(r):
            if r.kind == "join_grid":
                return checks.threshold_pairs(r.rows, solver3, THETA_GRID, lb3, sample3)
            if r.kind == "join_pivot":
                return checks.threshold_pairs(r.rows, solver2, THETA_PIVOT, lb2, sample2)
            if r.kind == "probe":
                qids = ctx.tables[f"q{r.info['batch']}"].column("id").to_pylist()
                return checks.probe_batch(r.rows, qids, solver3, THETA_PROBE, lb3)
            grid_ref = ctx.verified.get("join_grid")
            if grid_ref is None:
                return "no verified grid join output to derive the top-k from"
            return checks.topk_from_threshold(r.rows, grid_ref, TOPK, THETA_GRID)

        def key(r):
            return (r.kind, r.info.get("batch"))

        # grid outputs are verified first: the top-k check derives from them
        order = sorted(results, key=lambda r: r.kind != "join_grid")
        return checks.by_reference(ctx, order, verify, key)

    def detail(self, results: list[OpResult]) -> dict:
        out = {
            f"{k}_s": _median([r.seconds for r in results if r.kind == k])
            for k in self.kinds[:2]
        }
        ts = sorted(r.seconds for r in results if r.kind == "probe")
        tail, tail_pct = checks.tail(ts)
        out.update({
            "probe_p50_s": _median(ts),
            "probe_tail_s": tail,
            "probe_tail_pct": tail_pct,
            "probe_batches": len(ts),
            "probe_qps": BATCH * len(ts) / sum(ts) if ts else 0.0,
        })
        return out


# ---------------------------------------------------------------------------
# near_dup_dedup
# ---------------------------------------------------------------------------


class NearDupDedup:
    """dup_clusters(jaccard_pairs(docs, 0.8, ngram=5)) over the corpus."""

    name = "near_dup_dedup"
    kinds = ("dedup",)
    DOCS = 400

    def inputs(self, ctx: Ctx) -> dict:
        return {"docs": gen.documents(ctx.seed, ctx.size(self.DOCS))}

    def _dedup(self, ctx):
        from melody_join_spark.operators.dedup import dup_clusters, jaccard_pairs

        rec = ctx.rec
        docs = ctx.read_parquet(ctx.src["docs"])
        with rec.span("operators.dedup.jaccard_pairs"):
            pairs = jaccard_pairs(docs, threshold=JACCARD_THETA, ngram=NGRAM)
        with rec.span("operators.dedup.dup_clusters"):
            df = dup_clusters(pairs, ids=docs.select("doc_id"), id_col="doc_id")
        with rec.span("collect"):
            rows = df.collect()
        rec.result(df, rows)
        return sorted((int(r["id"]), int(r["cluster_id"])) for r in rows)

    # The first op pays the cold JVM (about 17 s against 4 s warm) and the
    # next two still run 20-50% slower and spend more CPU while the JIT
    # catches up.  Set-up runs two of these ops and the loop at least three
    # more, so the median is taken over ops of which at most one is slow.
    WARMUP_OPS = 2
    min_units = 3

    def setup(self, ctx: Ctx) -> dict[str, float]:
        t0 = time.perf_counter()
        for _ in range(self.WARMUP_OPS):
            _must(ctx.run_op("dedup", self._dedup))
        return {"warmup_s": time.perf_counter() - t0}

    def unit(self, ctx: Ctx, traced: bool) -> list[OpResult]:
        return [ctx.run_op("dedup", self._dedup, traced)]

    def split(self, ctx: Ctx) -> dict:
        """Traced run only: the two phases timed apart, the pairs written
        to parquet between them."""
        from melody_join_spark.operators.dedup import dup_clusters, jaccard_pairs

        out = os.path.join(ctx.work, "pairs-split")
        docs = ctx.read_parquet(ctx.src["docs"])
        t0 = time.perf_counter()
        jaccard_pairs(docs, threshold=JACCARD_THETA, ngram=NGRAM).write.parquet(out)
        t1 = time.perf_counter()
        pairs = ctx.spark.read.parquet(out)
        rows = dup_clusters(pairs, ids=docs.select("doc_id"), id_col="doc_id").collect()
        t2 = time.perf_counter()
        prows = _pairs(pq.read_table(out).to_pylist(), "rid", "sid", "jaccard")
        clusters = sorted((int(r["id"]), int(r["cluster_id"])) for r in rows)
        return {
            "jaccard_pairs_s": t1 - t0,
            "dup_clusters_s": t2 - t1,
            "pairs_out": len(prows),
            "error": ctx.oracle.check_pairs(prows) or ctx.oracle.check_clusters(clusters),
        }

    def check(self, ctx: Ctx, results: list[OpResult]) -> dict[int, str]:
        ctx.oracle = checks.DedupOracle(ctx.src["docs"], ctx.work, JACCARD_THETA, NGRAM)
        return checks.by_reference(
            ctx, results, lambda r: ctx.oracle.check_clusters(r.rows)
        )

    def detail(self, results: list[OpResult]) -> dict:
        return {"dedup_s": _median([r.seconds for r in results])}


WORKLOADS = {w.name: w for w in (EmdSelfJoinProbe(), NearDupDedup())}


def write_inputs(ctx: Ctx, wl) -> float:
    """Generate and write the workload's inputs; returns the median time of
    three generations (the same seed gives the same tables each time)."""
    src = os.path.join(ctx.work, "src")
    os.makedirs(src, exist_ok=True)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        tables = wl.inputs(ctx)
        paths = {}
        for name, table in tables.items():
            paths[name] = os.path.join(src, f"{name}.parquet")
            gen.write(table, paths[name])
        times.append(time.perf_counter() - t0)
    ctx.tables, ctx.src = tables, paths
    return statistics.median(times)
