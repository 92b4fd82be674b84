"""Intermediate lifetime: operators hold shared intermediates as eager
local checkpoints.  Each checkpoint owns its own RDD blocks, so dropping
one can never evict an identically-planned twin, and running the same
query twice in one session costs about the same both times.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from storage import checkpoint_rdd_id, stored_rdds, wait_released

SF = "/root/testdata/sf0.001"


def test_twin_checkpoints_are_independent(spark):
    """Two checkpoints of one plan; dropping one and letting the cleaner
    free it leaves the other serving its rows without recomputing them."""
    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def bump(x):
        acc.add(1)
        return x % 7

    def plan():
        return (
            spark.range(0, 1000, numPartitions=4)
            .select(bump("id").alias("k"))
            .groupBy("k")
            .agg(F.count("*").alias("n"))
        )

    baseline = set(stored_rdds(spark))
    keep = plan().localCheckpoint(eager=True)
    drop = plan().localCheckpoint(eager=True)
    assert acc.value == 2000
    keep_id, drop_id = checkpoint_rdd_id(keep), checkpoint_rdd_id(drop)
    assert keep_id != drop_id

    del drop
    left = wait_released(spark, baseline | {keep_id})
    assert not left, f"dropped twin's blocks never freed: {left}"

    stored = stored_rdds(spark)
    assert keep_id in stored, "dropping one twin evicted the other"
    assert stored[keep_id] == keep.rdd.getNumPartitions()
    rows = sorted((r.k, r.n) for r in keep.collect())
    assert rows == [(k, len(range(k, 1000, 7))) for k in range(7)]
    assert acc.value == 2000, "the surviving twin recomputed its plan"


def _host_steal_pct(seconds: float = 1.0) -> float:
    def stat():
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    s0 = stat()
    time.sleep(seconds)
    s1 = stat()
    d = [b - a for a, b in zip(s0, s1)]
    tot = sum(d) or 1
    return 100.0 * d[7] / tot if len(d) > 7 else 0.0


def test_jaccard_second_execution_cache_survives(spark):
    """The jaccard chain executed twice in one session, the first result
    dropped (and its blocks freed) before the second is built.  The second
    run's docs checkpoint must still be stored after its own execution
    (deterministic assert), and its wall must be in the first run's band
    (timing assert, generous slack, skipped on contended hosts)."""
    from melody_join_spark.operators.dedup import jaccard_pairs

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    baseline = set(stored_rdds(spark))

    t0 = time.time()
    r1 = jaccard_pairs(docs, threshold=0.6, ngram=4)
    n1 = r1.count()
    wall1 = time.time() - t0
    del r1
    # what bench.py does between queries: the dropped result's blocks go
    assert not wait_released(spark, baseline)

    before = set(stored_rdds(spark))
    t0 = time.time()
    r2 = jaccard_pairs(docs, threshold=0.6, ngram=4)
    built = stored_rdds(spark)
    held = set(built) - before
    assert held, "second execution holds no checkpoint"
    n2 = r2.count()
    wall2 = time.time() - t0
    assert n2 == n1
    after = stored_rdds(spark)
    assert all(after.get(i) == built[i] for i in held), (
        "second execution's checkpoint lost blocks while it ran"
    )
    del r2

    if _host_steal_pct() > 1.0:
        pytest.skip("contended host: timing ratio not meaningful")
    # a second run that recomputed the docs chain per consumer measured 3x;
    # 2.5x slack absorbs same-host noise while still catching it
    assert wall2 <= max(2.5 * wall1, wall1 + 2.0), (wall1, wall2)
