"""RDD block-storage probes for the intermediate-lifetime tests.

Operators hold intermediates as eager local checkpoints; Spark's
ContextCleaner frees a checkpoint's blocks once no plan references it,
which needs a Python GC (to drop the py4j handles) and then a JVM GC (to
enqueue the RDD's weak reference).  Cleanup is asynchronous, so release
checks poll.
"""

from __future__ import annotations

import gc
import time


def stored_rdds(spark) -> dict[int, int]:
    """RDD id -> number of cached partitions, for every RDD holding blocks."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {int(i.id()): int(i.numCachedPartitions()) for i in infos}


def collect_garbage(spark) -> None:
    gc.collect()
    spark._jvm.System.gc()


def wait_released(spark, baseline, timeout: float = 60.0) -> set[int]:
    """Collect garbage and poll until no RDD outside ``baseline`` holds
    blocks.  Returns the ids still stored (empty on success)."""
    deadline = time.monotonic() + timeout
    while True:
        collect_garbage(spark)
        left = set(stored_rdds(spark)) - set(baseline)
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.25)


def checkpoint_rdd_id(df) -> int:
    """Id of the RDD behind a ``localCheckpoint`` DataFrame's leaf."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    assert leaves.size() == 1, "not a checkpoint leaf"
    return int(leaves.apply(0).rdd().id())
