"""Leak checks over the ids of the block manager's persisted RDDs.

A count of ``getPersistentRDDs()`` cannot tell a test's own blocks from
blocks earlier tests left behind: the ContextCleaner may drop those
while the test runs, so ``count > baseline`` can fail on working code and
``count <= baseline`` can pass over a new leak.  :class:`NewBlocks`
compares id sets instead: only RDDs persisted after it was created count
as the call's own.
"""

from __future__ import annotations

import gc
import time


def persisted_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


class NewBlocks:
    """The persisted RDDs created since construction."""

    def __init__(self, spark):
        self._spark = spark
        self._before = persisted_rdd_ids(spark)

    def live(self) -> set[int]:
        return persisted_rdd_ids(self._spark) - self._before

    def assert_live(self) -> set[int]:
        """Assert the call's blocks are registered; return their ids."""
        live = self.live()
        assert live, "expected the call's persisted RDDs to be live"
        return live

    def assert_released(self, *, jvm_gc: bool = False) -> None:
        """Assert none of the call's blocks remain.  With ``jvm_gc`` the
        check polls for up to 10 s, running Python and JVM collections,
        for blocks whose release rides on a finalizer or the
        ContextCleaner; without it the blocks must be gone now."""
        if jvm_gc:
            for _ in range(50):
                if not self.live():
                    return
                gc.collect()
                self._spark.sparkContext._jvm.System.gc()
                time.sleep(0.2)
        left = self.live()
        assert not left, f"persisted RDD(s) {sorted(left)} left behind"
