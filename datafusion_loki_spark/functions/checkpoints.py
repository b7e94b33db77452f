"""Deterministic release of dead localCheckpoint storage.

``df.unpersist()`` is a no-op on a localCheckpoint'd frame (the blocks
belong to the checkpoint RDD, not the CacheManager — probed on pyspark
4.1), and the ContextCleaner only releases checkpoint blocks after a JVM
GC notices the dead reference — by default ~30 min apart, so a long
one-JVM session (the bench suite, a job server) accumulates every
operator's materialized intermediates in the block manager and pays the
memory pressure as late-session drag (round-15 measured the forced-GC
alternative and rejected it: multi-second stop-the-world stalls).
Operators therefore release the blocks EXPLICITLY, at the points where
they can prove no consumer remains.

Contract: ``release(df)`` a checkpoint frame only once nothing will read
it again (a released checkpoint's reads fail loudly with
CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). It touches only that frame's own
RDD, so it is safe while other threads checkpoint and release their own
frames (the overlap helper's thunks do exactly that).
"""

from __future__ import annotations


def release(*frames) -> None:
    """Drop the block-manager copies behind each localCheckpoint frame.

    A localCheckpoint frame's logical plan is a ``LogicalRDD`` over the
    checkpoint RDD itself; unpersisting that RDD frees its blocks and
    nothing else. A frame that is not a checkpoint has no ``rdd()`` on
    its plan node, so the call raises instead of silently freeing
    nothing."""
    for df in frames:
        df._jdf.logicalPlan().rdd().unpersist(False)
