"""Driver-thread overlap of independent eager sub-DAGs.

Guide §2.6 ("Overlap independent jobs"): Spark's scheduler happily runs
several jobs at once inside one application — actions are only
sequential because driver code calls them sequentially. The composition
operators (keep-lists, manifests, ship card) each materialize two or
three INDEPENDENT bounded frames eagerly (an LSH edge checkpoint, a
phash pair checkpoint, a persisted-index build, a decode-verdict
checkpoint) before assembling the final lazy DAG; calling those
materializations from a small thread pool lets each job's tasks
back-fill executors freed by the others' stragglers instead of leaving
the cluster idle between actions. FIFO scheduling (the default) gives
exactly the back-fill behaviour wanted; results are returned in thunk
order and the first exception propagates unchanged.

This changes WHEN the same jobs run, never what they compute — every
thunk is the identical eager call the operator previously made inline.
Each thread runs its thunk under the caller's Spark local properties
(job group, description, scheduler pool), so the jobs it starts are
charged to, and cancellable with, the caller's group — also when an
overlapped thunk overlaps thunks of its own.
"""

import warnings
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target


def materialize_concurrently(*thunks):
    """Run each thunk on its own driver thread and return their results
    as a tuple in thunk order. Intended for independent EAGER
    materializations (localCheckpoint(eager=True), index builds,
    bounded collects); a single thunk degrades to a plain call."""
    if len(thunks) == 1:
        return (thunks[0](),)
    # the warning says only that session tags are not carried over
    with warnings.catch_warnings():
        warnings.filterwarnings(
            "ignore", "Spark session is not provided", UserWarning
        )
        thunks = [inheritable_thread_target(t) for t in thunks]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return tuple(f.result() for f in futures)
