"""Overlap independent Spark ACTIONS from driver threads (optimization
guide §2.6 "overlap independent jobs").

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls them
sequentially. At fixture scale every job carries a fixed ~100-200 ms of
scheduler/AQE bookkeeping, so a query that materializes k independent
intermediates (state writes, localCheckpoint pins) pays k of those
serially — overlapped, it pays ~max instead of sum, and at cluster
scale the same overlap lets the next job's tasks back-fill executors
freed by the current job's tail.
"""

from __future__ import annotations


def run_concurrently(*thunks):
    """Run each zero-arg callable in its own driver thread; return
    their results in thunk order.

    Safe ONLY for mutually independent actions: callers must ensure no
    thunk observes state another thunk writes (see the join-MV fold for
    the canonical argument: per-batch state writes target disjoint
    paths and history reads are fenced to strictly-earlier partitions).
    ``InheritableThread`` propagates and cleans up JVM thread-locals
    (job descriptions, scheduler pools) per the PySpark threading
    contract. Errors propagate after every thread has joined, so no
    action is left silently running: the lowest-index thunk's exception
    is raised whatever order the threads failed in, with every other
    failure chained onto it (an exception group, in thunk order, at the
    end of its ``__context__`` chain)."""
    from pyspark import InheritableThread

    results: list = [None] * len(thunks)
    errors: list[BaseException | None] = [None] * len(thunks)

    def _run(i: int, fn) -> None:
        try:
            results[i] = fn()
        except BaseException as ex:  # noqa: BLE001 — crosses threads
            errors[i] = ex

    threads = [
        InheritableThread(target=_run, args=(i, fn))
        for i, fn in enumerate(thunks)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    failed = [ex for ex in errors if ex is not None]
    if len(failed) > 1:
        tail = failed[0]
        while tail.__context__ is not None:
            tail = tail.__context__
        tail.__context__ = BaseExceptionGroup(
            "other concurrent failures", failed[1:]
        )
    if failed:
        raise failed[0]
    return results
