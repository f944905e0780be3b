"""Run independent Spark actions concurrently from the driver.

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls
them sequentially (guide §2.6). For latency-bound sinks — a
foreachBatch body that issues several small, independent writes — the
per-action driver cost (planning, py4j, commit) dominates, and
overlapping the actions hides it: the next write's planning runs while
the previous write's tasks fill the executors.

Scope: INDEPENDENT actions only (distinct output paths, no
happens-before). Failures propagate: the first exception re-raises in
the caller after every thunk has settled, so a sink batch still fails
loudly as a unit.

Each pool thread runs with the caller's Spark local properties (job
group, description, scheduler pool), so its jobs are attributed and
cancelled with the caller's: a streaming sink's writes stay in the
query's ``runId`` job group.
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor


def run_concurrent(*thunks: Callable[[], None], max_workers: int = 3) -> None:
    """Execute ``thunks`` concurrently; re-raise the first failure.

    2-3 in flight is plenty (enough to overlap planning with the
    previous action's task tail, not so many that tiny jobs fight).
    One thunk degenerates to a plain call — no pool, no thread.
    """
    if len(thunks) == 1:
        thunks[0]()
        return
    from pyspark import inheritable_thread_target
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        thunks = tuple(map(inheritable_thread_target(session), thunks))
    with ThreadPoolExecutor(min(max_workers, len(thunks))) as pool:
        futures = [pool.submit(t) for t in thunks]
        first_exc: BaseException | None = None
        for f in futures:
            try:
                f.result()
            except BaseException as exc:  # noqa: BLE001 — settle all, then raise
                if first_exc is None:
                    first_exc = exc
        if first_exc is not None:
            raise first_exc
