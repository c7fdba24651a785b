"""Driver-side overlap of independent gate branches.

Spark's scheduler happily runs several jobs at once inside one
application; actions are only sequential because driver code calls
them sequentially (optimization guide §2.6 "Overlap independent
jobs").  The merged family gates build N independent branch plans,
and several branches run EAGER driver actions while being built —
persist+count staging (`similarity._materialize`), iterative
localCheckpoint rounds (connected components), streaming spin-ups,
store writes.  Built serially, each such action pays its full fixed
job latency while the rest of the cluster idles; built on a small
thread pool, the scheduler backfills those jobs onto idle cores.

The result is unchanged: builders are deterministic plan
constructors, their eager actions are idempotent stagings, and the
returned DataFrames are combined by the caller exactly as before.
This matters at every scale — on a cluster the staging jobs are
bigger and the idle capacity during a straggler tail is worth more.
"""

from __future__ import annotations

import atexit
import threading
from collections.abc import Callable
from concurrent.futures import (
    FIRST_EXCEPTION,
    ThreadPoolExecutor,
    wait,
)
from typing import Any

#: One long-lived pool shared by every parallel_branches call. Under
#: py4j's pinned-thread mode (the PySpark default) EVERY new Python
#: thread pins a dedicated JVM thread + client connection for its
#: lifetime — a fresh pool per call would accumulate hundreds of them
#: over a 100-query sweep (measured: later queries in the sweep slow
#: down as the JVM drags the dead connections). A bounded reused pool
#: caps that at _POOL_WORKERS threads for the process lifetime.
_POOL_WORKERS = 8
_POOL: ThreadPoolExecutor | None = None
_POOL_LOCK = threading.Lock()


def _pool() -> ThreadPoolExecutor:
    global _POOL
    with _POOL_LOCK:
        if _POOL is None:
            _POOL = ThreadPoolExecutor(
                max_workers=_POOL_WORKERS,
                thread_name_prefix="branch-build",
            )
            atexit.register(_POOL.shutdown, wait=False)
        return _POOL


#: Thread-local marker set while a builder runs on the shared pool.
#: A nested parallel_branches call from inside a pool worker runs its
#: builders INLINE on the caller thread instead of submitting — the
#: structural guard against the bounded-pool deadlock (every slot
#: occupied by callers blocking on children that can never be
#: scheduled).  Gates still use one level of parallelism; nesting is
#: merely safe now instead of forbidden-by-docstring.
_IN_POOL = threading.local()


def parallel_branches(*builders: Callable[[], Any]) -> list[Any]:
    """Run zero-arg branch builders concurrently, return their results
    in argument order.

    Failure semantics: the first failing branch (in argument order)
    wins. Once the caller's wait sees a failure, it cancels the sibling
    builders still queued, so branches with on-disk side effects
    (store writes, streaming spin-ups) usually do not begin after the
    gate has failed. This is best effort, not a guarantee: the failed
    branch frees its pool slot before the caller wakes, and a queued
    sibling can start in that window. The call then WAITS for every
    started sibling to drain (Spark driver threads aren't
    interruptible mid-build) before re-raising — so a failed gate's
    side effects never interleave with whatever the caller does next.

    Uses ``pyspark.inheritable_thread_target`` so JVM thread-local
    properties (job group/description/tags) propagate to the worker
    threads — the documented way to submit Spark jobs from driver
    threads.  Nested calls (a builder that itself calls
    parallel_branches) run inline on the worker thread — see _IN_POOL."""
    if len(builders) == 1 or getattr(_IN_POOL, "active", False):
        return [b() for b in builders]
    try:
        from pyspark import inheritable_thread_target
        from pyspark.sql import SparkSession

        session = SparkSession.getActiveSession()
        if session is not None:
            # The session form inherits job group/description AND tags
            # (the bare-callable form warns that tags are dropped).
            deco = inheritable_thread_target(session)
            wrapped = [deco(b) for b in builders]
        else:
            wrapped = [inheritable_thread_target(b) for b in builders]
    except Exception:  # pragma: no cover - Connect-only signature drift
        wrapped = list(builders)

    def _run(fn: Callable[[], Any]) -> Any:
        _IN_POOL.active = True
        try:
            return fn()
        finally:
            _IN_POOL.active = False

    futures = [_pool().submit(_run, w) for w in wrapped]
    # Block until every future completes OR one fails — the wait
    # returns at the first failure even while earlier-argument branches
    # are still running, which is what lets the cancellation fire
    # before a queued side-effecting sibling gets a freed slot.
    wait(futures, return_when=FIRST_EXCEPTION)
    if any(
        not f.cancelled() and f.done() and f.exception() is not None
        for f in futures
    ):
        for g in futures:
            g.cancel()
        wait(futures)  # drain running siblings before surfacing
        for f in futures:
            if not f.cancelled() and f.exception() is not None:
                raise f.exception()
    return [f.result() for f in futures]
