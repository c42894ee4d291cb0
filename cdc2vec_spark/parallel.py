"""Driver-side concurrency that keeps the caller's Spark job group.

PySpark runs in pinned-thread mode by default: every Python thread owns
its own JVM thread, and a plain ``threading.Thread`` starts with EMPTY
Spark local properties. Jobs started from such a thread drop the
caller's ``spark.jobGroup.id`` (a streaming query's run id, with
interrupt-on-cancel), so ``query.stop()`` cannot cancel them and
per-group job accounting misses them. ``run_concurrently`` wraps each
callable with ``pyspark.inheritable_thread_target`` at call time, which
copies the caller's local properties (one copy per callable, so the
threads' SQL execution ids never share a ``Properties`` object).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Any, Callable

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def run_concurrently(spark: SparkSession, *fns: Callable[[], Any]) -> list:
    """Run ``fns`` at the same time, one thread each, under the calling
    thread's Spark local properties and session tags. Waits for ALL of
    them, then re-raises the first error in argument order (so no branch
    is still running when the caller cleans up after a failure) or
    returns their results in argument order. A single callable runs
    inline on the calling thread."""
    if len(fns) <= 1:
        return [f() for f in fns]
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futs = [pool.submit(inheritable_thread_target(spark)(f)) for f in fns]
    return [f.result() for f in futs]
