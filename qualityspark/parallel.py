"""Concurrent driver-job submission for independent audit check families.

Spark's scheduler happily runs several jobs at once inside one application
(optimization guide §2.6): actions are only sequential because driver code
calls them sequentially.  The generic CSV/table audit runs ~30-100 small
jobs whose families (pass B/C, stacked breadth masks, KS, categorical,
date, id-format, chi2, cross-column, temporal, duplicate-rows) have no
data dependencies between them beyond pass A's statistics — so the audit
submits each family from a small driver thread pool and the next family's
tasks back-fill the cores the current family's stragglers leave idle.

This is latency work, not a semantics change: every family computes
exactly what it computed serially (the same jobs, the same results) and
report assembly still happens after every future resolves —
tests/test_r7_fixes.py's serial-vs-concurrent report identity pins it.

Thread notes: PySpark job submission is thread-safe; job descriptions /
local properties are JVM-thread-local, so each submitted family is
wrapped in ``pyspark.inheritable_thread_target`` (the documented way to
run driver threads so thread-locals are inherited and cleaned up) and
labels its jobs with its family name as the job description.

The pool holds AUDIT_WORKERS threads: enough to fill scheduler tails at
local[32] and on a cluster, where FIFO scheduling gives the earlier job
resources first and later jobs back-fill — the behaviour we want.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor


AUDIT_WORKERS = 8


def audit_pool() -> ThreadPoolExecutor:
    return ThreadPoolExecutor(max_workers=AUDIT_WORKERS)


def submit(pool: ThreadPoolExecutor, fn, name: str | None = None):
    """Submit a zero-arg family thunk; wraps it so Spark's JVM
    thread-locals (job group/description) are inherited and cleaned up.
    ``name`` becomes the job description of every job the family runs, so
    per-family jobs and wall time show in the Spark UI and the REST
    ``jobs`` endpoint; the job group stays the caller's, so a group
    label set around the whole audit still counts every family's jobs."""
    try:
        from pyspark import inheritable_thread_target
        from pyspark.sql import SparkSession
        session = SparkSession.getActiveSession()
        if session is not None:
            if name:
                inner = fn

                def fn():
                    session.sparkContext.setJobDescription(name)
                    return inner()
            # session-arg form inherits job tags too (and avoids the
            # "Tags will not be inherited" warning on Spark 4)
            fn = inheritable_thread_target(session)(fn)
        else:
            fn = inheritable_thread_target(fn)
    except Exception:        # pragma: no cover - classic py4j fallback
        pass
    return pool.submit(fn)
