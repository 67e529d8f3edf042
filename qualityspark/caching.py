"""Tracked persistence: lazy plan builders register their caches, the
materializing caller releases them.

Some plan builders (pipeline.audit's narrow dedup projection,
neardup.lsh_candidate_pairs' shingle-hash frame) MUST persist an
intermediate frame — the cache is a materialization barrier that stops
Catalyst from collapsing an expensive projection into N downstream
consumers.  But the builder returns a LAZY DataFrame: nothing has
executed yet, so the builder itself can never unpersist.  Before r5 these
caches simply lived for the session (r4 VERDICT item 4); at 100-TB scale
a session that runs many queries would accumulate executor storage until
eviction pressure hurts every subsequent job.

Protocol: builders wrap their persist in ``tracked_cache``; whoever
materializes the final result (io.run_resumable, bench and gate
harnesses) calls ``release_caches`` afterwards.  Releasing is safe
at any point after the consuming job finishes — Spark unpersist is
idempotent and non-blocking here."""

from __future__ import annotations

from pyspark.sql import DataFrame

_ACTIVE: list[DataFrame] = []


def tracked_cache(df: DataFrame) -> DataFrame:
    """df.cache() + registration for a later release_caches()."""
    df = df.cache()
    _ACTIVE.append(df)
    return df


def release_caches() -> int:
    """Unpersist every tracked cache; returns how many were released."""
    n = 0
    while _ACTIVE:
        df = _ACTIVE.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass    # session already stopped — nothing to release
    return n
