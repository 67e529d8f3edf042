"""Scale-safe exact global ordering primitives.

The reference's split-half / rank statistics are defined over "file order"
(checks/hypothesis_checks.py:32-35) or over a global value order.  The
direct Spark translation — ``ntile/rank().over(Window.orderBy(...))`` with
no partitionBy — funnels the whole table through ONE task (Spark plans it
as ``Window [...] SinglePartition``), the classic 100x-scale killer
(SURVEY.md §7.4 item 2).

This module provides the bucketed two-pass alternative:

  1. sample the order key's quantiles once (``percentile_approx`` — a
     mergeable sketch, one narrow agg);
  2. assign each row a bucket by comparing the key to the (deduplicated)
     boundaries — equal keys always land in the same bucket, so rank ties
     never straddle buckets;
  3. window WITHIN each bucket (hash-partitioned shuffle, ~even by
     construction) and add the bucket's cumulative row-count offset
     (a tiny in-plan aggregate broadcast back — no driver collect).

The result is the EXACT global row_number / min-rank — identical output to
the single-partition window, but the sort is B-way parallel and no task
ever holds more than ~n/B rows.  Cost: one extra scan for the quantile
sketch (skipped when the caller passes ``boundaries``).
``with_global_order`` is the one ordering primitive; the ntile, lag and
rank helpers below build on it.

Steps 2 and 3 are built as SQL text with exact boundary literals: as
Column trees they cost over 100 py4j calls per boundary, so building a
split-half query took as long as running it.

Skew note: a single key value holding >> 1/B of the table collapses into
one bucket (correctness unaffected; that bucket's task is large).  For the
continuous/timestamp keys these statistics run on, the quantile cuts keep
buckets balanced; heavy-tie categorical ranks should use a groupBy-value
histogram instead (two-pass rank).
"""

from __future__ import annotations

import datetime
from decimal import Decimal

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, TimestampType

from qualityspark.scoring import sql_lit


def boundary_sketch_expr(key: Column, buckets: int) -> Column:
    """The aggregate expression `_boundaries` collects — exposed so callers
    that already run a driver-side agg (min/max, counts) can fold the
    quantile sketch into the SAME pass and hand the deduplicated result
    to ``with_global_order(..., boundaries=...)`` (or the helpers that
    forward it), saving one full scan."""
    probs = [i / buckets for i in range(1, buckets)]
    return F.percentile_approx(key, probs, 10_000)


def dedup_boundaries(bnds) -> list:
    uniq = []
    for b in bnds or []:
        if b is not None and (not uniq or b != uniq[-1]):
            uniq.append(b)
    return uniq


def _boundaries(df: DataFrame, key: Column, buckets: int) -> list:
    """Deduplicated quantile cut points of the (non-null) key."""
    row = df.agg(boundary_sketch_expr(key, buckets).alias("b")).head()
    return dedup_boundaries(row["b"])


def _key_lit(x) -> str:
    """Boundary ``x`` as an exact SQL literal typed the way ``F.lit`` types
    it, so the SQL-text bucket compares exactly as the Column form did."""
    if isinstance(x, datetime.datetime):
        return f"timestamp_micros({TimestampType().toInternal(x)})"
    if isinstance(x, datetime.date):
        return f"date_from_unix_date({DateType().toInternal(x)})"
    if isinstance(x, Decimal):
        # the parser reads ``<digits>BD`` into the same BigDecimal py4j
        # passes for F.lit: the value's own precision and scale
        return f"({x}BD)"
    if isinstance(x, (int, float)) and not isinstance(x, bool):
        return sql_lit(x)
    raise TypeError(f"no exact SQL literal for boundary {x!r}")


def _with_bucket(df: DataFrame, key: Column, bnds: list) -> DataFrame:
    """``df`` plus the order key as ``_okey`` and its bucket as ``_bkt``:
    the number of boundaries strictly below the key (equal keys -> equal
    bucket).  NULL keys -> bucket -1 (they order first, matching
    asc_nulls_first; callers on null-free keys are unaffected)."""
    terms = "".join(f" + CAST(_okey > {_key_lit(x)} AS INT)" for x in bnds)
    return (df.withColumn("_okey", key)
            .withColumn("_bkt", F.expr(
                f"CASE WHEN _okey IS NULL THEN -1 ELSE 0{terms} END")))


def _onto_targets(cnt: DataFrame, n_bnds: int, fields: str) -> DataFrame:
    """Each row of ``cnt`` (one per bucket) copied onto every possible
    target bucket ``_tb`` ({-1} U 0..n_bnds, known at plan time), with the
    ``fields`` SQL (``{t}`` is the target)."""
    rows = ", ".join(
        f"struct({sql_lit(t)} AS _tb, {fields.format(t=sql_lit(t))})"
        for t in range(-1, n_bnds + 1))
    return cnt.selectExpr(f"inline(array({rows}))")


def with_global_order(df: DataFrame, key: Column,
                      tiebreaks: list | None = None,
                      buckets: int = 32,
                      rn_col: str = "_rn",
                      rank_col: str | None = None,
                      boundaries: list | None = None,
                      total_col: str | None = None) -> DataFrame:
    """Adds the exact global ``row_number`` (and optionally min-``rank``,
    and the total row count as ``total_col``) over ORDER BY key
    [, *tiebreaks] without a single-partition sort and without a driver
    action on the rows: the per-bucket offsets are a tiny in-plan
    aggregate (<= buckets+2 rows, prefix-summed by copying each count
    onto its later buckets so no SinglePartition node appears anywhere)
    broadcast-joined back on the bucket id.  The quantile boundaries are
    one sketch action unless the caller passes ``boundaries``.
    The bucket and offset rows are SQL text over a temporary key column
    ``_okey``: as Column code they cost over 100 py4j calls a boundary."""
    tiebreaks = tiebreaks or []
    if boundaries is None:
        boundaries = _boundaries(df, key, buckets)
    df = _with_bucket(df, key, boundaries)
    cnt = df.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_c"))
    # prefix offsets WITHOUT a global-order window (no SinglePartition
    # funnel — tests/test_components.py pins that) and from one scan of
    # cnt: each count adds to the offset of every target strictly above it
    # and to every target's total.  Integer addition is order-free: exact.
    contrib = _onto_targets(cnt, len(boundaries),
                            "CASE WHEN _bkt < {t} THEN _c ELSE 0 END AS _oc, "
                            "_c AS _tc")
    agg_cols = [F.sum("_oc").alias("_off")]
    if total_col is not None:
        agg_cols.append(F.sum("_tc").alias(total_col))
    offs = (contrib.groupBy("_tb").agg(*agg_cols)
            .withColumnRenamed("_tb", "_bkt"))
    df = df.join(F.broadcast(offs), "_bkt")
    w = Window.partitionBy("_bkt").orderBy("_okey", *tiebreaks)
    out = df.withColumn(rn_col, F.row_number().over(w) + F.col("_off"))
    if rank_col is not None:
        # min-rank: ties share the smallest row number; ties never straddle
        # buckets (bucket is a pure function of the key), so within-bucket
        # rank + bucket offset is the exact global rank
        wr = Window.partitionBy("_bkt").orderBy("_okey")
        out = out.withColumn(rank_col, F.rank().over(wr) + F.col("_off"))
    return out.drop("_okey", "_bkt", "_off")


def ntile_from_rn(rn: Column, n: Column, k: int) -> Column:
    """Exact ntile(k) bucket from a global row_number over ``n`` rows (the
    lazy integral total): the first (n % k) tiles hold ceil(n/k) rows (ANSI
    ntile semantics, matching Spark's and DuckDB's window ntile).  The
    arithmetic is integer-exact (double division of exact ints < 2^53,
    truncating int cast == floor for non-negatives); ``small`` is kept
    nonzero because codegen may evaluate the unreachable branch."""
    nk = (n / F.lit(k)).cast("long")
    big, small, n_big = nk + 1, F.greatest(nk, F.lit(1)), n % F.lit(k)
    cut = n_big * big
    return (F.when(rn <= cut,
                   ((rn - 1) / big).cast("int") + 1)
            .otherwise(n_big.cast("int")
                       + ((rn - 1 - cut) / small).cast("int")
                       + 1))


def with_halves(df: DataFrame, key: Column, tiebreaks: list | None = None,
                buckets: int = 32, col: str = "half",
                boundaries: list | None = None) -> DataFrame:
    """Exact ntile(2) OVER (ORDER BY key, *tiebreaks) — scale-safe, and
    since r7 fully lazy (no counting action; the total rides along as a
    broadcast column).

    A straddle-only variant (window only the bucket containing the ntile
    cut, constant tile for every other bucket from the broadcast offsets)
    was measured in r7 and REJECTED: it trades the B-way-parallel bucket
    sort for one extra full scan (a union of two filtered branches), and
    at 100k-1M-row bench scale the extra scan costs ~0.1-0.2 s more than
    the sort it saves.  The bucketed window here is already parallel and
    bounded (no SinglePartition), so the sort is not a scale hazard."""
    out = with_global_order(df, key, tiebreaks, buckets,
                            boundaries=boundaries, total_col="_total")
    return (out.withColumn(col, ntile_from_rn(F.col("_rn"),
                                              F.col("_total"), 2))
            .drop("_rn", "_total"))


def with_ntile(df: DataFrame, key: Column, k: int,
               tiebreaks: list | None = None, buckets: int = 32,
               col: str = "tile") -> DataFrame:
    out = with_global_order(df, key, tiebreaks, buckets,
                            total_col="_total")
    return (out.withColumn(col, ntile_from_rn(F.col("_rn"),
                                              F.col("_total"), k))
            .drop("_rn", "_total"))


def with_global_lag(df: DataFrame, key: Column,
                    tiebreaks: list | None = None,
                    lag_cols: list[str] | None = None,
                    buckets: int = 32,
                    suffix: str = "_prev") -> DataFrame:
    """Exact lag(col, 1) over a global ORDER BY without a single-partition
    sort: global row_number (bucketed) then an equi self-join on rn-1 —
    both sides hash-partition on _rn, no global funnel.  The lagged columns
    arrive as <col><suffix> (NULL for the first row).  Keeps ``_rn``."""
    out = with_global_order(df, key, tiebreaks, buckets)
    prev = out.select((F.col("_rn") + 1).alias("_rn"),
                      *[F.col(c).alias(c + suffix)
                        for c in (lag_cols or [])])
    return out.join(prev, "_rn", "left")


def with_running_sum(df: DataFrame, key: Column, value: Column,
                     tiebreaks: list | None = None, buckets: int = 32,
                     col: str = "_rsum") -> DataFrame:
    """Exact prefix sum of ``value`` over a global ORDER BY: within-bucket
    running-sum window + the cumulative sum of prior buckets' totals (a
    tiny in-plan aggregate broadcast back).  Floating-point note: the
    additions re-associate vs a strictly sequential scan — differences are
    ~1 ulp relative, far inside the round-4 comparisons these stats use."""
    d2 = df.withColumn("_v", value)
    bnds = _boundaries(d2, key, buckets)
    d2 = _with_bucket(d2, key, bnds)
    # prior-bucket totals as a lazy in-plan aggregate + broadcast join, in
    # with_global_order's copy-onto-targets shape (no SinglePartition
    # funnel); these totals are DOUBLES, so the prior sums are folded over
    # a sort_array'd struct list in ascending _bkt order (a fixed
    # association) and NULL bucket totals are skipped as SQL sum skips them.
    cnt = d2.groupBy("_bkt").agg(F.sum("_v").alias("_s"))
    contrib = _onto_targets(cnt, len(bnds),
                            "CASE WHEN _bkt < {t} AND _s IS NOT NULL "
                            "THEN struct(_bkt, _s) END AS _p")
    offs = (contrib.groupBy("_tb").agg(F.expr(
        "aggregate(sort_array(collect_list(_p)), 0.0D, (a, p) -> a + p._s)")
        .alias("_roff")).withColumnRenamed("_tb", "_bkt"))
    d2 = d2.join(F.broadcast(offs), "_bkt")
    w = (Window.partitionBy("_bkt").orderBy("_okey", *(tiebreaks or []))
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (d2.withColumn(col, F.sum("_v").over(w) + F.col("_roff"))
            .drop("_v", "_okey", "_bkt", "_roff"))


def with_value_ranks(df: DataFrame, value: Column, buckets: int = 32,
                     rank_col: str = "rk",
                     avg_rank_col: str | None = None) -> DataFrame:
    """Exact global min-rank (and scipy-convention average rank for ties:
    rank + (ties-1)/2) over ORDER BY value — the Mann-Whitney / Kruskal /
    ECDF building block, without the single-partition sort."""
    out = with_global_order(df, value, [], buckets, rank_col="_mr",
                            rn_col="_rn_tmp")
    out = out.drop("_rn_tmp").withColumnRenamed("_mr", rank_col)
    if avg_rank_col is not None:
        ties = F.count(F.lit(1)).over(Window.partitionBy(value))
        out = out.withColumn(avg_rank_col,
                             F.col(rank_col) + (ties - 1) / 2.0)
    return out
