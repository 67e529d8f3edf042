"""Explicit skew handling: salted two-phase aggregation + mergeable
histograms (north_rule: "explicit salted/range partitioning to handle
domain skew"; reference analog: the CLASS_IMBALANCE check
(checks/categorical_checks.py:115-141) is the *detector*, this module is
the *treatment*).

When salting matters (and when it doesn't):

* Plain algebraic aggregates (count/sum/avg/min/max) already partial-
  aggregate map-side — a hot key combines to ONE row per map task before
  the shuffle, so ``groupBy(domain).agg(sum/count)`` is skew-proof for
  free.  Don't salt those.
* Skewed JOINS are AQE's job (``spark.sql.adaptive.skewJoin`` is on in
  session.py).
* What actually breaks on a hot domain is any per-key computation whose
  state can't combine: ``collect_list``, exact percentiles over raw rows,
  windows partitioned by the hot key.  Those funnel 30 % of the corpus
  (FIXTURES.md hot domain) through one reducer task.

The two tools here:

* ``salted_two_phase`` — generic salt -> partial -> merge pipeline for
  aggregations expressed as (partial_aggs, merge_aggs) pairs.  The salt
  bounds any single task's input to ~1/salt of the hot key.
* ``median_by_key_histogram`` — EXACT median per key for low-cardinality
  value domains (the audit score takes ~50 distinct values): reduce to
  (key, value) counts — mergeable, map-side combined, skew-free — then a
  cumulative window over the tiny per-key value histogram.  This is the
  two-pass-histogram-rank plan from SURVEY.md §7.4 item 2 applied per key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def salted_two_phase(df: DataFrame, key: Column, salt_src: Column,
                     partial_aggs: list, merge_aggs: list,
                     salt: int = 16, key_name: str = "key") -> DataFrame:
    """groupBy(key) for skewed keys, in two shuffles of bounded fan-in:

      phase 1: groupBy(key, pmod(xxhash64(salt_src), salt)) -> partials
               (a hot key's rows split across `salt` reducer tasks)
      phase 2: groupBy(key) over <= salt partial rows per key -> merge

    ``partial_aggs`` / ``merge_aggs`` must form a decomposition, e.g.
    partial [count -> n, sum(x) -> s], merge [sum(n) -> n, sum(s)/sum(n)
    -> avg].  For plain algebraic aggregates map-side combine already does
    this implicitly — use this only for the non-combining cases (or when
    partial state is large)."""
    p1 = (df.groupBy(key.alias(key_name),
                     F.pmod(F.xxhash64(salt_src), F.lit(salt))
                     .alias("_salt"))
          .agg(*partial_aggs))
    return p1.groupBy(key_name).agg(*merge_aggs)


def median_by_key_histogram(df: DataFrame, key: Column, value: Column,
                            key_name: str = "key",
                            median_name: str = "median") -> DataFrame:
    """EXACT per-key median for a low-cardinality value domain, skew-free:
    (key, value) counts combine map-side (a hot key contributes one row
    per distinct value per map task), and the final window runs over the
    per-key histogram — dozens of rows per key, never the raw corpus.

    Median convention: lower-median-interpolated like pandas/DuckDB
    (quantile_cont 0.5): for even n the mean of the two middle values."""
    h = (df.groupBy(key.alias(key_name), value.alias("_v"))
         .agg(F.count(F.lit(1)).alias("_n")))
    w = (Window.partitionBy(key_name).orderBy("_v")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wt = Window.partitionBy(key_name)
    h = (h.withColumn("_cum", F.sum("_n").over(w))
         .withColumn("_tot", F.sum("_n").over(wt)))
    prev_cum = F.col("_cum") - F.col("_n")
    # 1-based positions of the two middle elements (equal when n is odd):
    # lower = ceil(n/2), upper = floor(n/2)+1; median = their mean —
    # exactly quantile_cont(0.5) / pandas median for integer-valued data
    dn_pos = F.ceil(F.col("_tot") / 2.0)
    up_pos = F.floor(F.col("_tot") / 2) + 1
    dn = F.max(F.when((prev_cum < dn_pos) & (F.col("_cum") >= dn_pos),
                      F.col("_v")))
    up = F.max(F.when((prev_cum < up_pos) & (F.col("_cum") >= up_pos),
                      F.col("_v")))
    return (h.groupBy(key_name)
            .agg(((up + dn) / 2.0).alias(median_name)))


def source_profile(documents: DataFrame, salt: int = 16) -> DataFrame:
    """Per-source document profile over a skewed source distribution:
    counts/avg via salted two-phase, exact median n_chars via the
    histogram plan.  Result identical to a naive groupBy (oracle-checked
    in queries.py) — only the physical plan differs."""
    base = documents.filter(F.col("source").isNotNull())
    prof = salted_two_phase(
        base, F.col("source"), F.col("doc_id"),
        # _nv counts NON-NULL n_chars separately from the row count so the
        # merged avg matches SQL avg() semantics (nulls excluded from the
        # denominator); sum(_s)/sum(_n) would silently dilute by null rows
        partial_aggs=[F.count(F.lit(1)).alias("_n"),
                      F.count("n_chars").alias("_nv"),
                      F.sum("n_chars").alias("_s")],
        merge_aggs=[F.sum("_n").cast("bigint").alias("n_docs"),
                    F.round(F.sum("_s")
                            / F.nullif(F.sum("_nv"), F.lit(0)), 4)
                    .alias("avg_chars")],
        salt=salt, key_name="source")
    med = median_by_key_histogram(base, F.col("source"),
                                  F.col("n_chars"), key_name="source",
                                  median_name="median_chars")
    return (prof.join(med, "source")
            .select("source", "n_docs", "avg_chars",
                    F.round("median_chars", 4).alias("median_chars")))
