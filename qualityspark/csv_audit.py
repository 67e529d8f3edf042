"""End-to-end audit of an ARBITRARY CSV — the reference's primary entry
point (data_quality_auditor.py single-file flow, SURVEY §3.1) re-staged
for Spark: load -> infer semantic types -> select checks -> run checks ->
score columns -> dataset score -> report.

Execution shape (the whole point of the re-staging): the reference runs a
pandas function per (column, check).  Here the number of Spark JOBS is
bounded by the check families, not by the column count.  Every
per-column family runs on the MELTED frame — the columns unpivoted to
(column, value) rows by sources.melt — and aggregates with ONE
groupBy(column), so the plan stays a handful of fields wide at any
width and every expression stays inside whole-stage codegen:

  pass A  — one groupBy(column) job: every column's null/whitespace/
            distinct/pattern-match/numeric-moment/percentile/Benford-digit/
            date statistics (plus one tiny agg for the global literals);
  pass B  — one groupBy(column) job for outlier counts, MAD and per-half
            moments (pass A's literals broadcast-joined onto the rows);
  pass C  — one job for modified-Z counts and Levene moments (pass B's
            literals);
  + one groupBy over a row hash for exact duplicate rows;
  + three bounded reads shared by ALL categorical columns (values with
    rare / imbalance statistics, case-variant groups, typo pairs), one
    for all date columns and one for all id columns: each is ONE collect
    of a window-ranked frame, per-column scalars riding as window
    aggregates (12, 3 and 3 jobs on the 6-column mix fixture).

Severity ladders mirror the reference where published:
  NULL_RATE      -> constants.THRESHOLDS_NULL (universal_checks.py:13)
  DUPLICATE_ROWS / ID_DUPLICATES -> constants.THRESHOLDS_DUPLICATE (:14)
  OUTLIER_IQR    -> {CRIT .10, HIGH .05, MED .02, LOW .005}
                    (numeric_checks.py:8)
  OUTLIER_ZSCORE -> {CRIT .05, HIGH .02, MED .01} (numeric_checks.py:9)
  DISTRIBUTION_SKEW -> {HIGH 3, MED 2, LOW 1} (numeric_checks.py:10)
  ZERO_VALUES    -> {HIGH .30, MED .10} (numeric_checks.py:11)
  RARE_CATEGORIES-> <0.5%% categories; >10 MEDIUM else LOW
                    (categorical_checks.py:18-26)
  BENFORD_LAW    -> Nigrini MAD ladder (benford_check.py)
Remaining ladders (date/format/case) are documented local choices.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from qualityspark import constants as C
from qualityspark import csv_breadth as B
from qualityspark import typeinfer as TI
from qualityspark.config import resolve
from qualityspark.rules import masks
from qualityspark.sources import lit_join, melt, quoted_col

_FMT_LADDER = TI.DATE_FORMATS + TI.DATETIME_FORMATS

THRESHOLDS_OUTLIER_IQR = {"CRITICAL": 0.10, "HIGH": 0.05, "MEDIUM": 0.02,
                          "LOW": 0.005}
THRESHOLDS_OUTLIER_Z = {"CRITICAL": 0.05, "HIGH": 0.02, "MEDIUM": 0.01}
THRESHOLDS_SKEW = {"HIGH": 3.0, "MEDIUM": 2.0, "LOW": 1.0}
THRESHOLDS_ZERO = {"HIGH": 0.30, "MEDIUM": 0.10}
THRESHOLDS_INVALID = {"HIGH": 0.20, "MEDIUM": 0.05, "LOW": 1e-12}
THRESHOLDS_DATE_OOB = {"CRITICAL": 0.10, "HIGH": 0.05, "MEDIUM": 0.01,
                       "LOW": 1e-12}
# Nigrini MAD conformity ladder (same constants as queries.benford_verdict)
BENFORD_MAD_NONCONFORM = 0.015

_NUMERIC = (TI.NUMERIC_CONTINUOUS, TI.NUMERIC_DISCRETE)
_DATES = (TI.DATE, TI.DATETIME)
# driver-memory caps for categorical stats: only this many sample values /
# case-variant groups / category names ever leave the cluster, regardless
# of column cardinality (reference caps value_counts the same way)
_CAT_SAMPLE_CAP = 5
_CAT_VALUES_CAP = 50


def _sev(value, thresholds):
    return C.severity_from_thresholds(value, thresholds)


def _check(check_id, severity, value, detail="", samples=None):
    out = {"check_id": check_id, "severity": severity,
           "passed": severity == "PASS",
           "value": round(float(value), 4), "detail": detail}
    if samples:
        out["sample_values"] = [str(v) for v in samples][:5]
    return out


def _samp(st, key):
    """Up to two deterministic offending examples from the min/max
    conditional aggregates (reference CheckResult.sample_values,
    models/check_result.py:19 — bounded by design: min+max of the
    offending set are collected in the SAME stats pass, so samples cost
    zero extra jobs and the driver row stays O(columns), where the
    reference's pandas slice of all offenders would not scale)."""
    mn, mx = st.get(f"s_{key}_min"), st.get(f"s_{key}_max")
    vals = [v for v in (mn, mx) if v is not None]
    return vals[:1] if len(vals) == 2 and vals[0] == vals[1] else vals


def _melted_frame(tv, types, data_cols):
    """(k, pos, c raw-string, dv typed-double, tv typed-timestamp) — the
    sources.melt view pass A aggregates (see _pass_a_melted)."""
    vals = {}
    for col in data_cols:
        t = types[col]
        dv = (F.col(f"`{col}_typed`").cast("double") if t in _NUMERIC
              else F.lit(None).cast("double"))
        ts = (F.col(f"`{col}_typed`").cast("timestamp") if t in _DATES
              else F.lit(None).cast("timestamp"))
        vals[col] = F.struct(quoted_col(col).alias("c"), dv.alias("dv"),
                             ts.alias("tv"))
    u = melt(tv, vals, F.col("_pos").alias("pos"))
    return u.select("k", "pos", F.col("v.c").alias("c"),
                    F.col("v.dv").alias("dv"), F.col("v.tv").alias("tv"))


def _pass_a_melted(tv, types, data_cols, date_axis):
    """Pass A: every column's statistics as one {"<col>::<key>": value}
    dict, plus the global literals "::n_rows", "::mid_pos" and (with a
    date axis) "::date_q".

    Every derived signal (null-like mask, whitespace mask, the guarded
    11-format date ladder, the Benford %.10e digit) is ONE expression
    instance projected beneath the groupBy(k).  The percentile sketches
    put the aggregate on the ObjectHashAggregate path, which has neither
    codegen nor common-subexpression elimination, so a signal embedded
    in N aggregates would be re-evaluated N times per row, interpreted.
    The groupBy(k) carries a fixed ~60 partial aggregates per (column,
    task) regardless of width.  The statistics are computed uniformly and
    assembled per type driver-side, so each column gets exactly the keys
    its type's checks read.  The global literals come from one
    3-expression agg on the unmelted frame."""
    # global literals: one tiny agg on the unmelted frame.  The
    # file-position median splits the half-vs-half hypothesis family
    # (csv_breadth module doc); the axis Q1/Q3 bound TEMPORAL_DRIFT's KS
    gl = [F.count(F.lit(1)).alias("::n_rows"),
          F.percentile_approx("_pos", 0.5, 10000).alias("::mid_pos")]
    if date_axis is not None:
        axis_ts = F.col(f"`{date_axis}_typed`").cast("timestamp")
        gl.append(F.percentile_approx(
            axis_ts.cast("double"), [0.25, 0.75], 10000).alias("::date_q"))
    row = tv.agg(*gl).first().asDict()
    if not data_cols:
        # melt over no columns has no value type to unpivot
        return row
    u = _melted_frame(tv, types, data_cols)
    c, dv, tvc = F.col("c"), F.col("dv"), F.col("tv")
    s = F.trim(c)
    ne = TI._nonempty(c)
    val = F.when(ne, s)
    nl = masks.nullish_mask(c)
    ws = c.isNotNull() & (c != s) & (s != "")
    # DATE_FORMAT_MIX: the FIRST parsing ladder entry, the reference's
    # _parse_date walk (checks/date_checks.py:69-107)
    fmt = masks.date_format_index(c, _FMT_LADDER)
    # first SIGNIFICANT digit via scientific notation — the reference
    # definition (benford_check.py:31 f"{x:.10e}"[0]): |v| in (0,1) is
    # included (0.0042 -> 4), zeros are excluded, and rounding happens
    # at 10 significant digits (9.99999999999 -> 1.0000000000e+01 ->
    # digit 1).  NULL outside the nonzero domain.
    digit = F.when(dv.isNotNull() & (F.abs(dv) > 0),
                   F.substring(F.format_string("%.10e", F.abs(dv)), 1, 1))
    proj = u.select(
        "k", "c", s.alias("s"), ne.alias("ne"), val.alias("val"),
        nl.alias("nl"), ws.alias("ws"), dv, tvc,
        fmt.alias("fmt"), digit.alias("digit"))
    c, s, ne, val = (F.col("c"), F.col("s"), F.col("ne"), F.col("val"))
    nl, ws, dv, tvc = (F.col("nl"), F.col("ws"), F.col("dv"), F.col("tv"))
    fmt, digit = F.col("fmt"), F.col("digit")
    as_of = F.lit(C.AS_OF_TS).cast("timestamp")
    ancient = F.lit(C.ANCIENT_TS).cast("timestamp")
    num_inv = ne & dv.isNull()
    date_inv = ne & tvc.isNull()
    bad_e = ne & ~val.rlike(TI.EMAIL_RE)
    bad_p = ne & ~val.rlike(TI.PHONE_RE)
    nullish = c.isNotNull() & nl & (s != "")
    id_cols = [col for col, t in types.items() if t == TI.ID_CANDIDATE]
    aggs = [
        F.sum(nl.cast("long")).alias("n_null"),
        F.sum(ne.cast("long")).alias("nn"),
        F.approx_count_distinct(val).alias("n_unique"),
        F.sum(ws.cast("long")).alias("n_ws"),
        F.min(val).alias("s_any_min"),
        F.min(F.when(nullish, s)).alias("s_nullish_min"),
        F.max(F.when(nullish, s)).alias("s_nullish_max"),
        F.min(F.when(ws, c)).alias("s_ws_min"),
        F.max(F.when(ws, c)).alias("s_ws_max"),
        # numeric family (null outside numeric groups)
        F.min(F.when(num_inv, s)).alias("num_inv_min"),
        F.max(F.when(num_inv, s)).alias("num_inv_max"),
        F.min(F.when(dv < 0, dv)).alias("s_neg_min"),
        F.sum(dv.isNotNull().cast("long")).alias("n_num"),
        F.sum(num_inv.cast("long")).alias("num_invalid"),
        F.sum((dv < 0).cast("long")).alias("n_neg"),
        F.sum((dv == 0).cast("long")).alias("n_zero"),
        F.avg(dv).alias("mean"),
        F.stddev(dv).alias("std"),
        F.skewness(dv).alias("skew"),
        F.kurtosis(dv).alias("kurt"),
        # p0.1/p99.9 feed VALUE_RANGE, the median OUTLIER_MODIFIED_Z
        F.percentile_approx(dv, [0.001, 0.25, 0.5, 0.75, 0.999],
                            10000).alias("q"),
        # date family
        F.sum(date_inv.cast("long")).alias("date_invalid"),
        F.sum((tvc > as_of).cast("long")).alias("n_future"),
        F.sum((tvc < ancient).cast("long")).alias("n_ancient"),
        F.max(F.when(tvc > as_of, s)).alias("s_future_max"),
        F.min(F.when(tvc < ancient, s)).alias("s_ancient_min"),
        F.min(tvc).alias("d_min"),
        F.max(tvc).alias("d_max"),
        F.min(F.when(date_inv, s)).alias("date_inv_min"),
        F.max(F.when(date_inv, s)).alias("date_inv_max"),
        # email / phone family
        F.sum(bad_e.cast("long")).alias("e_invalid"),
        F.min(F.when(bad_e, s)).alias("e_inv_min"),
        F.max(F.when(bad_e, s)).alias("e_inv_max"),
        F.sum(bad_p.cast("long")).alias("p_invalid"),
        F.min(F.when(bad_p, s)).alias("p_inv_min"),
        F.max(F.when(bad_p, s)).alias("p_inv_max"),
        # categorical / boolean
        F.approx_count_distinct(F.lower(val)).alias("n_unique_ci"),
    ]
    for d in range(1, 10):
        # coalesce: an all-NULL or all-zero column counts 0, not None
        aggs.append(F.coalesce(F.sum((digit == str(d)).cast("long")),
                               F.lit(0)).alias(f"bf{d}"))
    for i in range(len(_FMT_LADDER)):
        aggs += [F.sum((fmt == i).cast("long")).alias(f"fmt{i}"),
                 F.min(F.when(fmt == i, s)).alias(f"fmt_s{i}")]
    if id_cols:
        # exact distinct only for id columns, where an approx count would
        # fire phantom ID_DUPLICATES at HLL error rates; null outside id
        # groups so nothing else pays for it
        aggs.append(F.countDistinct(
            F.when(F.col("k").isin(*id_cols), val))
            .alias("n_unique_exact"))
    by_col = {r["k"]: r.asDict()
              for r in proj.groupBy("k").agg(*aggs).collect()}

    # assemble the key set each type's checks read.  A zero-row frame
    # yields no groups: read what a global aggregate over no rows gives
    # (0 for the distinct counts and the coalesced digits, else NULL)
    empty = {"n_unique": 0, "n_unique_ci": 0, "n_unique_exact": 0,
             **{f"bf{d}": 0 for d in range(1, 10)}}
    for col, t in types.items():
        r = by_col.get(col) or empty

        def put(key, src=None):
            row[f"{col}::{key}"] = r.get(src or key)

        for key in ("n_null", "nn", "n_unique", "n_ws", "s_any_min",
                    "s_nullish_min", "s_nullish_max",
                    "s_ws_min", "s_ws_max"):
            put(key)
        if t in _NUMERIC:
            put("s_inv_min", "num_inv_min")
            put("s_inv_max", "num_inv_max")
            put("n_invalid", "num_invalid")
            for key in ("s_neg_min", "n_num", "n_neg", "n_zero", "mean",
                        "std", "skew", "kurt", "q"):
                put(key)
            for d in range(1, 10):
                put(f"bf{d}")
        elif t in _DATES:
            put("n_invalid", "date_invalid")
            put("s_inv_min", "date_inv_min")
            put("s_inv_max", "date_inv_max")
            for key in ("n_future", "n_ancient", "s_future_max",
                        "s_ancient_min", "d_min", "d_max"):
                put(key)
            for i in range(len(_FMT_LADDER)):
                put(f"fmt{i}")
                put(f"fmt_s{i}")
        elif t == TI.ID_CANDIDATE:
            put("n_unique_exact")
        elif t == TI.EMAIL:
            put("n_invalid", "e_invalid")
            put("s_inv_min", "e_inv_min")
            put("s_inv_max", "e_inv_max")
        elif t == TI.PHONE:
            put("n_invalid", "p_invalid")
            put("s_inv_min", "p_inv_min")
            put("s_inv_max", "p_inv_max")
        if t in (TI.CATEGORICAL, TI.BOOLEAN):
            put("n_unique_ci")
    return row


def _melted_numeric(tv, types, stats):
    """(pos, k, v) over the numeric typed columns pass B/C work on."""
    num_cols = [col for col, t in types.items()
                if t in _NUMERIC and stats[col].get("n_num")]
    if not num_cols:
        return None, []
    u = melt(tv, {col: F.col(f"`{col}_typed`").cast("double")
                  for col in num_cols}, F.col("_pos").alias("pos"))
    return u, num_cols


def _pass_b_melted(tv, types, stats, mid_pos):
    """Pass B: per numeric column the IQR / z-score / VALUE_RANGE outlier
    counts, the MAD, and the per-half moments and medians of the
    split-half hypothesis family, as a `{col}::key` dict (pass A's
    literals joined per sources.lit_join; halves split at ``mid_pos``)."""
    u, num_cols = _melted_numeric(tv, types, stats)
    if u is None:
        return {}
    rows = []
    for col in num_cols:
        st = stats[col]
        rows.append((col, st.get("q1"), st.get("q3"), st.get("mean"),
                     st.get("std"), st.get("med"), st.get("p001"),
                     st.get("p999")))
    u = lit_join(u, rows, "k string, q1 double, q3 double, mean double,"
                          " std double, med double, p001 double,"
                          " p999 double")
    v = F.col("v")
    q1, q3 = F.col("q1"), F.col("q3")
    mean, std, med = F.col("mean"), F.col("std"), F.col("med")
    p001, p999 = F.col("p001"), F.col("p999")
    iqr = q3 - q1
    vr_ok = p001.isNotNull() & p999.isNotNull()
    vr = vr_ok & ((v < p001) | (v > p999))
    half1 = F.col("pos") <= (mid_pos if mid_pos is not None else 0)
    aggs = [
        F.sum(F.when(q3 > q1, ((v < q1 - 1.5 * iqr)
                               | (v > q3 + 1.5 * iqr)).cast("long")))
        .alias("iqr"),
        F.sum(F.when(mean.isNotNull() & std.isNotNull() & (std != 0),
                     (F.abs((v - mean) / std) > 3).cast("long")))
        .alias("z"),
        F.percentile_approx(F.when(med.isNotNull(), F.abs(v - med)),
                            0.5, 10000).alias("mad"),
        F.sum(F.when(vr_ok, vr.cast("long"))).alias("vr"),
        F.min(F.when(vr, v)).alias("s_vr_min"),
        F.max(F.when(vr, v)).alias("s_vr_max"),
    ]
    for tag, pred in (("h1", half1), ("h2", ~half1)):
        hv = F.when(pred, v)
        aggs += [F.count(hv).alias(f"{tag}_n"),
                 F.avg(hv).alias(f"{tag}_mean"),
                 F.var_samp(hv).alias(f"{tag}_var"),
                 F.skewness(hv).alias(f"{tag}_skew"),
                 F.kurtosis(hv).alias(f"{tag}_kurt"),
                 F.percentile_approx(hv, 0.5, 10000).alias(f"{tag}_med")]
    out = {}
    for r in u.groupBy("k").agg(*aggs).collect():
        d = r.asDict()
        col = d.pop("k")
        out.update({f"{col}::{key}": val for key, val in d.items()})
    return out


def _pass_c_melted(tv, types, stats, outliers, mid_pos):
    """Pass C: modified-Z counts and the Levene |x-median| moments per
    half, from pass B's MAD and half medians — same contract as
    _pass_b_melted."""
    u, num_cols = _melted_numeric(tv, types, stats)
    if u is None:
        return {}
    rows = []
    for col in num_cols:
        rows.append((col, stats[col].get("med"),
                     outliers.get(f"{col}::mad"),
                     outliers.get(f"{col}::h1_med"),
                     outliers.get(f"{col}::h2_med")))
    u = lit_join(u, rows, "k string, med double, mad double,"
                          " h1_med double, h2_med double")
    v = F.col("v")
    med, mad = F.col("med"), F.col("mad")
    modz_ok = med.isNotNull() & mad.isNotNull() & (mad != 0)
    modz = modz_ok & (F.abs(0.6745 * (v - med) / mad) > 3.5)
    half1 = F.col("pos") <= (mid_pos if mid_pos is not None else 0)
    aggs = [
        F.sum(F.when(modz_ok, modz.cast("long"))).alias("modz"),
        F.min(F.when(modz, v)).alias("s_modz_min"),
        F.max(F.when(modz, v)).alias("s_modz_max"),
    ]
    for tag, pred in (("h1", half1), ("h2", ~half1)):
        z = F.when(pred, F.abs(v - F.col(f"{tag}_med")))
        aggs += [F.avg(z).alias(f"{tag}_zmean"),
                 F.var_samp(z).alias(f"{tag}_zvar")]
    out = {}
    for r in u.groupBy("k").agg(*aggs).collect():
        d = r.asDict()
        col = d.pop("k")
        out.update({f"{col}::{key}": val for key, val in d.items()})
    return out


def _ranked(df, keep):
    """ONE collect of the rows of a window-ranked frame that ``keep``
    selects -> {k: rows in ``rn`` order}.  The order is the rank the plan
    computed, never a driver-side comparison of values (string collations
    and timestamps need not sort alike in Python)."""
    out = {}
    for r in sorted(df.filter(keep).collect(),
                    key=lambda r: (r["k"], r["rn"])):
        out.setdefault(r["k"], []).append(r)
    return out


def _catstats_melted(raw, types, stats):
    """Every categorical/boolean column's value statistics in three
    bounded reads, whatever the column count: one melted groupBy(col,
    value) counts frame (persisted: the three reads share it), then

      * ONE window-ranked read of counts ⋈ per-column totals: n_rare and
        n_unique as window aggregates, keeping the first _CAT_VALUES_CAP
        values, the top value and the first _CAT_SAMPLE_CAP rare values
        (ranked by value, the top value's count ties broken by the
        value, so samples are deterministic);
      * ONE ranked read of the case-variant groups, groupBy(col,
        lower(value)), counted by a window;
      * ONE ranked read of the typo pairs, a broadcast equi-self-join of
        each column's top-200 repeated categories, counted by a window.

    The collected rows are ordered by the ranks computed in the plan.
    Measured 12 jobs on the 6-column mix fixture.

    Returns {col: {n_rare, rare, n_case_groups, case_samples, values,
    breadth_checks}}.  Only capped samples leave the cluster: a
    relative-cardinality CATEGORICAL column can carry ~100k distinct
    values at 100-TB scale (the reference caps its value_counts the same
    way, checks/categorical_checks.py:158-159).  CLASS_IMBALANCE (top
    share >=.95 HIGH, >=.90 MEDIUM, categorical_checks.py:115-141),
    CARDINALITY_CHANGE (informational, :196-211) and TYPO_CANDIDATES
    (:144-193: normalized Levenshtein on lowercased values >= 0.85 — the
    local substitute for rapidfuzz's InDel ratio — MEDIUM past 5 pairs)
    ride in ``breadth_checks``."""
    cat_cols = [c for c, t in types.items()
                if t in (TI.CATEGORICAL, TI.BOOLEAN)]
    if not cat_cols:
        return {}
    u = (melt(raw, {col: quoted_col(col) for col in cat_cols})
         .filter(TI._nonempty(F.col("v")))
         .select("k", F.trim("v").alias("v")))
    counts = (u.groupBy("k", "v").agg(F.count(F.lit(1)).alias("n"))
              .persist())
    w_k = Window.partitionBy("k")
    w_top = w_k.orderBy(F.desc("n"), "v")
    try:
        j = lit_join(counts, [(c, int(stats[c]["nn"] or 1))
                              for c in cat_cols], "k string, nn long")
        rare = ((F.col("n") / F.col("nn")) < 0.005).cast("long")
        # v is unique per k, so the running rare count over w_v (a RANGE
        # frame) counts rows exactly
        w_v = w_k.orderBy("v")
        ranked = _ranked(
            j.select("k", "v", "n", rare.alias("rare"),
                     F.sum(rare).over(w_k).alias("n_rare"),
                     F.count(F.lit(1)).over(w_k).alias("n_unique"),
                     F.row_number().over(w_v).alias("rn"),
                     F.row_number().over(w_top).alias("rn_top"),
                     F.sum(rare).over(w_v).alias("rare_rn")),
            (F.col("rn") <= _CAT_VALUES_CAP) | (F.col("rn_top") == 1)
            | ((F.col("rare") == 1)
               & (F.col("rare_rn") <= _CAT_SAMPLE_CAP)))
        grp = (counts.groupBy("k", F.lower(F.col("v")).alias("lv"))
               .agg(F.countDistinct("v").alias("nv"),
                    F.sort_array(F.collect_set("v")).alias("variants"))
               .filter(F.col("nv") > 1))
        case_g = _ranked(
            grp.select("k", "variants",
                       F.count(F.lit(1)).over(w_k).alias("cnt"),
                       F.row_number().over(w_k.orderBy(
                           F.col("variants")[0])).alias("rn")),
            F.col("rn") <= _CAT_SAMPLE_CAP)
        # typo candidates: per-col top-200 repeated categories self-join
        cats = (counts.filter(F.col("n") > 1)
                .withColumn("rn", F.row_number().over(w_top))
                .filter(F.col("rn") <= B.MAX_TYPO_CATS).select("k", "v"))
        a = cats.select("k", F.col("v").alias("va"))
        b = cats.select("k", F.col("v").alias("vb"))
        la, lb = F.lower(F.col("va")), F.lower(F.col("vb"))
        sim = 1.0 - F.levenshtein(la, lb) / F.greatest(F.length(la),
                                                       F.length(lb))
        tpairs = (a.join(F.broadcast(b), "k")
                  .filter((F.col("va") < F.col("vb")) & (la != lb))
                  .withColumn("sim", sim)
                  .filter(F.col("sim") >= 0.85))
        typo_g = _ranked(
            tpairs.select("k", "va", "vb", "sim",
                          F.count(F.lit(1)).over(w_k).alias("cnt"),
                          F.row_number().over(w_k.orderBy(
                              F.desc("sim"), "va", "vb")).alias("rn")),
            F.col("rn") <= B._SAMPLE_CAP)
    finally:
        counts.unpersist()
    out = {}
    for col in cat_cols:
        nn = stats[col]["nn"]
        rows = ranked.get(col, [])
        top = next((r for r in rows if r["rn_top"] == 1), None)
        n_rare = rows[0]["n_rare"] if rows else 0
        n_unique = rows[0]["n_unique"] if rows else 0
        cases, typos = case_g.get(col, []), typo_g.get(col, [])
        selected = TI.checks_for_type(types[col])
        checks = []
        if nn:
            if top is not None and "CLASS_IMBALANCE" in selected:
                pct = top["n"] / nn
                sev = ("HIGH" if pct >= 0.95 else
                       "MEDIUM" if pct >= 0.90 else "PASS")
                checks.append(B._check(
                    "CLASS_IMBALANCE", sev, pct,
                    f"dominant category '{top['v']}' = {pct:.1%}"))
            if "CARDINALITY_CHANGE" in selected:
                checks.append(B._check(
                    "CARDINALITY_CHANGE", "INFO", n_unique,
                    f"{n_unique} distinct categories "
                    f"(ratio {n_unique / nn:.2%})",
                    passed_ok=("PASS", "INFO")))
            if "TYPO_CANDIDATES" in selected:
                np_ = typos[0]["cnt"] if typos else 0
                sev = ("MEDIUM" if np_ > 5 else "LOW" if np_ else "PASS")
                checks.append(B._check(
                    "TYPO_CANDIDATES", sev, np_,
                    f"{np_} candidate typo pair(s) "
                    f"(normalized Levenshtein ≥0.85)",
                    samples=[f"'{r['va']}' ~ '{r['vb']}' "
                             f"(sim={r['sim']:.2f})" for r in typos]))
        out[col] = {"n_rare": int(n_rare),
                    "rare": [r["v"] for r in rows if r["rare"]
                             and r["rare_rn"] <= _CAT_SAMPLE_CAP],
                    "n_case_groups": cases[0]["cnt"] if cases else 0,
                    "case_samples": [list(r["variants"]) for r in cases],
                    "values": [r["v"] for r in rows
                               if r["rn"] <= _CAT_VALUES_CAP],
                    "breadth_checks": checks}
    return out


def _date_values_melted(tv, date_cols):
    """Distinct-date statistics for every date column in ONE bounded
    read: the melted groupBy(col, value) counts, with the per-column
    summary (nd, nv, ndup) as window aggregates carried on the rows, and
    the rows kept are each column's first value plus every distinct value
    of the columns under the MAX_DATE_DISTINCT driver cap, in value rank.
    Measured 3 jobs on the mix fixture.  Returns {col: (summary, gap)}:
    summary = {n_date_valid, n_date_distinct, n_dup_dates}, gap = the
    DATE_SEQUENCE_GAPS check or None."""
    if not date_cols:
        return {}
    u = (melt(tv, {col: F.col(f"`{col}_typed`").cast("timestamp")
                   for col in date_cols})
         .filter(F.col("v").isNotNull()))
    g = u.groupBy("k", F.col("v").alias("d")).agg(
        F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("k")
    per = _ranked(
        g.select("k", "d", "n",
                 F.count(F.lit(1)).over(w).alias("nd"),
                 F.sum("n").over(w).alias("nv"),
                 F.coalesce(F.sum(F.when(F.col("n") > 1, F.col("n")))
                            .over(w), F.lit(0)).alias("ndup"),
                 F.row_number().over(w.orderBy("d")).alias("rn")),
        (F.col("rn") == 1) | ((F.col("nv") >= 10)
                              & (F.col("nd") <= B.MAX_DATE_DISTINCT)))
    out = {}
    for col in date_cols:
        rows = per.get(col)
        if rows is None:
            out[col] = ({"n_date_valid": 0, "n_date_distinct": 0,
                         "n_dup_dates": 0}, None)
            continue
        s = rows[0]
        summary = {"n_date_valid": int(s["nv"]),
                   "n_date_distinct": int(s["nd"]),
                   "n_dup_dates": int(s["ndup"])}
        gap = None
        if s["nv"] >= 10:
            if s["nd"] > B.MAX_DATE_DISTINCT:
                gap = B._check(
                    "DATE_SEQUENCE_GAPS", "INFO", 0.0,
                    f"skipped: {s['nd']} distinct timestamps exceed "
                    f"the {B.MAX_DATE_DISTINCT} driver cap",
                    passed_ok=("PASS", "INFO"))
            else:
                gap = B._gap_check_from_rows(rows)
        out[col] = (summary, gap)
    return out


def _id_formats_melted(raw, id_cols):
    """ID_FORMAT_CONSISTENCY (id_checks.py:41-98) for every id column in
    ONE bounded read: melted groupBy(col, char-class fingerprint) counts,
    n_patterns and total as window aggregates, the top-5 patterns kept by
    a per-col rank.  Measured 3 jobs on the mix fixture.  The reference
    samples 1000 rows; this aggregates the FULL column.  Returns {col:
    check | None}."""
    if not id_cols:
        return {}
    u = (melt(raw, {col: quoted_col(col) for col in id_cols})
         .filter(TI._nonempty(F.col("v"))))
    g = (u.groupBy("k", masks.id_fingerprint(F.col("v")).alias("fp"))
         .agg(F.count(F.lit(1)).alias("n"),
              F.min(F.trim(F.col("v"))).alias("sample")))
    w = Window.partitionBy("k")
    tops = _ranked(
        g.select("k", "fp", "n", "sample",
                 F.count(F.lit(1)).over(w).alias("n_patterns"),
                 F.sum("n").over(w).alias("total"),
                 F.row_number().over(w.orderBy(F.desc("n"), "fp"))
                 .alias("rn")),
        F.col("rn") <= 5)
    out = {}
    for col in id_cols:
        top = tops.get(col)
        if not top or top[0]["total"] < 10:
            out[col] = None
            continue
        n_patterns, total = top[0]["n_patterns"], top[0]["total"]
        dominant_pct = top[0]["n"] / total
        if dominant_pct < 0.80 and n_patterns > 3:
            sev = "HIGH"
        elif dominant_pct < 0.90:
            sev = "MEDIUM"
        elif n_patterns > 2:
            sev = "LOW"
        else:
            sev = "PASS"
        out[col] = B._check(
            "ID_FORMAT_CONSISTENCY", sev, dominant_pct,
            f"{n_patterns} format patterns "
            f"(dominant '{top[0]['fp']}' {dominant_pct:.1%})",
            samples=[r["sample"] for r in top[1:4]])
    return out


# check value semantics for affected_count/affected_pct derivation: the
# pct→count conversion is valid only for rate-valued checks.  Statistic-
# valued checks (a skewness, a Benford MAD) are NOT row fractions — e.g.
# skew 2.5 must not report "100% of rows affected" and inflate the
# recommendation ranking (r4 ADVICE).
_RATE_VALUED = {
    "NULL_RATE", "CONSTANT_COLUMN", "WHITESPACE_ISSUES",
    "TYPE_COERCION_FAILED", "OUTLIER_IQR", "OUTLIER_ZSCORE",
    "NEGATIVE_VALUES", "ZERO_VALUES", "DATE_INVALID_PARSED", "DATE_FUTURE",
    "DATE_ANCIENT", "EMAIL_FORMAT", "PHONE_FORMAT", "ID_NULL",
    "ID_DUPLICATES", "DUPLICATE_ROWS",
    # round-6 breadth, value = row fraction
    "NULL_LIKE_STRINGS", "ENCODING_ANOMALY", "TRUNCATION_SIGNS",
    "LENGTH_OUTLIERS", "VALUE_RANGE", "OUTLIER_MODIFIED_Z",
    "PII_DETECTED", "DATE_DUPLICATES", "NULL_ROW_PATTERN"}
_COUNT_VALUED = {"RARE_CATEGORIES", "CASE_INCONSISTENCY",
                 # round-6 breadth, value = finding count
                 "TYPO_CANDIDATES", "DATE_SEQUENCE_GAPS", "DATE_FORMAT_MIX",
                 "HIGH_CORRELATION", "NULL_CORRELATION", "MCAR_VIOLATION",
                 "CATEGORICAL_ASSOCIATION", "POINT_BISERIAL",
                 "CHI2_INDEPENDENCE", "AUTOCORRELATION",
                 "CARDINALITY_CHANGE"}


def _affected(ch, n_rows):
    cid, v = ch["check_id"], ch["value"]
    if cid in _RATE_VALUED:
        pct = min(v, 1.0)
        return {"affected_count": int(round(pct * n_rows)),
                "affected_pct": pct}
    if cid in _COUNT_VALUED:
        return {"affected_count": int(v),
                "affected_pct": round(min(v / n_rows, 1.0), 4)
                if n_rows else None}
    return {"affected_count": None, "affected_pct": None}


def _column_checks(col, t, st, outliers, catstats, cfg, breadth=None):
    """Check results for one column from the collected stats.  ``breadth``
    carries the round-6 breadth inputs (csv_breadth results); None runs
    only the core stats checks."""
    n, nn = st["n_rows"], st["nn"]
    checks = []
    null_pct = st["n_null"] / n if n else 1.0
    checks.append(_check("NULL_RATE", _sev(null_pct, C.THRESHOLDS_NULL),
                         null_pct, samples=_samp(st, "nullish")))
    if nn and st["n_unique"] == 1:
        checks.append(_check("CONSTANT_COLUMN", "MEDIUM", 1.0,
                             "single distinct value",
                             samples=[v for v in [st.get("s_any_min")]
                                      if v is not None]))
    ws_pct = st["n_ws"] / n if n else 0.0
    if ws_pct > 0:
        checks.append(_check("WHITESPACE_ISSUES",
                             "MEDIUM" if ws_pct > 0.05 else "LOW", ws_pct,
                             samples=_samp(st, "ws")))

    if t in _NUMERIC and nn:
        inv = st["n_invalid"] / nn
        if inv > 0:
            checks.append(_check("TYPE_COERCION_FAILED",
                                 _sev(inv, THRESHOLDS_INVALID), inv,
                                 "non-numeric values in numeric column",
                                 samples=_samp(st, "inv")))
        n_num = max(st["n_num"], 1)
        checks.append(_check("OUTLIER_IQR",
                             _sev(outliers.get(f"{col}::iqr", 0) / n_num,
                                  THRESHOLDS_OUTLIER_IQR),
                             outliers.get(f"{col}::iqr", 0) / n_num))
        checks.append(_check("OUTLIER_ZSCORE",
                             _sev(outliers.get(f"{col}::z", 0) / n_num,
                                  THRESHOLDS_OUTLIER_Z),
                             outliers.get(f"{col}::z", 0) / n_num))
        skew = abs(st["skew"] or 0.0)
        checks.append(_check("DISTRIBUTION_SKEW",
                             _sev(skew, THRESHOLDS_SKEW), skew))
        # NORMALITY_TEST (reference numeric_checks.py:363-389 semantics:
        # informational — INFO when non-normal, never a deduction-grade
        # severity).  Jarque-Bera from the moments already in this pass;
        # chi2(2) survival has the closed form exp(-JB/2), so the p-value
        # needs no scipy.  Reference gates at n>=20 the same way.
        if st["n_num"] >= 20 and (st.get("std") or 0) > 0:
            s_, k_ = st["skew"] or 0.0, st.get("kurt") or 0.0
            jb = st["n_num"] / 6.0 * (s_ * s_ + k_ * k_ / 4.0)
            p = math.exp(-jb / 2.0)
            checks.append(_check("NORMALITY_TEST",
                                 "PASS" if p > 0.05 else "INFO", p,
                                 f"Jarque-Bera JB={jb:.4f}"))
        neg = st["n_neg"] / n_num
        if neg > 0:
            checks.append(_check("NEGATIVE_VALUES", "LOW", neg,
                                 samples=[v for v
                                          in [st.get("s_neg_min")]
                                          if v is not None]))
        zero = st["n_zero"] / n_num
        checks.append(_check("ZERO_VALUES", _sev(zero, THRESHOLDS_ZERO),
                             zero))
        digits = [st.get(f"bf{d}", 0) for d in range(1, 10)]
        total = sum(digits)
        if total >= 100:   # reference minimum sample for Benford
            mad = sum(abs(digits[d - 1] / total - math.log10(1 + 1 / d))
                      for d in range(1, 10)) / 9
            checks.append(_check(
                "BENFORD_LAW",
                "MEDIUM" if mad > BENFORD_MAD_NONCONFORM else "PASS",
                mad, "Nigrini MAD"))
    elif t in _DATES and nn:
        date_samples = {
            "DATE_INVALID_PARSED": _samp(st, "inv"),
            "DATE_FUTURE": [v for v in [st.get("s_future_max")]
                            if v is not None],
            "DATE_ANCIENT": [v for v in [st.get("s_ancient_min")]
                             if v is not None]}
        for cid, key in [("DATE_INVALID_PARSED", "n_invalid"),
                         ("DATE_FUTURE", "n_future"),
                         ("DATE_ANCIENT", "n_ancient")]:
            pct = st[key] / nn
            ladder = (THRESHOLDS_INVALID if cid == "DATE_INVALID_PARSED"
                      else THRESHOLDS_DATE_OOB)
            if pct > 0:
                checks.append(_check(cid, _sev(pct, ladder), pct,
                                     samples=date_samples[cid]))
    elif t in (TI.EMAIL, TI.PHONE) and nn:
        pct = st["n_invalid"] / nn
        cid = "EMAIL_FORMAT" if t == TI.EMAIL else "PHONE_FORMAT"
        checks.append(_check(cid, _sev(pct, THRESHOLDS_INVALID), pct,
                             samples=_samp(st, "inv")))
    elif t == TI.ID_CANDIDATE and nn:
        if null_pct > 0:
            checks.append(_check("ID_NULL", "CRITICAL", null_pct))
        dup_pct = max(0.0, (nn - st["n_unique_exact"]) / nn)
        checks.append(_check("ID_DUPLICATES",
                             _sev(dup_pct, C.THRESHOLDS_DUPLICATE),
                             dup_pct))
    if t in (TI.CATEGORICAL, TI.BOOLEAN) and col in catstats:
        cs = catstats[col]
        n_rare = cs["n_rare"]
        if n_rare:
            checks.append(_check(
                "RARE_CATEGORIES",
                "MEDIUM" if n_rare > 10 else "LOW", n_rare,
                f"categories under 0.5%: {cs['rare'][:5]}",
                samples=cs["rare"][:5]))
        if cs["n_case_groups"]:
            checks.append(_check(
                "CASE_INCONSISTENCY",
                "MEDIUM" if cs["n_case_groups"] > 3 else "LOW",
                cs["n_case_groups"],
                f"case-variant groups: {cs['case_samples'][:3]}",
                samples=[v for grp in cs["case_samples"][:3]
                         for v in grp]))
        checks += cs.get("breadth_checks", [])

    # ---- round-6 breadth: execute the REST of the selected plan ----
    if breadth is not None:
        selected = TI.checks_for_type(t)
        checks += B.text_breadth_checks(
            col, t, breadth["s1"], breadth["s2"], selected)
        if t in _NUMERIC and nn:
            checks += B.numeric_breadth_checks(
                col, st, outliers, breadth["passc"], selected)
            sel_ks = list(selected)
            if breadth.get("date_axis"):
                sel_ks += TI.TEMPORAL_DATASET_CHECKS
            checks += B.ks_checks(col, breadth["ks"].get(col) or {},
                                  sel_ks)
        elif t in _DATES and nn:
            checks += B.date_format_checks(col, st, selected)
            if col in breadth["mono"]:
                checks.append(breadth["mono"][col])
            if breadth["date_gaps"].get(col):
                checks.append(breadth["date_gaps"][col])
        if col in breadth.get("chi2_per_col", {}):
            checks.append(breadth["chi2_per_col"][col])
        if col in breadth.get("id_checks", {}):
            checks.append(breadth["id_checks"][col])
        checks += breadth.get("temporal_by_col", {}).get(col, [])
    return checks


def batch_exit_code(report: dict) -> int:
    """Consolidated exit code for a batch audit: max over per-file codes,
    with any unloadable file counting as at least exit 1 — a directory
    where every CSV fails to load must not signal a clean audit (r4
    ADVICE; reference batch_processor treats load failures as errors).
    A declared foreign key that fails counts like a file's issues:
    CRITICAL orphan share -> 2, any other failing severity -> 1."""
    codes = [f["exit_code"] for f in report.get("files", {}).values()]
    if report.get("failed_files"):
        codes.append(1)
    codes += [2 if fk["severity"] == "CRITICAL" else 1
              for fk in report.get("fk_checks", ())
              if fk.get("severity", "PASS") != "PASS"]
    return max(codes, default=0)


def audit_csv_batch(spark: SparkSession, input_dir: str,
                    cfg=None, schema: dict | None = None) -> dict:
    """Batch directory audit (reference core/batch_processor.py:59-162
    ``--batch dir/``): every ``*.csv`` in the directory is audited and a
    consolidated summary carries per-file scores/grades plus the
    avg/min/max ladder.  Files that fail to load are reported, not fatal
    (reference :100-109 behavior).  When the config declares
    foreign_keys, they run over the directory's files as tables named by
    file stem (reference batch mode runs core/referential_integrity.py)
    and land in ``fk_checks``."""
    import glob as _glob
    import os as _os
    from qualityspark.sources import read_csv_audited
    files = sorted(_glob.glob(_os.path.join(input_dir, "*.csv")))
    per_file, failed = {}, {}
    for path in files:
        name = _os.path.basename(path)
        try:
            rep = audit_csv(spark, path, cfg=cfg, schema=schema)
        except Exception as e:          # load errors: empty, header-only
            failed[name] = str(e)[:200]
            continue
        per_file[name] = {"dataset_score": rep["dataset_score"],
                          "grade": rep["grade"],
                          "n_rows": rep["n_rows"],
                          "n_columns": rep["n_columns"],
                          "exit_code": rep["exit_code"],
                          "issues_by_severity": rep["issues_by_severity"],
                          "report": rep}
    scores = [v["dataset_score"] for v in per_file.values()]
    report = {
        "input_dir": input_dir,
        "n_files": len(files),
        "n_audited": len(per_file),
        "failed_files": failed,
        "files": per_file,
        "summary": ({"avg_score": round(sum(scores) / len(scores), 1),
                     "min_score": min(scores), "max_score": max(scores),
                     "best_file": max(per_file,
                                      key=lambda k:
                                      per_file[k]["dataset_score"]),
                     "worst_file": min(per_file,
                                       key=lambda k:
                                       per_file[k]["dataset_score"])}
                    if scores else {}),
    }
    cfg = resolve(cfg)
    if cfg.foreign_keys:
        named = {fk[side] for fk in cfg.foreign_keys
                 for side in ("child_table", "parent_table")}
        tables = {}
        for path in files:
            name = _os.path.basename(path)
            stem = _os.path.splitext(name)[0]
            if stem in named and name not in failed:
                tables[stem] = read_csv_audited(spark, path)
        report["fk_checks"] = fk_violations(spark, cfg, tables)
    return report


def compare_csv_reports(ref: dict, cur: dict) -> dict:
    """CSV-vs-CSV drift (reference core/drift_detector.py:25-202 via
    ``--compare``): schema diff (missing / added / type-changed columns),
    per-shared-column null-rate delta (same 0.05/0.10 ladder as
    drift.py), cardinality delta, category add/remove for categoricals,
    score delta, and the summary severity + IMPROVING/DEGRADING/STABLE
    verdict.  Pure driver-side over two audit_csv reports — the heavy
    per-column statistics were already aggregated once per side."""
    from qualityspark.drift import RATE_DELTA_HIGH, RATE_DELTA_MEDIUM
    ra, rb = ref["columns"], cur["columns"]
    schema = {
        "missing_columns": sorted(set(ra) - set(rb)),
        "added_columns": sorted(set(rb) - set(ra)),
        "type_changes": {c: {"from": ra[c]["semantic_type"],
                             "to": rb[c]["semantic_type"]}
                         for c in set(ra) & set(rb)
                         if ra[c]["semantic_type"]
                         != rb[c]["semantic_type"]},
    }
    drifts = []
    for c in sorted(set(ra) & set(rb)):
        a, b = ra[c], rb[c]
        entry = {"column": c,
                 "null_rate_delta": round(b["null_pct"] - a["null_pct"],
                                          4),
                 "cardinality_delta": b["n_unique"] - a["n_unique"],
                 "score_delta": round(b["score"] - a["score"], 1)}
        d = abs(entry["null_rate_delta"])
        entry["severity"] = ("HIGH" if d >= RATE_DELTA_HIGH else
                             "MEDIUM" if d >= RATE_DELTA_MEDIUM else
                             "PASS")
        if "categories" in a and "categories" in b:
            sa, sb = set(a["categories"]), set(b["categories"])
            entry["categories_added"] = sorted(sb - sa)
            entry["categories_removed"] = sorted(sa - sb)
            if entry["categories_added"] or entry["categories_removed"]:
                entry["severity"] = max(
                    entry["severity"], "MEDIUM",
                    key=["PASS", "MEDIUM", "HIGH"].index)
        drifts.append(entry)
    score_delta = cur["dataset_score"] - ref["dataset_score"]
    trend = ("IMPROVING" if score_delta > 5 else
             "DEGRADING" if score_delta < -5 else "STABLE")
    sev_rank = ["PASS", "MEDIUM", "HIGH"]
    worst = max((d["severity"] for d in drifts), key=sev_rank.index,
                default="PASS")
    if schema["missing_columns"] or schema["type_changes"]:
        worst = "HIGH"
    return {"schema_diff": schema,
            "column_drifts": [d for d in drifts
                              if d["severity"] != "PASS"
                              or abs(d["score_delta"]) > 0],
            "dataset_score_delta": round(score_delta, 1),
            "trend": trend,
            "summary_severity": worst,
            "total_columns_compared": len(drifts)}


def compare_csv(spark: SparkSession, reference_path: str,
                current_path: str, cfg=None) -> dict:
    ref = audit_csv(spark, reference_path, cfg=cfg)
    cur = audit_csv(spark, current_path, cfg=cfg)
    out = compare_csv_reports(ref, cur)
    out["reference"] = reference_path
    out["current"] = current_path
    return out


def fk_violations(spark: SparkSession, cfg,
                  tables: dict[str, DataFrame]) -> list[dict]:
    """Execute the config's declared foreign_keys (reference
    core/referential_integrity.py:91-126 semantics, same plan shape as
    queries.fk_orphans): per declared pair, ONE job — a LEFT join of the
    non-null child keys against the broadcast distinct parent-key
    projection, aggregated to (n_child, orphans) in the same pass (a
    missing parent leaves _pk NULL).  The r4 shape ran a LEFT ANTI count
    plus a separate child count — two scans of the child per FK (r4
    VERDICT item 5).  Unknown table names are reported, not raised (the
    reference logs and continues)."""
    results = []
    for fk in cfg.foreign_keys:
        child, parent = fk["child_table"], fk["parent_table"]
        if child not in tables or parent not in tables:
            results.append({**fk, "status": "SKIPPED",
                            "detail": "table not supplied"})
            continue
        ck, pk = fk["child_column"], fk["parent_column"]
        c_df, p_df = tables[child], tables[parent]
        if ck not in c_df.columns or pk not in p_df.columns:
            results.append({**fk, "status": "SKIPPED",
                            "detail": "column missing"})
            continue
        parent_keys = p_df.select(F.col(f"`{pk}`").alias("_pk")).distinct()
        row = (c_df.filter(F.col(f"`{ck}`").isNotNull())
               .select(F.col(f"`{ck}`").alias("_ck"))
               .join(F.broadcast(parent_keys),
                     F.col("_ck") == F.col("_pk"), "left")
               .agg(F.count(F.lit(1)).alias("n_child"),
                    F.sum(F.col("_pk").isNull().cast("long"))
                    .alias("orphans"))
               .first())
        n_child, orphans = row["n_child"], int(row["orphans"] or 0)
        pct = orphans / n_child if n_child else 0.0
        sev = ("CRITICAL" if pct > 0.05 else
               "HIGH" if pct > 0.01 else
               "MEDIUM" if orphans else "PASS")
        results.append({**fk, "status": "CHECKED",
                        "orphan_count": int(orphans),
                        "orphan_pct": round(pct, 4), "severity": sev})
    return results


def audit_csv(spark: SparkSession, path: str, cfg=None,
              encoding: str | None = None, sep: str | None = None,
              schema: dict | None = None,
              date_col: str | None = None) -> dict:
    """Full CSV audit -> report dict (columns, per-column checks + score,
    dataset score + grade, dataset-level checks, recommendations).

    ``schema`` is an optional contract dict (schema_contract.load_contract
    output — reference --schema YAML); violations land in the report's
    ``schema_checks``, count toward issues_by_severity, and raise the exit
    code like any other finding.

    ``date_col`` names the temporal axis (reference --date-col,
    data_quality_auditor.py:125); when omitted the first detected date
    column is used for the temporal dataset checks."""
    from qualityspark.sources import read_csv_audited
    from qualityspark.scoring import dataset_score
    from qualityspark.reports import build_recommendations

    cfg = resolve(cfg)
    raw = read_csv_audited(spark, path, encoding=encoding, sep=sep)
    data_cols = [c for c in raw.columns if c != "_corrupt_record"]
    types = TI.detect_types(raw)
    # file position: monotone with file order for a deterministic CSV
    # scan (partitions follow split offsets) — feeds the half split and
    # the monotonicity window; added AFTER type detection so it is never
    # classified or audited itself
    raw = raw.withColumn("_pos", F.monotonically_increasing_id())
    tv = TI.auto_typed_view(raw, types)
    return _audit_frame(raw, tv, types, cfg, schema=schema,
                        date_col=date_col, label=path,
                        data_cols=data_cols)


def _audit_frame(raw, tv, types, cfg, schema=None, date_col=None,
                 label="", data_cols=None, skipped_columns=None) -> dict:
    """Shared audit engine behind audit_csv and table_audit.audit_table:
    runs the melted passes A/B/C, the stacked breadth passes, the melted
    categorical/date/id families, the dataset-level families, and
    assembles the report.  ``raw`` is the all-string frame (plus
    ``_pos``), ``tv`` is ``raw`` + ``<col>_typed`` columns, ``types``
    the semantic-type map — audit_csv derives all three from a CSV via
    the detection cascade; audit_table derives them from an
    already-typed DataFrame's schema (original columns pass through as
    the typed view, nothing is re-parsed)."""
    data_cols = data_cols if data_cols is not None else [
        c for c in raw.columns
        if c != "_corrupt_record" and c != "_pos"
        and not c.endswith("_typed")]
    date_axis = B.pick_date_axis(types, date_col)
    from qualityspark.scoring import dataset_score
    from qualityspark.reports import build_recommendations

    # ---- concurrent family submission (r7, guide §2.6): the audit's
    # wall-clock was dominated by ~30-100 SERIALIZED driver jobs, each
    # paying scheduler latency while 32 cores idled (measured: 110-col x
    # 5k-row file, 105 s wall vs ~15 s client CPU).  Families with no
    # data dependency are submitted from a driver thread pool
    # (qualityspark.parallel): phase 0 = pass A plus everything that
    # needs only raw/tv/types; phase 1 = everything that needs pass A's
    # statistics.  Assembly waits for every future, so the report equals
    # serial submission's (pinned by test_r7_fixes.py).  Every per-column
    # family aggregates the melted frame (module docstring). ----

    def fam_pass_a():
        return _pass_a_melted(tv, types, data_cols, date_axis)

    def fam_s1s2():
        # stacked breadth passes: each ONE job regardless of column count
        s1 = B.stacked_pass1(raw, data_cols)
        return s1, B.stacked_pass2(raw, data_cols, s1)

    def fam_mono():
        date_cols = [c for c, t in types.items() if t in _DATES]
        if not any("DATE_MONOTONICITY" in TI.checks_for_type(types[c])
                   for c in date_cols):
            return {}
        return B.monotonicity_melted(tv, date_cols)

    def fam_ndup():
        # exact duplicate rows: one groupBy over a row HASH, not the row
        # (a groupBy on all columns shuffles full-width rows; the sha2 of
        # the null-marked concatenation shuffles 32 bytes/row — exact up
        # to a 2^-256 collision).  \x1f separates fields, \x00 marks NULL
        # so ("a",NULL) never collides with ("a","")
        row_key = F.sha2(F.concat_ws(
            "\x1f", *[F.coalesce(F.col(f"`{c}`"), F.lit("\x00"))
                      for c in data_cols]), 256)
        return (raw.select(row_key.alias("k")).groupBy("k")
                .agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
                .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)))
                .first()[0])

    def fam_datevals():
        # per-date-column distinct-value stats (gaps + duplicates);
        # summaries are merged into ``stats`` at assembly time — their
        # keys (n_date_*) are only read by _column_checks
        dv_cols = [col for col, t in types.items() if t in _DATES
                   and {"DATE_SEQUENCE_GAPS", "DATE_DUPLICATES"}
                   & set(TI.checks_for_type(t))]
        return _date_values_melted(tv, dv_cols)

    def fam_idfmt():
        id_cols_sel = [col for col, t in types.items()
                       if t == TI.ID_CANDIDATE
                       and "ID_FORMAT_CONSISTENCY" in TI.checks_for_type(t)]
        return {col: ch for col, ch in
                _id_formats_melted(raw, id_cols_sel).items() if ch}

    from qualityspark.parallel import audit_pool, submit
    pool = audit_pool()
    try:
        fut_a = submit(pool, fam_pass_a, "pass_a")
        fut0 = {"s1s2": submit(pool, fam_s1s2, "s1s2"),
                "mono": submit(pool, fam_mono, "mono"),
                "ndup": submit(pool, fam_ndup, "ndup"),
                "datevals": submit(pool, fam_datevals, "datevals"),
                "idfmt": submit(pool, fam_idfmt, "idfmt")}
        row = fut_a.result()
    except BaseException:
        pool.shutdown(wait=False, cancel_futures=True)
        raise
    n_rows = row["::n_rows"]
    mid_pos = row.get("::mid_pos")
    date_q = row.get("::date_q")
    stats = {}
    for col in data_cols:
        st = {k.split("::", 1)[1]: v for k, v in row.items()
              if k.startswith(f"{col}::")}
        st["n_rows"] = n_rows
        q = st.get("q") or [None, None, None, None, None]
        st["p001"], st["q1"], st["med"], st["q3"], st["p999"] = (
            q[0], q[1], q[2], q[3], q[4])
        for d in range(1, 10):
            st.setdefault(f"bf{d}", 0)
        stats[col] = st

    def fam_bc():
        # pass B (outliers, MAD, VALUE_RANGE, per-half moments for the
        # split-half hypothesis family — csv_breadth module doc), then
        # pass C from pass B's literals
        outliers = {k: v for k, v in
                    _pass_b_melted(tv, types, stats, mid_pos).items()
                    if v is not None}
        passc = {k: v for k, v in
                 _pass_c_melted(tv, types, stats, outliers, mid_pos).items()
                 if v is not None}
        return outliers, passc

    def fam_ks():
        return B.ks_pass(
            tv, types, stats, date_axis,
            tuple(date_q) if date_q and date_q[0] is not None else None)

    def fam_cats():
        return _catstats_melted(raw, types, stats)

    def fam_chi2():
        return B.chi2_pair_pass(raw, types, stats)

    def fam_xcol():
        return B.cross_column_pass(tv, types, stats, n_rows)

    def fam_temporal():
        if not date_axis:
            return {"dataset": [], "by_col": {}}
        return B.temporal_pass(
            tv, types, stats, date_axis, n_rows,
            {c: TI.TEMPORAL_DATASET_CHECKS for c, t in types.items()
             if t in _NUMERIC})

    fut1 = {"bc": submit(pool, fam_bc, "bc"),
            "ks": submit(pool, fam_ks, "ks"),
            "cats": submit(pool, fam_cats, "cats"),
            "chi2": submit(pool, fam_chi2, "chi2"),
            "xcol": submit(pool, fam_xcol, "xcol"),
            "temporal": submit(pool, fam_temporal, "temporal")}

    # ---- resolve every family; from here on the code is the serial
    # assembly it always was ----
    try:
        s1, s2 = fut0["s1s2"].result()
        mono = fut0["mono"].result()
        n_dup = fut0["ndup"].result()
        datevals = fut0["datevals"].result()
        id_checks = fut0["idfmt"].result()
        outliers, passc = fut1["bc"].result()
        ks_res = fut1["ks"].result()
        catstats = fut1["cats"].result()
        chi2_per_col, cat_assoc = fut1["chi2"].result()
        xcol_checks = fut1["xcol"].result()
        temporal = fut1["temporal"].result()
    finally:
        pool.shutdown(wait=True)

    dup_pct = n_dup / n_rows if n_rows else 0.0

    # per-date-column summaries merge into stats now (their keys are read
    # only by _column_checks below)
    date_gaps = {}
    for col, (summary, gap) in datevals.items():
        stats[col].update(summary)
        if gap and "DATE_SEQUENCE_GAPS" in TI.checks_for_type(types[col]):
            date_gaps[col] = gap

    dataset_checks = xcol_checks
    if cat_assoc:
        dataset_checks.append(cat_assoc)
    dataset_checks += B.pii_dataset_checks(s1, n_rows)
    dataset_checks += temporal["dataset"]

    breadth = {"s1": s1, "s2": s2, "passc": passc, "ks": ks_res,
               "mono": mono, "date_gaps": date_gaps,
               "chi2_per_col": chi2_per_col, "id_checks": id_checks,
               "temporal_by_col": temporal["by_col"],
               "date_axis": date_axis}

    # ---- assemble: per-column checks + scores ----
    columns = {}
    col_scores, null_pcts = {}, {}
    all_failed = []
    for col in data_cols:
        t = types[col]
        checks = _column_checks(col, t, stats[col], outliers, catstats,
                                cfg, breadth=breadth)
        score = 100.0
        for ch in checks:
            if not ch["passed"]:
                score -= cfg.deduction(ch["severity"])
        score = max(0.0, score)
        columns[col] = {"semantic_type": t,
                        "type_label": TI.friendly_type(t),
                        "selected_checks": TI.checks_for_type(t),
                        "checks": checks,
                        "score": round(score, 1),
                        "grade": C.grade_from_score(score),
                        "null_pct": round(stats[col]["n_null"] / n_rows, 4)
                        if n_rows else 1.0,
                        "n_unique": int(stats[col]["n_unique"])}
        if col in catstats:
            columns[col]["categories"] = catstats[col]["values"][:50]
        col_scores[col] = score
        null_pcts[col] = stats[col]["n_null"] / n_rows if n_rows else 1.0
        all_failed += [{"rule": ch["check_id"], "severity": ch["severity"],
                        **_affected(ch, n_rows), "column": col}
                       for ch in checks if not ch["passed"]]

    table_checks = [_check("DUPLICATE_ROWS",
                           _sev(dup_pct, C.THRESHOLDS_DUPLICATE), dup_pct)]
    for ch in table_checks:
        if not ch["passed"]:
            all_failed.append({"rule": ch["check_id"],
                               "severity": ch["severity"],
                               "affected_count": int(n_dup),
                               "affected_pct": dup_pct, "column": "*"})
    table_checks += dataset_checks
    for ch in dataset_checks:
        if not ch["passed"]:
            all_failed.append({"rule": ch["check_id"],
                               "severity": ch["severity"],
                               **_affected(ch, n_rows),
                               "column": ch.get("column", "__dataset__")})

    schema_checks = None
    if schema:
        from qualityspark.schema_contract import validate_semantic
        schema_checks = validate_semantic(raw, tv, types, schema)
        all_failed += [{"rule": r["check_id"], "severity": r["severity"],
                        "affected_count": r["affected_count"],
                        "affected_pct": r.get("affected_pct", 0.0),
                        "column": r["column"]}
                       for r in schema_checks if not r["passed"]]

    score = dataset_score(col_scores, null_pcts,
                          cfg.column_weights or None)
    issues = {s: 0 for s in ("CRITICAL", "HIGH", "MEDIUM", "LOW", "INFO")}
    for f in all_failed:
        if f["severity"] in issues:
            issues[f["severity"]] += 1
    return {
        "input": label, "n_rows": int(n_rows), "n_columns": len(data_cols),
        "column_types": types,
        "date_axis": date_axis,
        **({"skipped_columns": skipped_columns}
           if skipped_columns else {}),
        "columns": columns,
        **({"schema_checks": schema_checks}
           if schema_checks is not None else {}),
        "table_checks": table_checks,
        "dataset_score": round(score, 1),
        "grade": C.grade_from_score(score),
        "issues_by_severity": issues,
        "recommendations": build_recommendations(all_failed),
        # reference exit-code mapping (data_quality_auditor.py:308-314)
        "exit_code": (2 if issues["CRITICAL"] else
                      1 if sum(issues.values()) else 0),
    }
