"""Breadth layer for the generic-CSV audit: executes EVERY check id that
``typeinfer.select_checks`` advertises (r5 VERDICT item 1 — the selected
set and the executed set must coincide) plus the reference's dataset-level
families (cross-column, null patterns, PII, temporal).

Reference semantics per check are cited inline (checks/*.py of the
reference repo).  Execution shape — the job count stays O(1) in COLUMN
WIDTH: each per-column family unpivots the columns it reads to (col,
value) rows (sources.melt) and aggregates with one groupBy
keyed on the column, so the plan stays a few fields wide at any width
and never meets the codegen maxFields cliff a 1000-column single
aggregate would hit.  The same shape runs csv_audit's passes A/B/C and
its categorical / date-value / id-format families:

  stacked pass S1 — ONE job: every string column unpivoted to (col, value)
      rows, then one hash-aggregate per column computing the shared mask
      counts (null-like / encoding / ellipsis / 8 PII patterns) + length
      quantiles.
  stacked pass S2 — ONE job: the masks that need S1 literals (truncation
      at max length, length-IQR outliers), literals shipped as a
      broadcast-safe CASE map.
  KS pass       — ONE job: every numeric column's z-score bucketed
      (width 0.02σ, clamped ±8σ) in one unpivot + groupBy; the driver
      finishes D and the Kolmogorov p from the bounded histogram.  When a
      date axis exists the same job also tags temporal Q1/Q4 rows so
      TEMPORAL_DRIFT's KS-2-sample rides the same scan.
  monotonicity  — ONE job: a prev-value window partitioned by (column,
      spark partition); partition boundaries are walked driver-side.
  cross-column  — ONE groupBy over pairs: the columns it reads projected
      into one double array per row, each row exploded once per checked
      pair (Pearson, point-biserial, null-indicator, MCAR) and grouped by
      the pair index, so the plan stays the same size at any pair count
      (pair caps documented per check).
  temporal pass — ONE groupBy(period, column) job: per-period null rates +
      numeric means; ACF/seasonality/CUSUM finish driver-side on the
      bounded per-period series.

Deliberate deviations from the reference, each documented at the check:
  * MEAN_SHIFT's non-parametric branch (Mann-Whitney) and MCAR's
    Mann-Whitney are replaced by Welch t on per-group aggregates — an
    exact-rank job PER COLUMN PAIR is the one shape that does not survive
    a 1000-column 100-TB table.  The exact rank statistics exist as
    DuckDB-oracled registry operators (mann_whitney_halves, mcar_probe).
  * halves are file-position halves (monotonically_increasing_id median),
    not per-column valid-value halves — same intent (early-vs-late drift),
    one global split instead of a rank pass per column.
  * KS statistics are histogram-approximated (resolution 0.02σ / bucket
    mass); both checks are informational in the reference.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from qualityspark import constants as C
from qualityspark import statsx
from qualityspark import typeinfer as TI
from qualityspark.rules import masks as M
from qualityspark.sources import lit_join, melt, quoted_col

ALPHA = 0.05                 # reference hypothesis_checks.py:21
_SAMPLE_CAP = 5
# pair caps for the cross-column job (reference cross_column_checks caps
# VIF at 50 columns / chi2 at 5 pairs per column; the Spark path also caps
# the Pearson pair scan, which bounds the rows the pair explode emits and
# the checks' report contents)
MAX_CORR_COLS = 25
MAX_NULLCORR_COLS = 20
MAX_PB_BOOL_COLS = 20        # point-biserial bool fan-out cap (r6 ADVICE)
MAX_MCAR_NULL_COLS = 5       # reference null_pattern_checks.py:124
MAX_MCAR_TESTED_COLS = 10
MAX_CHI2_PAIRS = 10
MAX_CHI2_PAIRS_PER_COL = 5   # reference hypothesis_checks.py:318
MAX_TYPO_CATS = 200          # reference categorical_checks.py:160
MAX_DATE_DISTINCT = 50_000   # date-gap driver collect cap (documented)
KS_BUCKET_SCALE = 50         # bucket width 0.02σ
KS_BUCKET_CLAMP = 400        # ±8σ

_NUMERIC = (TI.NUMERIC_CONTINUOUS, TI.NUMERIC_DISCRETE)
_DATES = (TI.DATE, TI.DATETIME)
_LADDER = TI.DATE_FORMATS + TI.DATETIME_FORMATS


def _check(check_id, severity, value, detail="", samples=None,
           passed_ok=("PASS",), column=None):
    """CheckResult dict in csv_audit's shape; ``passed_ok`` lists the
    severities that count as passed (the reference treats INFO as passed
    for LENGTH_OUTLIERS / DATE_DUPLICATES, failed for VALUE_RANGE)."""
    out = {"check_id": check_id, "severity": severity,
           "passed": severity in passed_ok,
           "value": round(float(value), 4), "detail": detail}
    if samples:
        out["sample_values"] = [str(v) for v in samples][:_SAMPLE_CAP]
    if column is not None:
        out["column"] = column
    return out


# =========================================================================
# Stacked pass S1: per-string-column mask counts in ONE unpivoted job
# =========================================================================

def stacked_pass1(raw: DataFrame, cols: list[str]) -> dict[str, dict]:
    """One job over the unpivoted frame: null-like / encoding / ellipsis /
    PII counts + bounded min/max samples + length quantiles per column.
    Reference: text_checks.py:135-207, categorical_checks.py:84-112,
    pii_checks.py:62-117 (PII scans EVERY column, dataset-level)."""
    if not cols:
        return {}
    u = melt(raw, {c: quoted_col(c).cast("string") for c in cols})
    v = F.col("v")
    s = F.trim(v)
    ne = v.isNotNull() & (s != "")
    ln = F.when(ne, F.length(s))
    nl = M.null_like_string_mask(v)
    enc = M.encoding_anomaly_mask(v)
    ell = M.trunc_ellipsis_mask(v)
    aggs = [
        F.sum(ne.cast("long")).alias("n_ne"),
        F.sum(nl.cast("long")).alias("n_null_like"),
        F.min(F.when(nl, s)).alias("s_nl_min"),
        F.max(F.when(nl, s)).alias("s_nl_max"),
        F.sum(enc.cast("long")).alias("n_enc"),
        F.min(F.when(enc, s)).alias("s_enc_min"),
        F.max(F.when(enc, s)).alias("s_enc_max"),
        F.sum(ell.cast("long")).alias("n_ellipsis"),
        F.min(F.when(ell, s)).alias("s_ell_min"),
        F.sum(M.trunc_eligible_mask(v).cast("long")).alias("n_trunc_elig"),
        F.max(ln).alias("len_max"),
        F.percentile_approx(ln, [0.25, 0.5, 0.75], 10000).alias("len_q"),
        F.count(ln).alias("n_len"),
    ]
    for name, mask in M.pii_masks(v).items():
        aggs += [F.sum(mask.cast("long")).alias(f"pii_{name}"),
                 F.min(F.when(mask, s)).alias(f"pii_s_{name}")]
    by_k = {r["k"]: r.asDict() for r in u.groupBy("k").agg(*aggs).collect()}
    # in ``cols`` order, not collect order: pii_dataset_checks walks it,
    # and the collect order follows spark.sql.shuffle.partitions
    return {col: by_k[col] for col in cols if col in by_k}


def stacked_pass2(raw: DataFrame, cols: list[str],
                  s1: dict[str, dict]) -> dict[str, dict]:
    """One job for the masks needing S1 literals: truncation-at-max-length
    (text_checks.py:171-207) and length-IQR outliers (:92-133).  Literals
    ride as per-column CASE maps — no per-column job."""
    work = []
    for col in cols:
        st = s1.get(col) or {}
        q = st.get("len_q") or [None, None, None]
        if st.get("len_max") is None:
            continue
        lq1, lmed, lq3 = q[0], q[1], q[2]
        if lq1 is None:
            continue
        work.append((col, int(st["len_max"]), float(lq1), float(lmed),
                     float(lq3)))
    if not work:
        return {}
    u = melt(raw, {w[0]: quoted_col(w[0]).cast("string") for w in work})
    # per-column literals ride sources.lit_join — the previous per-column
    # CASE chains were O(n_cols) per value, interpreted: measured 73 s at
    # 300 cols x 20k rows for this pass alone, 6 s with the join
    u = lit_join(u, [(w[0], float(w[1]), float(w[2]), float(w[3]),
                      float(w[4])) for w in work],
                 "k string, max_len double, lq1 double, lmed double,"
                 " lq3 double")
    v, k = F.col("v"), F.col("k")
    s = F.trim(v)
    ne = v.isNotNull() & (s != "")
    ln = F.length(s)
    max_len, lq1, lmed, lq3 = (F.col("max_len"), F.col("lq1"),
                               F.col("lmed"), F.col("lq3"))
    iqr = lq3 - lq1
    # reference: iqr==0 -> any length != median is an outlier
    len_out = ne & F.when(iqr == 0, ln != lmed).otherwise(
        (ln < lq1 - 1.5 * iqr) | (ln > lq3 + 1.5 * iqr))
    abrupt = M.trunc_abrupt_mask(v, max_len.cast("int"))
    rows = (u.groupBy("k")
            .agg(F.sum(len_out.cast("long")).alias("n_len_out"),
                 F.min(F.when(len_out, s)).alias("s_len_min"),
                 F.max(F.when(len_out, s)).alias("s_len_max"),
                 F.sum(abrupt.cast("long")).alias("n_abrupt"),
                 F.min(F.when(abrupt, s)).alias("s_abrupt_min"))
            .collect())
    return {r["k"]: r.asDict() for r in rows}


# =========================================================================
# Per-column breadth checks from the collected stats
# =========================================================================

def text_breadth_checks(col, t, s1, s2, selected) -> list[dict]:
    """NULL_LIKE_STRINGS / ENCODING_ANOMALY / TRUNCATION_SIGNS /
    LENGTH_OUTLIERS / PII per-column findings from the stacked passes."""
    checks = []
    st = s1.get(col) or {}
    st2 = s2.get(col) or {}
    n_ne = st.get("n_ne") or 0
    if not n_ne:
        return checks

    if "NULL_LIKE_STRINGS" in selected:
        # text_checks.py:150-163 ladder: HIGH>.10, MEDIUM>.02, LOW>0
        pct = (st.get("n_null_like") or 0) / n_ne
        sev = ("HIGH" if pct > 0.10 else "MEDIUM" if pct > 0.02
               else "LOW" if pct > 0 else "PASS")
        checks.append(_check(
            "NULL_LIKE_STRINGS", sev, pct,
            f"{st.get('n_null_like') or 0} null-like strings",
            samples=[x for x in (st.get("s_nl_min"), st.get("s_nl_max"))
                     if x is not None]))

    if "ENCODING_ANOMALY" in selected:
        # categorical_checks.py:84-112: HIGH>.05, MEDIUM if any
        n = st.get("n_enc") or 0
        pct = n / n_ne
        sev = "HIGH" if pct > 0.05 else "MEDIUM" if n else "PASS"
        checks.append(_check(
            "ENCODING_ANOMALY", sev, pct,
            f"{n} values with control/replacement chars",
            samples=[repr(x) for x in (st.get("s_enc_min"),
                                       st.get("s_enc_max"))
                     if x is not None]))

    if "TRUNCATION_SIGNS" in selected:
        # text_checks.py:171-207: denominator = len>5 values, min 10;
        # MEDIUM>.05, LOW if any.  ellipsis-or-abrupt counts can overlap
        # only when an ...-ended value also ends in letters (impossible),
        # so the sum is exact.
        n_elig = st.get("n_trunc_elig") or 0
        if n_elig >= 10:
            n = (st.get("n_ellipsis") or 0) + (st2.get("n_abrupt") or 0)
            pct = n / n_elig
            sev = "MEDIUM" if pct > 0.05 else "LOW" if n else "PASS"
            checks.append(_check(
                "TRUNCATION_SIGNS", sev, pct,
                f"{n} values ending abruptly or in '...'",
                samples=[x for x in (st.get("s_ell_min"),
                                     st2.get("s_abrupt_min"))
                         if x is not None]))

    if "LENGTH_OUTLIERS" in selected and (st.get("n_len") or 0) >= 10:
        # text_checks.py:92-133: MEDIUM>.10, LOW>.02, INFO if any;
        # INFO counts as passed in the reference
        n = st2.get("n_len_out") or 0
        pct = n / n_ne
        sev = ("MEDIUM" if pct > 0.10 else "LOW" if pct > 0.02
               else "INFO" if n else "PASS")
        checks.append(_check(
            "LENGTH_OUTLIERS", sev, pct,
            f"{n} values with atypical length",
            samples=[x for x in (st2.get("s_len_min"),
                                 st2.get("s_len_max")) if x is not None],
            passed_ok=("PASS", "INFO")))
    return checks


def pii_dataset_checks(s1: dict[str, dict], n_rows: int) -> list[dict]:
    """PII_DETECTED, one finding per (column, pattern) over the 5%%
    match-rate floor (reference pii_checks.py:58-117, severity from the
    pattern table, samples masked)."""
    checks = []
    if not n_rows:
        return checks
    sev_by_name = {name: sev for name, _, sev in C.PII_PATTERNS}
    for col, st in s1.items():
        for name, _, _ in C.PII_PATTERNS:
            n = st.get(f"pii_{name}") or 0
            pct = n / n_rows
            if n and pct >= C.PII_MIN_MATCH_PCT:
                sample = st.get(f"pii_s_{name}")
                checks.append(_check(
                    "PII_DETECTED", sev_by_name[name], pct,
                    f"{name}: {n} matching rows", column=col,
                    samples=[C.mask_value(str(sample))] if sample else None))
    return checks


def numeric_breadth_checks(col, st, outliers, passc, selected) -> list:
    """VALUE_RANGE / OUTLIER_MODIFIED_Z / DISTRIBUTION_KURTOSIS /
    VARIANCE_SUDDEN_CHANGE / MEAN_SHIFT / VARIANCE_SHIFT from the pass
    B/C aggregates."""
    checks = []
    n_num = st.get("n_num") or 0
    if not n_num:
        return checks

    if "DISTRIBUTION_KURTOSIS" in selected and n_num >= 20:
        # numeric_checks.py:160-189: |kurt| >10 HIGH, >5 MEDIUM, >3 LOW
        kurt = st.get("kurt")
        if kurt is not None:
            a = abs(kurt)
            sev = ("HIGH" if a > 10 else "MEDIUM" if a > 5
                   else "LOW" if a > 3 else "PASS")
            checks.append(_check("DISTRIBUTION_KURTOSIS", sev, kurt,
                                 f"excess kurtosis {kurt:.2f}"))

    if "VALUE_RANGE" in selected and n_num >= 10:
        # numeric_checks.py:296-321: INFO when any row outside [p0.1,p99.9]
        n = outliers.get(f"{col}::vr", 0)
        pct = n / n_num
        sev = "INFO" if n else "PASS"
        checks.append(_check(
            "VALUE_RANGE", sev, pct,
            f"{n} values outside [p0.1={st.get('p001')}, "
            f"p99.9={st.get('p999')}]",
            samples=[x for x in (outliers.get(f"{col}::s_vr_min"),
                                 outliers.get(f"{col}::s_vr_max"))
                     if x is not None]))

    if "OUTLIER_MODIFIED_Z" in selected and n_num >= 10:
        # numeric_checks.py:100-134: MAD==0 -> PASS; |0.6745(x-med)/MAD|
        # > 3.5; OUTLIER_ZSCORE severity ladder
        mad = outliers.get(f"{col}::mad")
        if mad is not None and mad > 0:
            n = passc.get(f"{col}::modz", 0)
            pct = n / n_num
            sev = C.severity_from_thresholds(
                pct, {"CRITICAL": 0.05, "HIGH": 0.02, "MEDIUM": 0.01})
            checks.append(_check(
                "OUTLIER_MODIFIED_Z", sev, pct,
                f"{n} modified-Z outliers (MAD={mad:.4g})",
                samples=[x for x in (passc.get(f"{col}::s_modz_min"),
                                     passc.get(f"{col}::s_modz_max"))
                         if x is not None]))

    # -- split-half family: first vs second file half ------------------
    n1, n2 = outliers.get(f"{col}::h1_n") or 0, \
        outliers.get(f"{col}::h2_n") or 0
    m1, m2 = outliers.get(f"{col}::h1_mean"), outliers.get(f"{col}::h2_mean")
    v1, v2 = outliers.get(f"{col}::h1_var"), outliers.get(f"{col}::h2_var")

    if ("VARIANCE_SUDDEN_CHANGE" in selected and n_num >= 100
            and v1 is not None and v2 is not None):
        # numeric_checks.py:324-360: ratio of half variances, >5 flags
        if v1 == 0 and v2 == 0:
            ratio = 1.0
        elif v1 == 0 or v2 == 0:
            ratio = float("inf")
        else:
            ratio = max(v1, v2) / min(v1, v2)
        if ratio > 10:
            sev = "HIGH"
        elif ratio > 5.0:
            sev = "MEDIUM"
        else:
            sev = "PASS"
        checks.append(_check(
            "VARIANCE_SUDDEN_CHANGE", sev,
            min(ratio, 1e12),
            f"variance ratio first/second half = {ratio:.2f}"))

    normal_halves = _jb_normal(n1, outliers.get(f"{col}::h1_skew"),
                               outliers.get(f"{col}::h1_kurt")) and \
        _jb_normal(n2, outliers.get(f"{col}::h2_skew"),
                   outliers.get(f"{col}::h2_kurt"))

    if "MEAN_SHIFT" in selected and n1 >= 20 and n2 >= 20:
        # hypothesis_checks.py:122-166.  Parametric branch is the
        # reference's Welch; the Mann-Whitney branch is substituted by the
        # same Welch with the gate outcome recorded (exact MW exists as
        # the mann_whitney_halves registry operator; see module doc).
        t, df, p = statsx.welch(n1, m1, v1, n2, m2, v2)
        sig = p < ALPHA
        diff_pct = (abs(m1 - m2) / abs(m1) * 100
                    if m1 not in (None, 0) and m2 is not None else 0.0)
        sev = ("HIGH" if sig and diff_pct > 20 else
               "MEDIUM" if sig else "PASS")
        gate = "parametric" if normal_halves else \
            "non-normal halves (Welch substituted for Mann-Whitney)"
        checks.append(_check(
            "MEAN_SHIFT", sev, p,
            f"Welch t={t:.4g} df={df:.4g} [{gate}]; "
            f"half means {m1:.4g} vs {m2:.4g} (Δ{diff_pct:.1f}%)"))

    if "VARIANCE_SHIFT" in selected and n1 >= 20 and n2 >= 20:
        # hypothesis_checks.py:211-262: Bartlett if both halves normal
        # (JB gate), else Brown-Forsythe Levene from |x-median| moments
        if normal_halves:
            stat, p = statsx.bartlett_2(n1, v1, n2, v2)
            test = "Bartlett"
        else:
            stat, p = statsx.levene_2(
                n1, passc.get(f"{col}::h1_zmean"),
                passc.get(f"{col}::h1_zvar"),
                n2, passc.get(f"{col}::h2_zmean"),
                passc.get(f"{col}::h2_zvar"))
            test = "Levene(median)"
        sig = (p == p) and p < ALPHA   # NaN-safe
        var_ratio = (v1 / v2) if v2 else float("inf")
        sev = ("HIGH" if sig and (var_ratio > 3 or var_ratio < 1 / 3)
               else "MEDIUM" if sig else "PASS")
        checks.append(_check(
            "VARIANCE_SHIFT", sev, p if p == p else 1.0,
            f"{test} stat={stat:.4g}; half vars {v1:.4g} vs {v2:.4g}"))
    return checks


def _jb_normal(n, skew, kurt) -> bool:
    """Jarque-Bera normality gate (substitutes the reference's
    Shapiro/D'Agostino gate, hypothesis_checks.py:39-49 — same p>0.05
    decision on aggregates this engine already computes)."""
    if not n or n < 8 or skew is None or kurt is None:
        return False
    jb = n / 6.0 * (skew * skew + kurt * kurt / 4.0)
    return math.exp(-jb / 2.0) > ALPHA


# =========================================================================
# KS pass: 1-sample KS vs N(mu,sd) + temporal-drift KS (Q1 vs Q4)
# =========================================================================

def ks_pass(tv: DataFrame, types: dict, stats: dict,
            date_axis: str | None, date_q: tuple | None) -> dict:
    """ONE unpivoted job bucketing every eligible numeric column's z-score;
    returns {col: {"ks": (d, p, n), "drift": (d, p, n1, n4) | None}}.
    Histogram resolution 0.02σ — documented approximation for the
    reference's exact kstest (both checks are informational)."""
    elig = []
    for col, t in types.items():
        st = stats.get(col) or {}
        if (t in _NUMERIC and (st.get("n_num") or 0) >= 20
                and (st.get("std") or 0) > 0):
            elig.append((col, float(st["mean"]), float(st["std"])))
    if not elig:
        return {}
    buckets = {}
    for col, mu, sd in elig:
        z = (F.col(f"`{col}_typed`") - mu) / sd
        buckets[col] = F.least(F.greatest(F.floor(z * KS_BUCKET_SCALE),
                                          F.lit(-KS_BUCKET_CLAMP - 1)),
                               F.lit(KS_BUCKET_CLAMP)).cast("int")
    qt = F.lit(0)
    if date_axis and date_q:
        q1_ts, q3_ts = float(date_q[0]), float(date_q[1])
        # epoch-second boundaries from pass A's percentile sketch
        d = F.col(f"`{date_axis}_typed`").cast("timestamp").cast("double")
        qt = (F.when(d <= q1_ts, 1).when(d >= q3_ts, 4).otherwise(0))
    rows = (melt(tv, buckets, qt.alias("qt")).filter(F.col("v").isNotNull())
            .groupBy("k", "qt", F.col("v").alias("b"))
            .agg(F.count(F.lit(1)).alias("n")).collect())
    by_col: dict[str, dict[int, dict[int, int]]] = {}
    for r in rows:
        by_col.setdefault(r["k"], {}).setdefault(r["qt"], {})[r["b"]] = \
            r["n"]
    out = {}
    for col, mu, sd in elig:
        qts = by_col.get(col) or {}
        full = {}
        for qt, hist in qts.items():
            for b, n in hist.items():
                full[b] = full.get(b, 0) + n
        out[col] = {"ks": _ks_vs_normal(full),
                    "drift": (_ks_two_hist(qts.get(1) or {},
                                           qts.get(4) or {})
                              if date_axis and date_q else None)}
    return out


def _ks_vs_normal(hist: dict[int, int]):
    n = sum(hist.values())
    if n < 20:
        return None
    d, cum = 0.0, 0
    for b in sorted(hist):
        phi_lo = statsx.norm_cdf(b / KS_BUCKET_SCALE)
        d = max(d, abs(cum / n - phi_lo))
        cum += hist[b]
        phi_hi = statsx.norm_cdf((b + 1) / KS_BUCKET_SCALE)
        d = max(d, abs(cum / n - phi_hi))
    return d, statsx.ks_1sample_p(d, n), n


def _ks_two_hist(h1: dict[int, int], h4: dict[int, int]):
    n1, n4 = sum(h1.values()), sum(h4.values())
    if n1 < 10 or n4 < 10:
        return None
    d, c1, c4 = 0.0, 0, 0
    for b in sorted(set(h1) | set(h4)):
        c1 += h1.get(b, 0)
        c4 += h4.get(b, 0)
        d = max(d, abs(c1 / n1 - c4 / n4))
    return d, statsx.ks_2sample_p(d, n1, n4), n1, n4


def ks_checks(col, res, selected) -> list[dict]:
    checks = []
    if "KS_GOODNESS_FIT" in selected and res.get("ks"):
        # hypothesis_checks.py:267-288: INFO when not normal
        d, p, n = res["ks"]
        fits = p > ALPHA
        checks.append(_check(
            "KS_GOODNESS_FIT", "PASS" if fits else "INFO", p,
            f"KS D≈{d:.4f} vs N(mean,std), n={n} (histogram approx)"))
    if "TEMPORAL_DRIFT" in selected and res.get("drift"):
        # date_checks.py:309-368: KS Q1-vs-Q4 by date; HIGH p<.001
        d, p, n1, n4 = res["drift"]
        has = p < ALPHA
        sev = "HIGH" if has and p < 0.001 else "MEDIUM" if has else "PASS"
        checks.append(_check(
            "TEMPORAL_DRIFT", sev, p,
            f"KS Q1({n1}) vs Q4({n4}) by date: D≈{d:.4f}"))
    return checks


# =========================================================================
# Date-column breadth: format mix, duplicates, gaps, monotonicity
# =========================================================================

def date_format_checks(col, st, selected) -> list[dict]:
    checks = []
    if "DATE_FORMAT_MIX" in selected:
        # date_checks.py:69-107: CRITICAL>=4 formats, HIGH>=2
        fmt_counts = {i: st.get(f"fmt{i}") or 0
                      for i in range(len(_LADDER))}
        found = {i: n for i, n in fmt_counts.items() if n}
        n_formats = len(found)
        sev = ("CRITICAL" if n_formats >= 4 else
               "HIGH" if n_formats >= 2 else "PASS")
        samples = [st.get(f"fmt_s{i}") for i in sorted(found)][:5]
        checks.append(_check(
            "DATE_FORMAT_MIX", sev, n_formats,
            "formats: " + ", ".join(_LADDER[i] for i in sorted(found)),
            samples=[x for x in samples if x is not None]))
    if "DATE_DUPLICATES" in selected:
        # date_checks.py:215-246: duplicated(keep=False) share of valid
        # dates; MEDIUM>.50, LOW>.10, INFO if any (INFO passes)
        n_valid = st.get("n_date_valid") or 0
        n_distinct = st.get("n_date_distinct") or 0
        if n_valid:
            n_dup_vals = st.get("n_dup_dates") or 0
            pct = n_dup_vals / n_valid
            sev = ("MEDIUM" if pct > 0.50 else "LOW" if pct > 0.10
                   else "INFO" if n_dup_vals else "PASS")
            checks.append(_check(
                "DATE_DUPLICATES", sev, pct,
                f"{n_dup_vals} rows sharing a duplicated date "
                f"({n_distinct} distinct)", passed_ok=("PASS", "INFO")))
    return checks


def _gap_check_from_rows(rows) -> dict | None:
    """DATE_SEQUENCE_GAPS (date_checks.py:168-213): diffs of the SORTED
    raw values — each duplicate contributes a zero diff, so the median
    diff and gap count are exactly reconstructable from the bounded
    (distinct value, count) frame."""
    if len(rows) < 2:
        return None
    # sorted multiset diffs: (count-1) zeros per duplicated value + one
    # positive diff per adjacent distinct pair
    n_zero = sum(r["n"] - 1 for r in rows)
    pos = [(rows[i + 1]["d"] - rows[i]["d"]).total_seconds()
           for i in range(len(rows) - 1)]
    all_n = n_zero + len(pos)
    if all_n == 0:
        return None
    # median over the implied multiset [0]*n_zero + sorted(pos)
    pos.sort()
    mid = (all_n - 1) / 2.0
    lo_i, hi_i = int(math.floor(mid)), int(math.ceil(mid))

    def _at(i):
        return 0.0 if i < n_zero else pos[i - n_zero]

    median = (_at(lo_i) + _at(hi_i)) / 2.0
    if median == 0:
        return _check("DATE_SEQUENCE_GAPS", "PASS", 0.0,
                      "median diff between dates is 0")
    gaps = sum(1 for p in pos if p > 3 * median)
    sev = ("HIGH" if gaps > 10 else "MEDIUM" if gaps > 3
           else "LOW" if gaps else "PASS")
    return _check(
        "DATE_SEQUENCE_GAPS", sev, gaps,
        f"{gaps} gaps > 3x median diff ({median:.0f}s)")


def monotonicity_melted(tv: DataFrame, date_cols: list[str]) -> dict:
    """DATE_MONOTONICITY (date_checks.py:248-275) for every date column in
    ONE job.  Melting moves the column into the window key —
    partitionBy(col, spark_partition_id) — so the plan has ONE prev-value
    window regardless of width (two window columns per date column
    measured 29 s at 60 columns) and never a single-partition sort.
    Within-partition violations are counted by the window; the
    cross-partition boundaries are checked driver-side over the bounded
    per-partition (first, last) list."""
    if not date_cols:
        return {}
    u = melt(tv, {col: F.col(f"`{col}_typed`").cast("timestamp")
                  for col in date_cols},
             F.spark_partition_id().alias("pid"), F.col("_pos").alias("pos"))
    w = (Window.partitionBy("k", "pid").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, -1))
    d = F.col("v")
    prev = F.last(d, ignorenulls=True).over(w)
    rows = (u.withColumn("iv", (d.isNotNull() & prev.isNotNull()
                                & (d < prev)).cast("long"))
            .withColumn("dv", (d.isNotNull() & prev.isNotNull()
                               & (d > prev)).cast("long"))
            .groupBy("k", "pid")
            .agg(F.min("pos").alias("min_pos"),
                 F.sum("iv").alias("iv"), F.sum("dv").alias("dv"),
                 F.min_by(d, F.when(d.isNotNull(), F.col("pos")))
                 .alias("first"),
                 F.max_by(d, F.when(d.isNotNull(), F.col("pos")))
                 .alias("last"))
            .collect())
    by_col: dict[str, list] = {}
    for r in rows:
        by_col.setdefault(r["k"], []).append(r.asDict())
    out = {}
    for col in date_cols:
        parts = sorted(by_col.get(col, []),
                       key=lambda r: (r["min_pos"] is None, r["min_pos"]))
        inc_ok = all((p["iv"] or 0) == 0 for p in parts)
        dec_ok = all((p["dv"] or 0) == 0 for p in parts)
        lasts = [(p["last"], p["first"]) for p in parts
                 if p["first"] is not None]
        for (la, _), (_, fb) in zip(lasts, lasts[1:]):
            if la is not None and fb is not None:
                if fb < la:
                    inc_ok = False
                if fb > la:
                    dec_ok = False
        if inc_ok or dec_ok:
            direction = "ascending" if inc_ok else "descending"
            out[col] = _check("DATE_MONOTONICITY", "PASS", 1.0,
                              f"monotonically {direction}")
        else:
            out[col] = _check("DATE_MONOTONICITY", "INFO", 0.0,
                              "date column is not sorted",
                              passed_ok=("PASS", "INFO"))
    return out


# =========================================================================
# Cross-column dataset pass (reference cross_column_checks.py,
# null_pattern_checks.py) — ONE pair-melted groupBy
# =========================================================================

# what every pair group aggregates: a_/b_ are the pair's two values where
# both are present (pairwise-complete co-moments), bm/bp the second value
# where the first is 1.0 / 0.0 (MCAR pairs only, NULL elsewhere)
_PAIR_AGGS = (("n", "count(a_)"), ("sa", "sum(a_)"), ("sb", "sum(b_)"),
              ("sab", "sum(a_ * b_)"), ("saa", "sum(a_ * a_)"),
              ("sbb", "sum(b_ * b_)"),
              ("mn", "count(bm)"), ("ma", "avg(bm)"), ("mv", "var_samp(bm)"),
              ("pn", "count(bp)"), ("pa", "avg(bp)"), ("pv", "var_samp(bp)"))


def _pair_moments(df: DataFrame, x: list, pairs: list[tuple],
                  mcar_from: int) -> dict:
    """``{f"{key}{agg}": value}`` for each ``(key, i, j)`` of ``pairs``
    and each _PAIR_AGGS aggregate over ``x[i]``, ``x[j]`` (double
    Columns), from one plan whose size does not grow with the pair
    count: ``x`` is projected once into an array, each row is exploded
    once per pair (two literal int arrays name its elements) and grouped
    by the pair index.  Each group adds its rows in task row order, as a
    global aggregate per pair does, so the values are that aggregate's
    (tests/test_csv_breadth.py pins this on two partitions)."""
    idx = [", ".join(str(p[k]) for p in pairs) for k in (1, 2)]
    u = (df.select(F.array(*x).alias("x"))
         .selectExpr(f"explode(sequence(0, {len(pairs) - 1})) AS p", "x")
         .selectExpr("p", f"x[array({idx[0]})[p]] AS a",
                     f"x[array({idx[1]})[p]] AS b")
         .selectExpr("p", "CASE WHEN b IS NOT NULL THEN a END AS a_",
                     "CASE WHEN a IS NOT NULL THEN b END AS b_",
                     f"CASE WHEN p >= {mcar_from} AND a = 1.0D THEN b END"
                     " AS bm",
                     f"CASE WHEN p >= {mcar_from} AND a = 0.0D THEN b END"
                     " AS bp"))
    rows = u.groupBy("p").agg(*[F.expr(e).alias(n)
                                for n, e in _PAIR_AGGS]).collect()
    return {pairs[r["p"]][0] + n: r[n] for r in rows for n, _ in _PAIR_AGGS}


def cross_column_pass(tv: DataFrame, types: dict, stats: dict,
                      n_rows: int) -> list[dict]:
    """HIGH_CORRELATION / MULTICOLLINEARITY_VIF / POINT_BISERIAL /
    NULL_CORRELATION / NULL_ROW_PATTERN / MCAR_VIOLATION from one
    ``_pair_moments`` groupBy: each Pearson, point-biserial,
    null-indicator and MCAR pair, and a self pair per boolean column and
    for the >50%-null row flag, is one group.  A second tiny job fetches
    the top null patterns only when the pattern check fires."""
    checks = []
    if not n_rows:
        return checks
    num_cols = [c for c, t in types.items() if t in _NUMERIC
                and (stats.get(c) or {}).get("n_num")]
    corr_cols = num_cols[:MAX_CORR_COLS]
    if len(num_cols) > MAX_CORR_COLS:
        checks.append(_check(
            "HIGH_CORRELATION", "INFO", 0.0,
            f"pair scan capped at first {MAX_CORR_COLS} of "
            f"{len(num_cols)} numeric columns", passed_ok=("PASS", "INFO")))
    bool_cols = [c for c, t in types.items() if t == TI.BOOLEAN]
    if len(bool_cols) > MAX_PB_BOOL_COLS:
        # r6 ADVICE: this fan-out was the one uncapped family — a
        # flag-heavy wide table yielded n_bool x 25 pairs, each one more
        # exploded copy of every row
        checks.append(_check(
            "POINT_BISERIAL", "INFO", 0.0,
            f"bool scan capped at first {MAX_PB_BOOL_COLS} of "
            f"{len(bool_cols)} boolean columns", passed_ok=("PASS", "INFO")))
        bool_cols = bool_cols[:MAX_PB_BOOL_COLS]
    null_cols = [c for c in types
                 if (stats.get(c) or {}).get("n_null", 0) / n_rows > 0.01]
    null_cols = null_cols[:MAX_NULLCORR_COLS]
    # MCAR: numeric columns with >1% nulls vs other numeric columns
    mcar_null = [c for c in num_cols if c in null_cols][:MAX_MCAR_NULL_COLS]

    x, groups = [], []

    def put(col) -> int:
        x.append(col)
        return len(x) - 1

    # Pearson r from division-free shifted sums (ANSI mode makes F.corr
    # throw DIVIDE_BY_ZERO on a zero-variance side; the driver finishes
    # r = S_ab / sqrt(S_aa * S_bb) with the degenerate cases -> None).
    # Values are shifted by the pass-A column means for numerical
    # stability; the pairwise-complete r is shift-invariant.
    shifted = [put(F.col(f"`{c}_typed`")
                   - float((stats.get(c) or {}).get("mean") or 0.0))
               for c in corr_cols]
    groups += [(f"pc::{i}::{j}::", shifted[i], shifted[j])
              for i in range(len(corr_cols))
              for j in range(i + 1, len(corr_cols))]
    bool_true = ("true", "t", "yes", "y", "si", "sí", "1", "verdadero")
    bool_false = ("false", "f", "no", "n", "0", "falso")
    for bi, b in enumerate(bool_cols):
        s = F.lower(F.trim(quoted_col(b)))
        k = put(F.when(s.isin(*bool_true), 1.0)
                .when(s.isin(*bool_false), 0.0))
        # self pair: n and sa count the non-null and the 1.0 values
        groups.append((f"pbu::{bi}::", k, k))
        groups += [(f"pb::{bi}::{ni}::", k, shifted[ni])
                  for ni in range(len(corr_cols))]
    nullish = {c: M.nullish_mask(quoted_col(c)) for c in types}
    ind = {c: put(nullish[c].cast("double")) for c in null_cols}
    groups += [(f"nc::{i}::{j}::", ind[a], ind[null_cols[j]])
              for i, a in enumerate(null_cols)
              for j in range(i + 1, len(null_cols))]
    data_cols = list(types)
    if len(data_cols) >= 3:
        # balanced-tree addition: a left-deep 1000-term `+` chain
        # overflows the JVM stack in the column-to-expression converter
        # (recursion depth == chain depth); pairing halves the depth to
        # log2(n) with the identical sum.  The tree is kept in
        # ``nullrow_sum`` and REUSED by the top-patterns filter below —
        # the old second query rebuilt the chain left-deep via sum(), so
        # precisely the >50%-null wide table the check exists for
        # overflowed the moment the check fired.
        terms = [nullish[c].cast("int") for c in data_cols]
        while len(terms) > 1:
            terms = [terms[i] + terms[i + 1]
                     if i + 1 < len(terms) else terms[i]
                     for i in range(0, len(terms), 2)]
        nullrow_sum = terms[0]
        k = put((nullrow_sum > len(data_cols) * 0.5).cast("double"))
        groups.append(("nullrow::", k, k))
    mcar_from = len(groups)
    raw = {}
    for mi, mc in enumerate(mcar_null):
        others = [c for c in num_cols if c != mc][:MAX_MCAR_TESTED_COLS]
        for oi, oc in enumerate(others):
            if oc not in raw:
                raw[oc] = put(F.col(f"`{oc}_typed`"))
            groups.append((f"mc::{mi}::{oi}::", ind[mc], raw[oc]))
    if not groups:
        return checks
    row = _pair_moments(tv, x, groups, mcar_from)

    def _corr_of(prefix):
        n = row.get(f"{prefix}n") or 0
        if n < 2:
            return None, n
        sa, sb = row.get(f"{prefix}sa"), row.get(f"{prefix}sb")
        sab = row.get(f"{prefix}sab")
        saa, sbb = row.get(f"{prefix}saa"), row.get(f"{prefix}sbb")
        if None in (sa, sb, sab, saa, sbb):
            return None, n
        va = n * saa - sa * sa
        vb = n * sbb - sb * sb
        if va <= 0 or vb <= 0:
            return None, n
        r = (n * sab - sa * sb) / math.sqrt(va * vb)
        return min(max(r, -1.0), 1.0), n

    # ---- HIGH_CORRELATION (cross_column_checks.py:41-88): |r|>0.85,
    # HIGH when any |r|>0.95.  Spearman rho is not recomputed on the CSV
    # path (rank pass per column — see module doc); the registry operator
    # spearman_corr carries the oracle-checked rank version.
    pairs, corr_matrix = [], {}
    for i, a in enumerate(corr_cols):
        for j in range(i + 1, len(corr_cols)):
            r, _ = _corr_of(f"pc::{i}::{j}::")
            corr_matrix[(i, j)] = r
            if r is not None and abs(r) > 0.85:
                pairs.append((a, corr_cols[j], r))
    if pairs:
        sev = "HIGH" if any(abs(r) > 0.95 for _, _, r in pairs) \
            else "MEDIUM"
        checks.append(_check(
            "HIGH_CORRELATION", sev, len(pairs),
            f"{len(pairs)} pair(s) with |r| > 0.85",
            samples=[f"{a} × {b}: r={r:.4f}" for a, b, r in pairs[:5]]))

    # ---- MULTICOLLINEARITY_VIF (cross_column_checks.py:95-141): VIF from
    # the correlation matrix via the precision-matrix closed form — same
    # math as the oracle-checked vif_closed_form registry operator.
    # Deviation: pairwise-complete correlations instead of the reference's
    # complete-case dropna() (documented; identical when nulls are rare).
    if 2 <= len(corr_cols) <= 50:
        vifs = _vif_from_corr(corr_cols, corr_matrix)
        high = {c: v for c, v in vifs.items() if v is not None and v > 5.0}
        if high:
            sev = "HIGH" if any(v > 10 for v in high.values()) else "MEDIUM"
            worst = sorted(high.items(), key=lambda kv: -kv[1])[:5]
            checks.append(_check(
                "MULTICOLLINEARITY_VIF", sev,
                min(max(high.values()), 1e12),
                f"{len(high)} column(s) with VIF > 5",
                samples=[f"{c}: VIF={v:.2f}" for c, v in worst]))

    # ---- POINT_BISERIAL (cross_column_checks.py:196-233): |r_pb|>0.5 and
    # p<0.05 — INFO, via the exact t transform of the Pearson r.
    assocs = []
    for bi, b in enumerate(bool_cols):
        # both values present (the 1.0 count strictly inside (0, n))
        if not 0 < (row.get(f"pbu::{bi}::sa") or 0) \
                < (row.get(f"pbu::{bi}::n") or 0):
            continue
        for ni, ncol in enumerate(corr_cols):
            r, nb = _corr_of(f"pb::{bi}::{ni}::")
            if r is None or nb < 10:
                continue
            p = statsx.pearson_p(r, nb)
            if abs(r) > 0.5 and p < ALPHA:
                assocs.append((ncol, b, r, p))
    if assocs:
        checks.append(_check(
            "POINT_BISERIAL", "INFO", len(assocs),
            f"{len(assocs)} point-biserial association(s) with |r| > 0.5",
            samples=[f"{n} × {b}: r_pb={r:.4f}" for n, b, r, _ in
                     assocs[:5]],
            passed_ok=("PASS", "INFO")))

    # ---- NULL_CORRELATION (null_pattern_checks.py:27-58): null-indicator
    # Pearson |r|>0.5 with p<0.05 between columns above 1%% null rate.
    ncorr = []
    for i, a in enumerate(null_cols):
        for j in range(i + 1, len(null_cols)):
            r, _ = _corr_of(f"nc::{i}::{j}::")
            if r is not None and abs(r) > 0.5 \
                    and statsx.pearson_p(r, n_rows) < ALPHA:
                ncorr.append((a, null_cols[j], r))
    if ncorr:
        checks.append(_check(
            "NULL_CORRELATION", "MEDIUM", len(ncorr),
            f"{len(ncorr)} pair(s) with correlated nulls "
            "(possible MAR/MNAR)",
            samples=[f"{a} × {b}: r={r:.4f}" for a, b, r in ncorr[:5]]))

    # ---- MCAR_VIOLATION (null_pattern_checks.py:112-163): mean of other
    # column differs where this column is null vs present.  Welch t at
    # p<0.01 substitutes the reference's Mann-Whitney (module doc; the
    # exact MW lives in the mcar_probe registry operator).
    violations = []
    for mi, mc in enumerate(mcar_null):
        others = [c for c in num_cols if c != mc][:MAX_MCAR_TESTED_COLS]
        for oi, oc in enumerate(others):
            key = f"mc::{mi}::{oi}::"
            n1 = row.get(f"{key}mn") or 0
            n2 = row.get(f"{key}pn") or 0
            if n1 < 5 or n2 < 5:
                continue
            _, _, p = statsx.welch(
                n1, row.get(f"{key}ma"), row.get(f"{key}mv"),
                n2, row.get(f"{key}pa"), row.get(f"{key}pv"))
            if p < 0.01:
                violations.append((mc, oc, p))
    if violations:
        sev = "HIGH" if len(violations) > 3 else "MEDIUM"
        checks.append(_check(
            "MCAR_VIOLATION", sev, len(violations),
            f"{len(violations)} violation(s): nulls are not completely "
            "at random (possible MAR/MNAR)",
            samples=[f"nulls in {a} shift {b} (p={p:.4g})"
                     for a, b, p in violations[:5]]))

    # ---- NULL_ROW_PATTERN (null_pattern_checks.py:65-105): rows with
    # >50%% null columns; top patterns fetched only when it fires.
    nr = int(row.get("nullrow::sa") or 0)
    if nr:
        pct = nr / n_rows
        sev = ("HIGH" if pct > 0.10 else "MEDIUM" if pct > 0.05
               else "LOW")
        pattern_expr = F.concat_ws(",", *[
            F.when(nullish[c], F.lit(c)).otherwise(F.lit(None))
            for c in data_cols])
        tops = (tv.filter(nullrow_sum > len(data_cols) * 0.5)
                .groupBy(pattern_expr.alias("pat"))
                .agg(F.count(F.lit(1)).alias("n"))
                .orderBy(F.desc("n"), "pat").limit(3).collect())
        checks.append(_check(
            "NULL_ROW_PATTERN", sev, pct,
            f"{nr} rows with >50% null columns",
            samples=[f"pattern: {r['pat'].split(',')[:5]} ({r['n']} rows)"
                     for r in tops]))
    return checks


def _vif_from_corr(cols: list[str], corr_matrix: dict) -> dict:
    """VIF_i = diag(R^-1)_ii from the pairwise correlation matrix."""
    import numpy as np
    k = len(cols)
    R = np.eye(k)
    for i in range(k):
        for j in range(i + 1, k):
            r = corr_matrix.get((i, j))
            R[i, j] = R[j, i] = 0.0 if r is None else r
    try:
        inv = np.linalg.inv(R)
    except np.linalg.LinAlgError:
        try:
            inv = np.linalg.pinv(R)
        except Exception:
            return {}
    return {c: (float(inv[i, i]) if inv[i, i] > 0 else None)
            for i, c in enumerate(cols)}


# =========================================================================
# Categorical pair chi2 (per-column CHI2_INDEPENDENCE + dataset-level
# CATEGORICAL_ASSOCIATION from the same bounded crosstabs)
# =========================================================================

def chi2_pair_pass(raw: DataFrame, types: dict, stats: dict):
    """Bounded crosstab per eligible categorical pair (cardinality < 50
    per reference hypothesis_checks.py:306, ≤5 pairs per column, ≤10
    total), chi2 finished driver-side.  Returns
    (per_column_checks: {col: check}, dataset_check | None)."""
    cat_cols = [c for c, t in types.items()
                if t in (TI.CATEGORICAL, TI.BOOLEAN)
                and 1 < (stats.get(c) or {}).get("n_unique", 0) < 50]
    pairs, per_col_count = [], {}
    for i, a in enumerate(cat_cols):
        for b in cat_cols[i + 1:]:
            if per_col_count.get(a, 0) >= MAX_CHI2_PAIRS_PER_COL:
                break
            if per_col_count.get(b, 0) >= MAX_CHI2_PAIRS_PER_COL:
                continue
            if len(pairs) >= MAX_CHI2_PAIRS:
                break
            pairs.append((a, b))
            per_col_count[a] = per_col_count.get(a, 0) + 1
            per_col_count[b] = per_col_count.get(b, 0) + 1
    if not pairs:
        return {}, None
    assoc = []
    for a, b in pairs:
        # reference fills NULL as its own category (__NULL__)
        ca = F.coalesce(F.trim(quoted_col(a)), F.lit("__NULL__"))
        cb = F.coalesce(F.trim(quoted_col(b)), F.lit("__NULL__"))
        cells = (raw.groupBy(ca.alias("a"), cb.alias("b"))
                 .agg(F.count(F.lit(1)).alias("n")).collect())
        avals = sorted({r["a"] for r in cells})
        bvals = sorted({r["b"] for r in cells})
        if len(avals) < 2 or len(bvals) < 2:
            continue
        bi = {v: i for i, v in enumerate(bvals)}
        table = [[0.0] * len(bvals) for _ in avals]
        for r in cells:
            table[avals.index(r["a"])][bi[r["b"]]] = float(r["n"])
        chi2, p, dof, v = statsx.chi2_contingency(table)
        assoc.append({"a": a, "b": b, "chi2": chi2, "p": p, "dof": dof,
                      "v": v, "sig": p < ALPHA})

    per_col = {}
    for col in cat_cols:
        mine = [x for x in assoc if col in (x["a"], x["b"])]
        if not mine:
            continue
        sig = [x for x in mine if x["sig"]]
        strong = [x for x in sig if x["v"] > 0.3]
        sev = "MEDIUM" if strong else "LOW" if sig else "PASS"
        per_col[col] = _check(
            "CHI2_INDEPENDENCE", sev, len(sig),
            f"{len(sig)} significant association(s) of {len(mine)} pairs"
            + (f" ({len(strong)} strong, V>0.3)" if strong else ""),
            samples=[f"{x['a']} × {x['b']}: V={x['v']:.4f}, p={x['p']:.4g}"
                     for x in mine[:5]])
    strong_ds = [x for x in assoc if x["v"] > 0.5 and x["sig"]]
    dataset = None
    if strong_ds:
        dataset = _check(
            "CATEGORICAL_ASSOCIATION", "MEDIUM", len(strong_ds),
            f"{len(strong_ds)} categorical pair(s) with Cramér's V > 0.5",
            samples=[f"{x['a']} × {x['b']}: V={x['v']:.4f}"
                     for x in strong_ds[:5]])
    return per_col, dataset


# =========================================================================
# Temporal dataset pass (timeseries_checks.py + temporal_completeness)
# =========================================================================

def pick_date_axis(types: dict, date_col: str | None) -> str | None:
    """--date-col if given and typed as a date, else the first detected
    date column (reference timeseries_checks.py:24-30)."""
    if date_col and types.get(date_col) in _DATES:
        return date_col
    if date_col:
        return None
    for col, t in types.items():
        if t in _DATES:
            return col
    return None


def temporal_pass(tv: DataFrame, types: dict, stats: dict, axis: str,
                  n_rows: int, selected_by_col: dict) -> dict:
    """ONE groupBy(period, column) job over the unpivoted frame:
    per-period null rates per column and means per numeric column, with
    a constant-width plan at any column count (one aggregate per column
    in a groupBy(period) would pass the codegen maxFields cliff on wide
    tables and run interpreted).  The driver finishes
    TEMPORAL_COMPLETENESS / TEMPORAL_NULL_CONCENTRATION and the
    ACF / seasonality / CUSUM series checks on the bounded per-period
    frame (the scalable analog of the reference's per-row sorted series —
    documented deviation, module doc)."""
    import numpy as np
    out = {"dataset": [], "by_col": {}}
    st_axis = stats.get(axis) or {}
    dmin, dmax = st_axis.get("d_min"), st_axis.get("d_max")
    if dmin is None or dmax is None:
        return out
    span_days = max((dmax - dmin).total_seconds() / 86400.0, 0.0)
    # reference temporal_completeness_checks.py:48-57 frequency choice
    if span_days > 365:
        trunc, freq_label = "month", "month"
    elif span_days > 30:
        trunc, freq_label = "week", "week"
    else:
        trunc, freq_label = "day", "day"
    d = F.col(f"`{axis}_typed`").cast("timestamp")
    per = F.date_trunc(trunc, d)
    other_cols = [c for c in types if c != axis]
    if not other_cols:
        # every check below reads another column's per-period series
        return out
    num_cols = [c for c in other_cols if types[c] in _NUMERIC
                and (stats.get(c) or {}).get("n_num")]
    num_set = set(num_cols)
    vals = {}
    for c in other_cols:
        dv = (F.col(f"`{c}_typed`").cast("double") if c in num_set
              else F.lit(None).cast("double"))
        vals[c] = F.struct(
            M.nullish_mask(quoted_col(c)).cast("double").alias("nl"),
            dv.alias("dv"))
    u = melt(tv.filter(d.isNotNull()), vals, per.alias("per"))
    g = (u.groupBy("per", "k")
         .agg(F.avg("v.nl").alias("nullrate"),
              F.avg("v.dv").alias("mean")).collect())
    by_per: dict = {}
    for r in g:
        row_d = by_per.setdefault(r["per"], {"::per": r["per"]})
        row_d[f"{r['k']}::nullrate"] = r["nullrate"]
        if r["k"] in num_set:
            row_d[f"{r['k']}::mean"] = r["mean"]
    rows = [by_per[p] for p in sorted(by_per)]
    if len(rows) < 3:
        return out

    # ---- TEMPORAL_COMPLETENESS (temporal_completeness_checks.py:70-110):
    # per-period mean of all columns' null rates; degraded = > 2x average
    period_rate = [sum((r[f"{c}::nullrate"] or 0.0) for c in other_cols)
                   / len(other_cols) for r in rows] if other_cols else []
    if period_rate:
        avg_rate = sum(period_rate) / len(period_rate)
        if avg_rate > 0:
            degraded = [(r["::per"], pr) for r, pr in zip(rows, period_rate)
                        if pr > avg_rate * 2]
            if degraded:
                worst_per, worst = max(degraded, key=lambda x: x[1])
                out["dataset"].append(_check(
                    "TEMPORAL_COMPLETENESS",
                    "HIGH" if worst > 0.5 else "MEDIUM", worst,
                    f"{len(degraded)} {freq_label}(s) with null rate > 2x "
                    f"average — worst {str(worst_per)[:10]} "
                    f"({worst:.1%} vs {avg_rate:.1%})"))

    # ---- TEMPORAL_NULL_CONCENTRATION (:113-147): per column, periods
    # with >3x the column's average null rate, concentrated (<=30%%)
    for c in other_cols[:20]:
        col_rate = (stats.get(c) or {}).get("n_null", 0) / n_rows \
            if n_rows else 0.0
        if col_rate < 0.01 or col_rate > 0.95:
            continue
        high = [(r["::per"], r[f"{c}::nullrate"] or 0.0) for r in rows
                if (r[f"{c}::nullrate"] or 0.0) > col_rate * 3]
        if high and len(high) <= len(rows) * 0.3:
            out["by_col"].setdefault(c, []).append(_check(
                "TEMPORAL_NULL_CONCENTRATION", "MEDIUM",
                max(h for _, h in high),
                f"{len(high)} {freq_label}(s) with >3x the average null "
                f"rate ({col_rate:.1%})",
                samples=[str(p)[:10] for p, _ in high[:5]]))

    # ---- per-numeric series checks on the per-period mean series
    for c in num_cols:
        sel = selected_by_col.get(c) or []
        series = np.array([r[f"{c}::mean"] for r in rows
                           if r[f"{c}::mean"] is not None], dtype=float)
        cl = out["by_col"].setdefault(c, [])
        if "AUTOCORRELATION" in sel:
            ch = _acf_check(series, freq_label)
            if ch:
                cl.append(ch)
        if "SEASONALITY" in sel:
            ch = _seasonality_check(series, freq_label)
            if ch:
                cl.append(ch)
        if "CHANGEPOINT_CUSUM" in sel:
            ch = _cusum_check(series, freq_label)
            if ch:
                cl.append(ch)
        if not cl:
            out["by_col"].pop(c, None)
    return out


def _acf_check(s, freq_label):
    """AUTOCORRELATION (timeseries_checks.py:65-108 manual fallback:
    biased normalization by the global population variance); significance
    ±1.96/sqrt(n)."""
    import numpy as np
    n = len(s)
    if n < 30:
        return None
    mean, var = float(np.mean(s)), float(np.var(s))
    if var == 0:
        return None
    acf = [1.0]
    for lag in range(1, min(21, n // 2)):
        acf.append(float(np.mean((s[:n - lag] - mean) * (s[lag:] - mean))
                         / var))
    thr = 1.96 / math.sqrt(n)
    sig = [i for i in range(1, len(acf)) if abs(acf[i]) > thr]
    if not sig:
        return None
    sev = "MEDIUM" if len(sig) > 5 else "INFO"
    return _check(
        "AUTOCORRELATION", sev, len(sig),
        f"{len(sig)} significant lag(s) on the per-{freq_label} mean "
        f"series (max lag {max(sig)})",
        samples=[f"lag {i}: ACF={acf[i]:.3f}" for i in sig[:5]],
        passed_ok=("PASS", "INFO"))


def _seasonality_check(s, freq_label):
    """SEASONALITY (timeseries_checks.py:150-178 periodogram fallback —
    the STL path needs statsmodels, absent here): dominant spectral peak
    > 15%% of total power."""
    import numpy as np
    n = len(s)
    if n < 24:
        return None
    x = s - np.mean(s)
    psd = np.abs(np.fft.rfft(x)) ** 2
    if len(psd) <= 2:
        return None
    body = psd[1:]
    total = float(np.sum(body))
    if total <= 0:
        return None
    peak_idx = int(np.argmax(body)) + 1
    freq = peak_idx / n
    peak_period = int(round(1.0 / freq)) if freq > 0 else 0
    dominance = float(psd[peak_idx]) / total
    if dominance > 0.15 and 2 <= peak_period <= n // 2:
        return _check(
            "SEASONALITY", "INFO", dominance,
            f"possible seasonality: period≈{peak_period} {freq_label}(s), "
            f"spectral dominance {dominance:.2f}",
            passed_ok=("PASS", "INFO"))
    return None


def _cusum_check(s, freq_label):
    """CHANGEPOINT_CUSUM (timeseries_checks.py:203-250): max |cusum| of
    mean-centered series vs 2·std·sqrt(n)."""
    import numpy as np
    n = len(s)
    if n < 30:
        return None
    mean, std = float(np.mean(s)), float(np.std(s))
    if std == 0:
        return None
    cusum = np.cumsum(s - mean)
    max_idx = int(np.argmax(np.abs(cusum)))
    max_cusum = float(abs(cusum[max_idx]))
    threshold = 2 * std * math.sqrt(n)
    if max_cusum <= threshold:
        return None
    pct = max_idx / n
    sev = "LOW" if (pct < 0.1 or pct > 0.9) else "MEDIUM"
    before = float(np.mean(s[:max_idx + 1]))
    after = float(np.mean(s[max_idx + 1:])) if max_idx < n - 1 else mean
    return _check(
        "CHANGEPOINT_CUSUM", sev, max_cusum / threshold,
        f"changepoint at {freq_label} {max_idx}/{n} ({pct:.0%}): mean "
        f"{before:.4g} -> {after:.4g}")
