"""Semantic-type inference + check selection for arbitrary CSV inputs.

Re-expresses the reference's two layers for Spark:
  * type detection cascade  — reference core/type_detector.py:48-112
    (EMPTY -> CONSTANT -> BOOLEAN -> NUMERIC -> DATE/DATETIME -> EMAIL ->
    PHONE -> ID/HIGH_CARDINALITY -> CATEGORICAL), thresholds preserved
    (0.95 empty, 0.80 pattern match, 0.85/0.15 cardinality ratio, 0.70
    id-pattern, 0.05 discrete);
  * check registry          — reference core/check_registry.py:15-40
    (TYPE_CHECK_MAP: semantic type -> applicable check ids).

Spark-first execution shape: the reference runs a pandas pass per column;
here ALL per-column statistics (null fraction, distinct count, boolean /
numeric / date / email / phone / id-pattern match fractions) come from ONE
groupBy(column) job over the unpivoted raw all-string frame — a single
scan regardless of column count, collected as one small stats row per
column, with the threshold cascade evaluated driver-side in plain Python.  Distinct counts use
``approx_count_distinct`` by default (HLL merges map-side — no
multi-distinct EXPAND multiplying the scan; exact at the tiny
cardinalities where exactness matters: CONSTANT/BOOLEAN decisions) —
``exact=True`` switches to ``countDistinct`` for small inputs.

Deliberate deltas from the reference, documented:
  * pattern fractions are computed over ALL rows, not a 200-row sample —
    one distributed pass costs the same and removes sampling variance;
  * the dateutil fuzzy-parse fallback and locale month-name formats are
    dropped (no dateutil on executors; Java patterns only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Semantic types (reference models/semantic_type.py)
# ---------------------------------------------------------------------------
EMPTY = "EMPTY"
CONSTANT = "CONSTANT"
BOOLEAN = "BOOLEAN"
NUMERIC_CONTINUOUS = "NUMERIC_CONTINUOUS"
NUMERIC_DISCRETE = "NUMERIC_DISCRETE"
DATE = "DATE"
DATETIME = "DATETIME"
EMAIL = "EMAIL"
PHONE = "PHONE"
ID_CANDIDATE = "ID_CANDIDATE"
HIGH_CARDINALITY = "HIGH_CARDINALITY"
CATEGORICAL = "CATEGORICAL"

# Human labels per semantic type (reference core/check_descriptions.py
# SEMANTIC_TYPE_LABEL / friendly_type — our own English wording).
TYPE_LABELS = {
    EMPTY: "Empty column",
    CONSTANT: "Constant (single value)",
    BOOLEAN: "Boolean (yes/no)",
    NUMERIC_CONTINUOUS: "Continuous numeric",
    NUMERIC_DISCRETE: "Discrete numeric",
    DATE: "Date",
    DATETIME: "Date and time",
    EMAIL: "Email address",
    PHONE: "Phone number",
    ID_CANDIDATE: "Identifier",
    HIGH_CARDINALITY: "Free text / high cardinality",
    CATEGORICAL: "Category",
}


def friendly_type(semantic_type: str) -> str:
    return TYPE_LABELS.get(semantic_type, semantic_type)

# Boolean token set (reference core/type_detector.py:11-17)
BOOLEAN_VALUES = ("true", "false", "t", "f", "yes", "no", "y", "n",
                  "si", "sí", "1", "0", "verdadero", "falso")

# Anchored patterns (reference core/type_detector.py:19-23, 148-155);
# written to compile identically under Java regex.
EMAIL_RE = r"^[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}$"
PHONE_RE = r"^\+?[0-9 \t\-.()]{7,20}$"
ID_PATTERNS = [
    r"^[A-Fa-f0-9\-]{8,}$",     # UUID-like
    r"^[A-Z]{1,5}[\-_][0-9]+$",  # PREFIX-123
    r"^[0-9]{5,}$",              # long digit runs
    r"^[A-Z0-9]{6,}$",           # alphanumeric codes
]

# Java-pattern ladder (reference DATE_FORMATS, locale-free subset)
DATE_FORMATS = ["yyyy-MM-dd", "dd/MM/yyyy", "MM/dd/yyyy", "dd-MM-yyyy",
                "yyyy/MM/dd", "dd.MM.yyyy", "yyyyMMdd"]
DATETIME_FORMATS = ["yyyy-MM-dd HH:mm:ss", "dd/MM/yyyy HH:mm:ss",
                    "yyyy-MM-dd'T'HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss'Z'"]


def _stripped(c: F.Column) -> F.Column:
    return F.trim(c)


def _nonempty(c: F.Column) -> F.Column:
    s = _stripped(c)
    return c.isNotNull() & (s != "") & (F.lower(s) != "nan")


def _parses_any(c: F.Column, fmts: list[str]) -> F.Column:
    out = F.lit(None).cast("timestamp")
    for f in fmts:
        out = F.coalesce(out, F.try_to_timestamp(c, F.lit(f)))
    # every ladder format starts with a digit field, so non-digit-leading
    # values can never parse — the one-char rlike guard skips the
    # 11-formatter attempt cascade on names/emails/categories (the common
    # case in a wide table)
    return F.when(c.rlike("^[0-9]"), out.isNotNull()).otherwise(F.lit(False))


def parse_ladder(c: F.Column, fmts: list[str]) -> F.Column:
    """Timestamp value via the same coalesce-over-try_to_timestamp ladder
    detection counts with — typed views must accept exactly the formats
    `_parses_any` accepted, or a detected dd/MM/yyyy column types all-NULL
    and fires DATE_INVALID_PARSED at ~100% (reference checks/date_checks.py
    parses with the shared DATE_FORMATS ladder).  A session-default
    try_to_timestamp leads the ladder so fractional-second ISO values
    (parseable by try_cast but not the fixed patterns) stay typed."""
    s = _stripped(c)
    out = F.try_to_timestamp(s)
    for f in fmts:
        out = F.coalesce(out, F.try_to_timestamp(s, F.lit(f)))
    # same digit-leading guard as _parses_any: null early, skip the cascade
    return F.when(s.rlike("^[0-9]"), out)


_STAT_KEYS = ["n_rows", "n_nonnull", "n_unique", "n_bool", "n_num",
              "n_date", "n_datetime", "n_email", "n_phone",
              "n_id0", "n_id1", "n_id2", "n_id3"]


def column_stats(df: DataFrame, exact: bool = False):
    """ONE groupBy(column) job -> {col: stats dict}.  See module docstring.

    The columns are unpivoted with sources.melt, so the plan is ~5
    fields wide no matter how many columns the table has and every
    expression stays inside whole-stage codegen.  The
    date-parse cascade (the expensive per-row expression: up to 11
    try_to_timestamp attempts) is projected ONCE per (row, column) as a
    first-matching-format index beneath the aggregate;
    masks.date_format_index also shape-guards the cascade so plain
    numbers/text never attempt a parse.  n_date/n_datetime derive from
    the one index: ladder segments are disjoint (a date-only format
    match can never also parse a time-suffixed format and vice versa —
    Spark format parsing is full-match), pinned by test_r6_perf.py.
    melt keeps NULL values, so per-column row counts equal the frame's
    row count.  One shuffle keyed on the column name: 13 partial
    aggregates per (column, input task), the melt shape that survives a
    1000-column 100-TB table."""
    from qualityspark.rules import masks as _masks
    from qualityspark.sources import melt, quoted_col

    src_cols = list(df.columns)
    u = melt(df, {col: quoted_col(col) for col in src_cols})
    c = F.col("v")
    val = F.when(_nonempty(c), _stripped(c))
    proj = u.select(
        "k", val.alias("val"), F.lower(val).alias("low"),
        _masks.date_format_index(
            val, DATE_FORMATS + DATETIME_FORMATS).alias("fi"))
    val, low, fi = F.col("val"), F.col("low"), F.col("fi")
    n_datefmt = len(DATE_FORMATS)
    distinct = (F.countDistinct(val) if exact
                else F.approx_count_distinct(val))
    a = [
        F.count(F.lit(1)),
        F.count(val),                 # val is null exactly when not ne
        distinct,
        F.sum((low.isin(*BOOLEAN_VALUES)).cast("long")),
        F.sum(val.try_cast("double").isNotNull().cast("long")),
        F.sum(fi.isNotNull().cast("long")),
        F.sum((fi >= n_datefmt).cast("long")),
        F.sum(val.rlike(EMAIL_RE).cast("long")),
        F.sum(val.rlike(PHONE_RE).cast("long")),
    ]
    a.extend(F.sum(val.rlike(rx).cast("long")) for rx in ID_PATTERNS)
    out = {r["k"]: r.asDict() for r in proj.groupBy("k").agg(
        *[x.alias(k) for x, k in zip(a, _STAT_KEYS)]).collect()}
    # a zero-row frame yields no groups: every statistic is 0
    return {col: {k: (out.get(col, {}).get(k) or 0) for k in _STAT_KEYS}
            for col in src_cols}


def _classify(st: dict) -> str:
    """Driver-side threshold cascade (reference type_detector.py:48-112;
    thresholds identical, order identical)."""
    n, nn, nu = st["n_rows"], st["n_nonnull"], st["n_unique"]
    if n == 0 or nn / n <= 0.05:          # null_pct >= 0.95
        return EMPTY
    if nu == 1:
        return CONSTANT
    if nu == 2 and st["n_bool"] == nn:
        return BOOLEAN
    ratio = nu / nn if nn else 0.0
    if st["n_num"] / nn > 0.80:
        return NUMERIC_DISCRETE if ratio < 0.05 else NUMERIC_CONTINUOUS
    if st["n_date"] / nn > 0.80:
        return DATETIME if st["n_datetime"] > 0 else DATE
    if st["n_email"] / nn > 0.80:
        return EMAIL
    if st["n_phone"] / nn > 0.80:
        return PHONE
    if ratio > 0.85:
        if any(st[f"n_id{i}"] / nn > 0.70 for i in range(len(ID_PATTERNS))):
            return ID_CANDIDATE
        return HIGH_CARDINALITY
    if ratio < 0.15:
        return CATEGORICAL
    return HIGH_CARDINALITY


def detect_types(df: DataFrame, exact: bool = False) -> dict[str, str]:
    """{column: semantic type} for a raw all-string frame
    (sources.read_csv_audited output)."""
    return {col: _classify(st)
            for col, st in column_stats(df, exact=exact).items()
            if col != "_corrupt_record"}


# ---------------------------------------------------------------------------
# Check registry (reference core/check_registry.py:15-40): semantic type ->
# applicable check ids.  Ids are this engine's SURVEY §2 operator names.
#
# CONTRACT (r5 VERDICT item 1): every id selected here is EXECUTED by
# csv_audit.audit_csv — the selected set and the executed set coincide.
# Checks the reference runs per-column but that need either a baseline
# file or a per-column exact-rank pass live elsewhere, documented:
#   * COMPARISON_CHECKS run in compare-csv / drift mode (a baseline
#     exists there and nowhere else);
#   * DATASET_CHECKS / TEMPORAL_DATASET_CHECKS are the reference's
#     dataset-level families (cross_column / null_pattern / timeseries /
#     temporal_completeness), executed once per audit, not per column;
#   * REGISTRY_ONLY_CHECKS are per-column rank statistics available as
#     queries() operators (each DuckDB-oracled) that the generic-CSV
#     plan deliberately omits — an exact-rank job PER COLUMN is the one
#     shape that does not survive a 1000-column 100-TB table.
# ---------------------------------------------------------------------------
UNIVERSAL_CHECKS = ["NULL_RATE", "NULL_LIKE_STRINGS", "DUPLICATE_ROWS",
                    "WHITESPACE_ISSUES", "CONSTANT_COLUMN"]
NUMERIC_CHECKS = ["OUTLIER_IQR", "OUTLIER_ZSCORE", "OUTLIER_MODIFIED_Z",
                  "DISTRIBUTION_SKEW", "DISTRIBUTION_KURTOSIS",
                  "NEGATIVE_VALUES", "ZERO_VALUES", "VALUE_RANGE",
                  "VARIANCE_SUDDEN_CHANGE"]
HYPOTHESIS_NUMERIC = ["NORMALITY_TEST", "MEAN_SHIFT", "VARIANCE_SHIFT",
                      "KS_GOODNESS_FIT"]
BENFORD_CHECKS = ["BENFORD_LAW"]
DATE_CHECKS = ["DATE_FORMAT_MIX", "DATE_FUTURE", "DATE_ANCIENT",
               "DATE_INVALID_PARSED", "DATE_SEQUENCE_GAPS",
               "DATE_DUPLICATES", "DATE_MONOTONICITY"]
CATEGORICAL_CHECKS = ["RARE_CATEGORIES", "CARDINALITY_CHANGE",
                      "CASE_INCONSISTENCY", "ENCODING_ANOMALY",
                      "CLASS_IMBALANCE", "TYPO_CANDIDATES"]
HYPOTHESIS_CATEGORICAL = ["CHI2_INDEPENDENCE"]
TEXT_CHECKS_GENERIC = ["LENGTH_OUTLIERS", "ENCODING_ANOMALY",
                       "TRUNCATION_SIGNS"]
EMAIL_CHECKS = ["EMAIL_FORMAT"]
PHONE_CHECKS = ["PHONE_FORMAT"]
ID_CHECKS = ["ID_NULL", "ID_DUPLICATES", "ID_FORMAT_CONSISTENCY"]

# dataset-level plan, executed once per audit (reference
# core/check_engine.py:74-140 _run_dataset_checks)
DATASET_CHECKS = ["DUPLICATE_ROWS", "HIGH_CORRELATION",
                  "MULTICOLLINEARITY_VIF", "CATEGORICAL_ASSOCIATION",
                  "POINT_BISERIAL", "NULL_CORRELATION",
                  "NULL_ROW_PATTERN", "MCAR_VIOLATION", "PII_DETECTED"]
# dataset-level temporal plan, executed when a date axis exists
# (--date-col or the first detected date column, reference
# checks/timeseries_checks.py:24-30)
TEMPORAL_DATASET_CHECKS = ["TEMPORAL_COMPLETENESS",
                           "TEMPORAL_NULL_CONCENTRATION",
                           "AUTOCORRELATION", "SEASONALITY",
                           "CHANGEPOINT_CUSUM", "TEMPORAL_DRIFT"]
# executed only where a baseline exists: compare-csv / drift runs
COMPARISON_CHECKS = ["CATEGORY_DRIFT", "CARDINALITY_CHANGE",
                     "NULL_RATE_CHANGE", "SCHEMA_CHANGE"]
# per-column exact-rank statistics, each a DuckDB-oracled queries()
# operator — not part of the generic-CSV per-column plan by design
REGISTRY_ONLY_CHECKS = ["NORMALITY_ANDERSON", "NORMALITY_LILLIEFORS",
                        "WILCOXON_PAIRED", "ADF_STATIONARITY",
                        "KRUSKAL_WALLIS", "MANN_WHITNEY", "TREND_CHANGE",
                        "MANN_KENDALL"]

TYPE_CHECK_MAP: dict[str, list[str]] = {
    NUMERIC_CONTINUOUS: (UNIVERSAL_CHECKS + NUMERIC_CHECKS
                         + HYPOTHESIS_NUMERIC + BENFORD_CHECKS),
    NUMERIC_DISCRETE: (UNIVERSAL_CHECKS + NUMERIC_CHECKS
                       + HYPOTHESIS_NUMERIC + BENFORD_CHECKS),
    DATE: UNIVERSAL_CHECKS + DATE_CHECKS,
    DATETIME: UNIVERSAL_CHECKS + DATE_CHECKS,
    CATEGORICAL: (UNIVERSAL_CHECKS + CATEGORICAL_CHECKS
                  + HYPOTHESIS_CATEGORICAL),
    BOOLEAN: (UNIVERSAL_CHECKS + CATEGORICAL_CHECKS
              + HYPOTHESIS_CATEGORICAL),
    HIGH_CARDINALITY: UNIVERSAL_CHECKS + TEXT_CHECKS_GENERIC,
    EMAIL: UNIVERSAL_CHECKS + TEXT_CHECKS_GENERIC + EMAIL_CHECKS,
    PHONE: UNIVERSAL_CHECKS + TEXT_CHECKS_GENERIC + PHONE_CHECKS,
    ID_CANDIDATE: UNIVERSAL_CHECKS + ID_CHECKS,
    EMPTY: UNIVERSAL_CHECKS,
    CONSTANT: UNIVERSAL_CHECKS,
}

# semantic type -> SQL cast type for sources.typed_view
_CAST_TYPES = {
    NUMERIC_CONTINUOUS: "double", NUMERIC_DISCRETE: "double",
    DATE: "date", DATETIME: "timestamp", BOOLEAN: "boolean",
}


def checks_for_type(semantic_type: str) -> list[str]:
    return TYPE_CHECK_MAP.get(semantic_type, UNIVERSAL_CHECKS)


def select_checks(df: DataFrame, exact: bool = False) -> dict[str, dict]:
    """{column: {'type': ..., 'checks': [...]}} — the auditor's per-table
    plan for an unseen CSV, no hand-built types dict required."""
    return {col: {"type": t, "checks": checks_for_type(t)}
            for col, t in detect_types(df, exact=exact).items()}


def auto_typed_view(df: DataFrame, types: dict[str, str]) -> DataFrame:
    """sources.typed_view driven by detected semantic types: adds
    `<col>_typed` columns for every castable semantic type.  DATE/DATETIME
    columns parse through the full detection format ladder (parse_ladder),
    not bare try_cast — detection and typing must agree on what parses."""
    from qualityspark.sources import quoted_col, typed_view
    parsed, casts = {}, {}
    for col, t in types.items():
        if t == DATE:
            parsed[f"{col}_typed"] = parse_ladder(
                quoted_col(col), DATE_FORMATS + DATETIME_FORMATS).cast("date")
        elif t == DATETIME:
            parsed[f"{col}_typed"] = parse_ladder(
                quoted_col(col), DATETIME_FORMATS + DATE_FORMATS)
        elif t in _CAST_TYPES:
            casts[col] = _CAST_TYPES[t]
    return typed_view(df, casts, parsed)
