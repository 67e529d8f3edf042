"""Shared per-value masks for the generic-CSV audit breadth (round 6).

Each helper returns a pure Column expression (codegen'd builtins, no
UDFs) used IDENTICALLY by two consumers:

  * ``csv_audit`` folds the masks into its bounded aggregation passes, so
    executing the full ``typeinfer.select_checks`` plan adds ZERO Spark
    jobs per column — only aggregate expressions inside the existing
    passes;
  * the ``audit_breadth_masks`` registry query (queries.py) counts the
    same masks over the driver parquet tables against a DuckDB oracle,
    so the driver's green row certifies the exact expressions the CSV
    path runs.

Reference semantics per mask are cited inline
(checks/text_checks.py, categorical_checks.py, id_checks.py,
date_checks.py of the reference repo).
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column
from pyspark.sql import functions as F

from qualityspark import constants as C

# NULL_LIKE_STRINGS (reference checks/text_checks.py:136-163): trimmed,
# lowercased membership in the null-like token set, EXCLUDING genuinely
# empty strings (those count toward NULL_RATE, not this check)
_NULL_LIKE_TOKENS = sorted(w for w in C.NULL_LIKE if w)
NULL_LIKE_STR_RE = ("^(?iu:"
                    + "|".join(_re.escape(w) for w in _NULL_LIKE_TOKENS)
                    + ")$")

# ENCODING_ANOMALY (reference checks/categorical_checks.py:84-112):
# control chars C0/C1 minus tab/newline/CR, plus U+FFFD replacement char
ENCODING_ANOMALY_RE = C.CONTROL_CHARS_RE

# TRUNCATION_SIGNS (reference checks/text_checks.py:171-207): the
# ends-mid-word probe is Latin letters incl. Spanish accents, 2+ at end
ABRUPT_END_RE = r"[a-záéíóúñ]{2,}$"
TRUNC_MIN_LEN = 5

# Conservative SUPERSET of every string the 11-format parse ladder
# (typeinfer.DATE_FORMATS + DATETIME_FORMATS) can parse: three numeric
# fields joined by one consistent separator ([-/.], backreference) with
# an optional HH:mm:ss[Z] tail, or the yyyyMMdd shape.  One regex test
# replaces up to 11 try_to_timestamp attempts for the values that
# dominate a wide table (plain numbers, text, ids) — empirically
# validated against Spark's strict-width parser over a 45-string battery
# (tests/test_r6_perf.py): guard-accepts ⊇ ladder-parses.
#
# r7 tightening of the all-digit branch: yyyyMMdd under Spark's strict
# parser accepts ONLY exactly-8-digit strings with a real month/day
# (probe: 6/7/9/10-digit runs and 20241301/20240132 all fail), so the
# branch narrows from \d{6,10} to the calendar-shaped 8-digit form —
# 6-10-digit ID/key columns (the dominant guard-passers in relational
# tables) now skip the whole cascade.  Still a superset: the parser
# additionally rejects e.g. Feb 30, which the guard accepts.
DATE_SHAPE_RE = (r"^\d{1,9}([-/.])\d{1,2}\1\d{1,9}"
                 r"([ T]\d{1,2}:\d{1,2}:\d{1,2}Z?)?$"
                 r"|^\d{4}(0[1-9]|1[0-2])(0[1-9]|[12][0-9]|3[01])$")


def null_like_string_mask(c: Column) -> Column:
    """Non-null value whose trimmed text is a null-like token ('N/A',
    'null', '-', ...).  Coalesced false so counts never null out."""
    s = F.trim(c)
    return F.coalesce(c.isNotNull() & (s != "")
                      & s.rlike(NULL_LIKE_STR_RE), F.lit(False))


def nullish_mask(c: Column) -> Column:
    """NULL-equivalent predicate (true null, empty/whitespace, or a
    null-like token) — the same shape csv_audit's pass A counts as
    ``n_null``, reusable as a 0/1 null indicator for the null-pattern
    dataset checks (reference null_pattern_checks.py uses df.isnull() on
    the typed frame, where unparseable null-likes are already NaN)."""
    s = F.trim(c)
    return c.isNull() | s.rlike(
        "^(?iu:" + "|".join(_re.escape(w) for w in _NULL_LIKE_TOKENS)
        + ")?$")


def encoding_anomaly_mask(c: Column) -> Column:
    """Trimmed non-empty value containing control / replacement chars."""
    s = F.trim(c)
    return F.coalesce((s != "") & s.rlike(ENCODING_ANOMALY_RE),
                      F.lit(False))


def trunc_eligible_mask(c: Column) -> Column:
    """Reference pre-filter: trimmed length > 5."""
    return F.coalesce(F.length(F.trim(c)) > TRUNC_MIN_LEN, F.lit(False))


def trunc_ellipsis_mask(c: Column) -> Column:
    """...-terminated value (computable without the max-length literal)."""
    return trunc_eligible_mask(c) & F.trim(c).endswith("...")


def trunc_abrupt_mask(c: Column, max_len: Column) -> Column:
    """At the column's max observed length AND ends mid-word — the
    fixed-width-cutoff signature.  ``max_len`` is the per-column max
    trimmed length, joined in beside the value (the CSV audit's pass-2
    literals, the registry query's groupBy), so this one needs a pass of
    its own.  Case-insensitive like the reference's
    re.match(..., case=False)."""
    s = F.trim(c)
    return (trunc_eligible_mask(c) & (F.length(s) == max_len)
            & F.lower(s).rlike(ABRUPT_END_RE))


def pii_masks(c: Column) -> dict[str, Column]:
    """{pattern_name: mask} for the 8 reference PII regexes
    (checks/pii_checks.py:14-55) — same literal patterns the scrub and
    the green pii_docs_scan query use."""
    return {name: F.coalesce(c.rlike(rx), F.lit(False))
            for name, rx, _ in C.PII_PATTERNS}


def id_fingerprint(c: Column) -> Column:
    """Char-class fingerprint (reference checks/id_checks.py:52-62):
    letters -> 'A', digits -> '9', separators kept.  Same expression as
    the green id_format_consistency query."""
    return F.regexp_replace(
        F.regexp_replace(F.trim(c), "[A-Za-z]", "A"), "[0-9]", "9")


def date_format_index(c: Column, fmts: list[str]) -> Column:
    """FIRST matching format's ladder index (reference _parse_date walks
    DATE_FORMATS in order and returns the first hit,
    checks/date_checks.py:68-101); NULL when nothing parses.  One
    cascading when-chain of try_to_timestamp — all JVM-side.

    r7: each branch is additionally gated on colon presence.  A
    time-suffixed format literally contains ':' and Spark's parser
    consumes the whole string, so a value WITHOUT a colon can never
    parse it — and a date-only format's parseable strings are digits
    plus the [-/.] separator, so a value WITH a colon can never parse
    one.  The gate therefore never changes which branch matches first;
    it only spares each value the ~90 us/failed-attempt walk through
    the other colon class (a 'yyyy-MM-dd HH:mm:ss' value used to fail
    all seven date-only formats before its first hit)."""
    s = F.trim(c)
    has_colon = s.contains(":")
    out = F.lit(None).cast("int")
    for i in reversed(range(len(fmts))):
        gate = has_colon if ":" in fmts[i] else ~has_colon
        out = F.when(gate
                     & F.try_to_timestamp(s, F.lit(fmts[i])).isNotNull(),
                     F.lit(i)).otherwise(out)
    # shape guard (DATE_SHAPE_RE): values that cannot possibly parse —
    # plain numbers, text, ids — skip the whole formatter cascade; the
    # index for parseable values is unchanged (guard is a superset)
    return F.when(s.rlike(DATE_SHAPE_RE), out)
