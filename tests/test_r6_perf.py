"""Pins for the pass-A/type-inference projection and the melted plan.

Pass A (csv_audit._pass_a_melted) and typeinfer.column_stats evaluate the
expensive per-row signals — the 11-format date-parse cascade and the
Benford scientific-notation digit — ONCE per (row, column) in a
codegen'd Project beneath the aggregate, and shape-guard the cascade
with masks.DATE_SHAPE_RE.  Three semantic claims make that projection an
identity, each pinned here:

1. guard-accepts SUPERSET of ladder-parses: any string Spark's strict
   parser accepts for ANY ladder format matches DATE_SHAPE_RE, so the
   guarded first-match index equals the unguarded one on every value.
2. ladder-segment DISJOINTNESS: no string parses both a date-only
   format and a time-suffixed format (Spark format parsing is
   full-match), so n_datetime == count(first_match_index >= 7).
3. the Benford digit (NULL outside the nonzero-numeric domain)
   reproduces the inline conjunction counts, including the all-NULL
   column that must count 0, not None.

The melted plan replaced a single-wide-aggregate plan for narrow tables;
that plan's outputs on the fixtures below are frozen under tests/data/
and the melted plan must keep reproducing them.
"""

from pyspark.sql import functions as F

from qualityspark import typeinfer as TI
from qualityspark.rules import masks

LADDER = TI.DATE_FORMATS + TI.DATETIME_FORMATS
N_DATE = len(TI.DATE_FORMATS)

# 45-string battery: every ladder format's canonical spelling, strict-
# width near-misses, numerics, ids, text — the populations a wide CSV
# actually contains.
BATTERY = [
    # canonical parses, one per ladder entry
    "2024-03-15",            # yyyy-MM-dd
    "15/03/2024",            # dd/MM/yyyy
    "03/15/2024",            # MM/dd/yyyy
    "15-03-2024",            # dd-MM-yyyy
    "2024/03/15",            # yyyy/MM/dd
    "15.03.2024",            # dd.MM.yyyy
    "20240315",              # yyyyMMdd
    "2024-03-15 10:30:00",   # yyyy-MM-dd HH:mm:ss
    "15/03/2024 10:30:00",   # dd/MM/yyyy HH:mm:ss
    "2024-03-15T10:30:00",   # ISO T
    "2024-03-15T10:30:00Z",  # ISO T Z
    # ambiguous between dd/MM and MM/dd (both parse; first wins)
    "01/02/2024",
    "05.06.2024",
    # invalid calendar values in a valid shape (shape-accepted, parse-fail)
    "2024-13-45", "2024-02-30", "99/99/9999", "0000-00-00",
    "2024-03-15 25:61:61",
    # width / separator near-misses
    "2024-1-2", "5/6/2024", "2024-01/02", "15.03-2024",
    "2024--03--15", "2024-03-15T10:30", "2024-03-15 10:30",
    "03-2024", "2024-03", "202403151030",
    # plain numerics (the dominant non-date population)
    "0", "42", "-17", "3.14159", "123456", "12345678", "1234567890",
    "1e10", "0.0042",
    # text / ids / contacts
    "hello world", "N/A", "", "  ", "CUST-00123",
    "a@b.com", "+1-555-0100", "true",
]
assert len(BATTERY) == 45


def _parse_matrix(spark):
    """{string: [parses_fmt_i for each ladder fmt]} via Spark itself."""
    df = spark.createDataFrame([(s,) for s in BATTERY], "v string")
    cols = [F.try_to_timestamp(F.col("v"), F.lit(f)).isNotNull()
            .alias(f"f{i}") for i, f in enumerate(LADDER)]
    rows = df.select("v", *cols).collect()
    return {r["v"]: [bool(r[f"f{i}"]) for i in range(len(LADDER))]
            for r in rows}


def test_shape_guard_is_superset_of_ladder(spark):
    """Every battery string that parses ANY ladder format matches
    DATE_SHAPE_RE — the guard can only skip values the cascade would
    have rejected anyway."""
    mat = _parse_matrix(spark)
    guard = {r["v"]: bool(r["g"]) for r in spark.createDataFrame(
        [(s,) for s in BATTERY], "v string")
        .select("v", F.col("v").rlike(masks.DATE_SHAPE_RE).alias("g"))
        .collect()}
    parseable = [s for s, m in mat.items() if any(m)]
    assert parseable, "battery must exercise the parse path"
    missed = [s for s in parseable if not guard[s]]
    assert not missed, f"guard rejects parseable values: {missed}"


def test_guarded_index_equals_unguarded_first_match(spark):
    """date_format_index (guarded) returns exactly the first-matching
    ladder position on every battery string — identical to the r5
    unguarded walk."""
    mat = _parse_matrix(spark)
    got = {r["v"]: r["i"] for r in spark.createDataFrame(
        [(s,) for s in BATTERY], "v string")
        .select("v", masks.date_format_index(F.col("v"), LADDER)
                .alias("i")).collect()}
    for s, m in mat.items():
        want = next((i for i, p in enumerate(m) if p), None)
        assert got[s] == want, (s, got[s], want, m)


def test_date_and_datetime_ladder_segments_disjoint(spark):
    """No string parses both a date-only and a time-suffixed format, so
    first-match-index >= N_DATE is equivalent to parses-any-datetime
    (what typeinfer.column_stats now counts as n_datetime)."""
    for s, m in _parse_matrix(spark).items():
        assert not (any(m[:N_DATE]) and any(m[N_DATE:])), (s, m)


def test_typeinfer_counts_match_r5_semantics(spark):
    """column_stats n_date/n_datetime on a mixed column equal the direct
    per-format counts (the r5 two-_parses_any definition)."""
    df = spark.createDataFrame([(s,) for s in BATTERY], "v string")
    st = TI.column_stats(df)["v"]
    mat = _parse_matrix(spark)
    # r5 counted over the non-empty trimmed domain
    dom = [s for s in BATTERY if s.strip() and s.strip().lower() != "nan"]
    want_date = sum(any(mat[s.strip()]) for s in dom)
    want_dt = sum(any(mat[s.strip()][N_DATE:]) for s in dom)
    assert st["n_date"] == want_date
    assert st["n_datetime"] == want_dt


def test_benford_helper_counts_match_inline(spark):
    """Pass-A bf1..bf9 from the projected digit column equal the r5
    inline conjunction on a value set spanning (0,1) fractions,
    negatives, zeros, NULLs, and the 10-significant-digit rounding edge
    — and an all-NULL numeric column yields 0 counts, not None."""
    from qualityspark import csv_audit as CA
    vals = ["0.0042", "9.99999999999", "123.4", "0", None, "7",
            "0.1", "-200", "0.5", "999"]
    raw = spark.createDataFrame([(v, None) for v in vals],
                                "x string, allnull string")
    types = {"x": TI.NUMERIC_CONTINUOUS, "allnull": TI.NUMERIC_CONTINUOUS}
    tv = TI.auto_typed_view(raw.withColumn(
        "_pos", F.monotonically_increasing_id()), types)
    row = CA._pass_a_melted(tv, types, list(types), None)
    # reference digit definition: f"{abs(x):.10e}"[0] over nonzero values
    want = {d: 0 for d in range(1, 10)}
    for v in vals:
        if v is not None and float(v) != 0:
            want[int(f"{abs(float(v)):.10e}"[0])] += 1
    got = {d: row[f"x::bf{d}"] for d in range(1, 10)}
    assert got == want
    # all-NULL column: coalesce keeps the count integral zero
    assert all(row[f"allnull::bf{d}"] == 0 for d in range(1, 10))


def _stats_frame(spark):
    """Frame mixing nulls, dates, datetimes, numbers, booleans, emails,
    phones, ids, and text."""
    rows = []
    for i in range(120):
        rows.append((
            None if i % 7 == 0 else f"2024-0{i % 9 + 1}-1{i % 3}",
            f"{i}.5" if i % 3 else "x",
            ["true", "false"][i % 2],
            f"u{i}@ex.com" if i % 2 else str(i),
            f"ID-{i:04d}",
            "  pad  " if i % 5 else "",
        ))
    return spark.createDataFrame(
        rows, "d string, m string, b string, e string, i string, t string")


def test_column_stats_melted_equals_wide(spark, golden):
    """The melted (unpivot) plan gives exactly the statistics the single
    wide aggregate gave (frozen in tests/data/column_stats_exact.json)."""
    golden("column_stats_exact",
           TI.column_stats(_stats_frame(spark), exact=True))


def _mix_csv(path):
    """Every semantic type with planted violations; fewer rows than the
    sketch accuracy, so percentiles are exact and reports deterministic."""
    import csv as _csv
    with open(path, "w", newline="") as fh:
        w = _csv.writer(fh)
        w.writerow(["num", "date", "cat", "mail", "note", "ident"])
        for i in range(300):
            w.writerow([
                "" if i % 31 == 0 else
                ("oops" if i % 97 == 0 else round(2.5 * i % 97, 2)),
                ("2031-01-01" if i % 50 == 0 else
                 f"2024-0{i % 9 + 1}-{i % 27 + 1:02d}"),
                ["alpha", "beta", "Beta", "N/A"][i % 4],
                (f"u{i}@ex.com" if i % 5 else "not-mail"),
                ("  pad " if i % 7 == 0 else f"note {i % 11}"),
                f"ID-{i:05d}",
            ])


def test_pass_a_melted_equals_wide_report(spark, tmp_path, golden):
    """audit_csv through the melted plan produces the IDENTICAL report
    (types, stats-derived checks, samples, scores) to the single wide
    aggregate it replaced, frozen in tests/data/mix_audit_report.json
    (``input`` left out: it names the temporary path)."""
    from qualityspark import csv_audit as CA
    p = tmp_path / "mix.csv"
    _mix_csv(p)
    rep = CA.audit_csv(spark, str(p))
    assert rep.pop("input") == str(p)
    golden("mix_audit_report", rep)
