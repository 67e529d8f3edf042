"""table_audit: the CSV check engine over already-typed input.

Pins the three properties that make the typed path correct:
* schema-driven semantic types (incl. the fractional-second timestamp
  the string cascade would misclassify),
* report parity with audit_csv when the same data arrives as CSV,
* complex columns skipped, never crashed on.
"""

import csv as _csv
import datetime

from qualityspark.table_audit import audit_parquet, audit_table


def test_audit_parquet_events_types_and_checks(spark):
    rep = audit_parquet(spark, "/root/testdata/sf0.001/events.parquet",
                        date_col="ts")
    t = rep["column_types"]
    assert t["value"] == "NUMERIC_CONTINUOUS"
    assert t["ts"] == "DATETIME"
    assert rep["date_axis"] == "ts"
    value_checks = {c["check_id"] for c in rep["columns"]["value"]["checks"]}
    # the numeric family must fire on a typed double column
    assert {"NULL_RATE", "OUTLIER_IQR", "OUTLIER_ZSCORE",
            "DISTRIBUTION_SKEW"} <= value_checks
    assert 0 <= rep["dataset_score"] <= 100 and rep["grade"]


def test_audit_table_skips_complex_columns(spark):
    rep = audit_parquet(spark, "/root/testdata/sf0.001/embeddings.parquet")
    assert rep.get("skipped_columns") == ["embedding"]
    assert "embedding" not in rep["columns"]
    assert "vec_id" in rep["columns"]


def test_fractional_second_timestamps_stay_datetime(spark):
    """A timestamp column with sub-second precision: the strict-format
    string cascade rejects '.123' values (full-match), but the typed
    path classifies by dtype — the motivating divergence."""
    rows = [(i, datetime.datetime(2024, 3, 1 + i % 25, 10, 0, 0,
                                  123000 + i)) for i in range(40)]
    rows.append((99, datetime.datetime(2031, 1, 1, 0, 0, 0, 5000)))
    df = spark.createDataFrame(rows, "k long, ts timestamp")
    rep = audit_table(spark, df)
    assert rep["column_types"]["ts"] == "DATETIME"
    # the typed values flow through the date family: the planted
    # post-AS_OF timestamp must fire DATE_FUTURE (violation-only checks)
    by_id = {c["check_id"]: c for c in rep["columns"]["ts"]["checks"]}
    assert "DATE_FUTURE" in by_id
    assert by_id["DATE_FUTURE"]["value"] == round(1 / 41, 4)


def test_csv_and_parquet_reports_agree(spark, tmp_path):
    """The same table audited via CSV-with-inference and via typed
    parquet: identical semantic types, identical per-column null rates
    and core check verdicts (values never round-trip differently)."""
    rows = [(f"C-{i:04d}",
             float(i % 7) + 0.5 if i % 11 else None,
             datetime.date(2024, (i % 12) + 1, (i % 27) + 1),
             ["alpha", "beta", "gamma"][i % 3])
            for i in range(300)]
    df = spark.createDataFrame(rows, "id string, amount double, "
                                     "d date, cat string")
    pq = str(tmp_path / "t.parquet")
    df.coalesce(1).write.parquet(pq)
    cp = tmp_path / "t.csv"
    with open(cp, "w", newline="") as fh:
        w = _csv.writer(fh)
        w.writerow(["id", "amount", "d", "cat"])
        for r in rows:
            w.writerow(["" if v is None else v for v in r])

    from qualityspark.csv_audit import audit_csv
    rp = audit_parquet(spark, pq)
    rc = audit_csv(spark, str(cp))
    assert rp["column_types"] == rc["column_types"]
    assert rp["n_rows"] == rc["n_rows"] == 300
    for col in ("id", "amount", "d", "cat"):
        assert (rp["columns"][col]["null_pct"]
                == rc["columns"][col]["null_pct"]), col
        pv = {c["check_id"]: c["severity"]
              for c in rp["columns"][col]["checks"]}
        cv = {c["check_id"]: c["severity"]
              for c in rc["columns"][col]["checks"]}
        assert pv == cv, (col, pv, cv)


def test_degenerate_tables_audit(spark):
    """Shapes the melted plan cannot unpivot or group still audit: a
    zero-row table (no groups), a table of only complex columns (nothing
    to unpivot), and a lone date column (no other column for the
    temporal pass)."""
    empty = audit_table(spark, spark.createDataFrame(
        [], "s string, x double, d timestamp"))
    assert empty["n_rows"] == 0
    assert set(empty["column_types"].values()) == {"EMPTY"}
    assert [(ch["check_id"], ch["severity"])
            for ch in empty["columns"]["x"]["checks"]] == [
        ("NULL_RATE", "CRITICAL")]
    assert empty["columns"]["x"]["n_unique"] == 0

    only = audit_table(spark, spark.createDataFrame([([1],), ([2],)],
                                                    "a array<int>"))
    assert only["n_rows"] == 2 and only["columns"] == {}
    assert only["skipped_columns"] == ["a"]

    lone = audit_table(spark, spark.createDataFrame(
        [(datetime.datetime(2024, 1, i % 28 + 1),) for i in range(50)],
        "when timestamp"))
    assert lone["date_axis"] == "when"
    assert [ch["check_id"] for ch in lone["table_checks"]] == [
        "DUPLICATE_ROWS"]
