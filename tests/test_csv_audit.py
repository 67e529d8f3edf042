"""End-to-end CSV audit (reference data_quality_auditor.py single-file
flow): load -> infer -> check -> score -> report, with bounded job count
and reference severity ladders."""

import pytest

from qualityspark.csv_audit import audit_csv


def _write_csv(path, rows_fn, n=150,
               header="order_id,created,email,amount,category,blank"):
    lines = [header]
    for i in range(n):
        lines.append(",".join(rows_fn(i)))
    path.write_text("\n".join(lines) + "\n")
    return str(path)


@pytest.fixture(scope="module")
def report(spark, tmp_path_factory):
    cats = ["Ropa", "ROPA", "hogar", "Electronica"]

    def row(i):
        dirty = i % 10 == 7
        return [f"ORD-{i:05d}",
                "junk" if dirty else f"2024-{(i % 12) + 1:02d}-10",
                "null" if dirty else f"user{i}@example.org",
                "" if dirty else f"{(i * 7) % 90}.{i % 100:02d}",
                cats[i % len(cats)],
                ""]
    p = tmp_path_factory.mktemp("ca") / "d.csv"
    return audit_csv(spark, _write_csv(p, row))


def _fired(report, col):
    return {c["check_id"]: c["severity"]
            for c in report["columns"][col]["checks"] if not c["passed"]}


def test_shape_and_types(report):
    assert report["n_rows"] == 150 and report["n_columns"] == 6
    assert report["column_types"]["order_id"] == "ID_CANDIDATE"
    assert report["column_types"]["amount"] == "NUMERIC_CONTINUOUS"
    assert report["column_types"]["blank"] == "EMPTY"
    assert 0 <= report["dataset_score"] <= 100
    assert report["grade"] in "ABCDF"
    assert report["columns"]["order_id"]["type_label"] == "Identifier"
    assert (report["columns"]["amount"]["type_label"]
            == "Continuous numeric")


def test_clean_id_fires_nothing(report):
    """Unique ids must NOT fire ID_DUPLICATES (exact distinct, not HLL)."""
    assert "ID_DUPLICATES" not in _fired(report, "order_id")
    assert "ID_NULL" not in _fired(report, "order_id")


def test_dirty_columns_fire(report):
    assert "EMAIL_FORMAT" in _fired(report, "email")     # 'null' rows
    assert "DATE_INVALID_PARSED" in _fired(report, "created")
    assert _fired(report, "blank")["NULL_RATE"] == "CRITICAL"
    assert "CASE_INCONSISTENCY" in _fired(report, "category")
    assert report["exit_code"] == 2                      # CRITICAL present
    assert any(r["rule"] == "NULL_RATE" for r in report["recommendations"])
    # recommendations ranked CRITICAL-first
    assert report["recommendations"][0]["estimated_impact"] == "CRITICAL"


def test_normality_informational(report):
    """NORMALITY_TEST (reference numeric_checks.py:363-389) fires on
    numeric columns with n>=20 as an informational check: INFO when the
    Jarque-Bera p-value rejects normality, never a deduction-grade
    severity, and statistic-valued so affected_count stays None."""
    am = {c["check_id"]: c for c in report["columns"]["amount"]["checks"]}
    nt = am["NORMALITY_TEST"]
    assert nt["severity"] in ("PASS", "INFO")
    assert 0.0 <= nt["value"] <= 1.0          # a p-value, not a rate
    assert "Jarque-Bera" in nt["detail"]
    # the near-uniform synthetic amounts are platykurtic -> non-normal
    assert nt["severity"] == "INFO"


def test_sample_values(report):
    """Failed checks carry bounded offending examples (reference
    models/check_result.py:19 sample_values) from min/max conditional
    aggregates in the same single stats pass — never more than 5."""
    cr = {c["check_id"]: c for c in report["columns"]["created"]["checks"]}
    assert cr["DATE_INVALID_PARSED"]["sample_values"] == ["junk"]
    em = {c["check_id"]: c for c in report["columns"]["email"]["checks"]}
    assert "null" in em["NULL_RATE"]["sample_values"]
    cat = {c["check_id"]: c
           for c in report["columns"]["category"]["checks"]}
    samp = cat["CASE_INCONSISTENCY"]["sample_values"]
    assert "Ropa" in samp and "ROPA" in samp
    for col in report["columns"].values():
        for c in col["checks"]:
            assert len(c.get("sample_values", [])) <= 5


def test_duplicate_rows_and_ids(spark, tmp_path):
    """Byte-identical rows fire DUPLICATE_ROWS on the dup ladder; repeated
    ids fire ID_DUPLICATES."""
    def row(i):
        j = 0 if i < 30 else i      # first 30 rows identical
        return [f"ORD-{j:05d}", "2024-01-10", f"u{j}@x.io",
                f"{j}.50", "A" if j % 2 else "B", "x"]
    p = tmp_path / "dup.csv"
    rep = audit_csv(spark, _write_csv(p, row, n=200,
                                      header="order_id,created,email,"
                                             "amount,category,note"))
    dup = rep["table_checks"][0]
    assert dup["check_id"] == "DUPLICATE_ROWS" and not dup["passed"]
    assert dup["severity"] in ("CRITICAL", "HIGH")       # 29/200 = 14.5%
    assert "ID_DUPLICATES" in _fired(rep, "order_id")


def test_config_changes_csv_score(spark, tmp_path):
    """A scoring override flows into the per-column deductions."""
    from qualityspark.config import RunConfig

    def row(i):
        return [f"ORD-{i:05d}", "2024-01-10", f"u{i}@x.io",
                f"{i}.25", "A" if i % 2 else "B", " padded "]
    p = tmp_path / "c.csv"
    base = audit_csv(spark, _write_csv(p, row))
    harsh = audit_csv(spark, _write_csv(p, row),
                      cfg=RunConfig.from_dict({"scoring": {"MEDIUM": 50}}))
    assert harsh["dataset_score"] <= base["dataset_score"]


def _fk_fixture(tmp_path):
    """customers.csv (ids C000-C049) and orders.csv whose cust_id cycles
    C000-C059, so ids 50-59 are orphans (20 of 120 rows), plus a config
    declaring that pair and one over a missing table."""
    from qualityspark.config import RunConfig
    cust = tmp_path / "customers.csv"
    cust.write_text("id,name\n" + "".join(
        f"C{i:03d},name{i}\n" for i in range(50)))
    orders = tmp_path / "orders.csv"
    orders.write_text("oid,cust_id\n" + "".join(
        f"O{i:03d},C{i % 60:03d}\n" for i in range(120)))
    cfg = RunConfig.from_dict({"foreign_keys": [
        {"child_table": "orders", "child_column": "cust_id",
         "parent_table": "customers", "parent_column": "id"},
        {"child_table": "missing", "child_column": "x",
         "parent_table": "customers", "parent_column": "id"},
    ]})
    return cust, orders, cfg


def test_fk_violations(spark, tmp_path):
    """Declared foreign_keys execute as broadcast anti-joins: orphan
    counts per pair, unknown tables skipped not raised (reference
    core/referential_integrity.py behavior)."""
    from qualityspark.csv_audit import fk_violations
    from qualityspark.sources import read_csv_audited

    cust, orders, cfg = _fk_fixture(tmp_path)
    tables = {"orders": read_csv_audited(spark, str(orders)),
              "customers": read_csv_audited(spark, str(cust))}
    # ONE action per executed FK (r4 VERDICT item 5): the left-join
    # aggregation reads (n_child, orphans) in a single pass over the
    # child, where the r4 shape ran an anti-join count PLUS a child count.
    # (Job counts are AQE query stages, so actions are the stable probe.)
    _DF = type(tables["orders"])     # the concrete (classic) DataFrame
    calls = []
    real_first, real_count = _DF.first, _DF.count
    _DF.first = lambda self: (calls.append("first"),
                              real_first(self))[1]
    _DF.count = lambda self: (calls.append("count"),
                              real_count(self))[1]
    try:
        res = fk_violations(spark, cfg, tables)
    finally:
        _DF.first, _DF.count = real_first, real_count
    assert res[0]["status"] == "CHECKED"
    assert res[0]["orphan_count"] == 20          # 2 cycles x ids 50..59
    assert res[0]["severity"] == "CRITICAL"      # 20/120 = 16.7%
    assert res[1]["status"] == "SKIPPED"
    assert calls == ["first"]


def test_compare_csv_drift(spark, tmp_path):
    """CSV-vs-CSV drift (reference core/drift_detector.py --compare):
    schema diff, null-rate ladder, category add/remove, trend verdict."""
    from qualityspark.csv_audit import compare_csv

    def ref_row(i):
        return [f"ORD-{i:05d}", "2024-01-10", f"u{i}@x.io",
                f"{i}.25", "A" if i % 2 else "B", "note"]
    def cur_row(i):
        # 20% nulled emails (null-rate drift), new category C,
        # same schema otherwise
        return [f"ORD-{i:05d}", "2024-01-10",
                "null" if i % 5 == 0 else f"u{i}@x.io",
                f"{i}.25", ("C" if i % 10 == 0 else
                            "A" if i % 2 else "B"), "note"]
    a = _write_csv(tmp_path / "a.csv", ref_row)
    b = _write_csv(tmp_path / "b.csv", cur_row)
    rep = compare_csv(spark, a, b)

    assert rep["schema_diff"]["missing_columns"] == []
    assert rep["total_columns_compared"] == 6
    by_col = {d["column"]: d for d in rep["column_drifts"]}
    assert by_col["email"]["null_rate_delta"] >= 0.15
    assert by_col["email"]["severity"] == "HIGH"
    assert "C" in by_col["category"]["categories_added"]
    assert rep["summary_severity"] == "HIGH"
    assert rep["trend"] in ("STABLE", "DEGRADING")

    # dropping a column is a schema-diff HIGH
    def cur2_row(i):
        return [f"ORD-{i:05d}", "2024-01-10", f"u{i}@x.io", f"{i}.25",
                "A" if i % 2 else "B"]
    c = _write_csv(tmp_path / "c.csv", cur2_row,
                   header="order_id,created,email,amount,category")
    rep2 = compare_csv(spark, a, c)
    assert rep2["schema_diff"]["missing_columns"] == ["blank"]
    assert rep2["summary_severity"] == "HIGH"


def test_audit_csv_batch(spark, tmp_path):
    """Batch directory audit (reference core/batch_processor.py --batch):
    per-file reports + consolidated avg/min/max summary; unloadable files
    reported, not fatal."""
    from qualityspark.csv_audit import audit_csv_batch

    def clean(i):
        return [f"ORD-{i:05d}", "2024-01-10", f"u{i}@x.io", f"{i}.25",
                "A" if i % 2 else "B", "x"]
    def dirty(i):
        return [f"ORD-{i % 20:05d}", "junk", "null", "", "A", ""]
    _write_csv(tmp_path / "clean.csv", clean)
    _write_csv(tmp_path / "dirty.csv", dirty)
    (tmp_path / "empty.csv").write_text("a,b,c\n")   # header-only

    rep = audit_csv_batch(spark, str(tmp_path))
    assert rep["n_files"] == 3 and rep["n_audited"] == 2
    assert "empty.csv" in rep["failed_files"]
    s = rep["summary"]
    assert s["best_file"] == "clean.csv"
    assert s["worst_file"] == "dirty.csv"
    assert s["min_score"] <= s["avg_score"] <= s["max_score"]
    assert rep["files"]["dirty.csv"]["exit_code"] == 2
    assert "fk_checks" not in rep        # no declared FKs -> no FK jobs


def test_batch_runs_declared_foreign_keys(spark, tmp_path):
    """A batch audit executes the config's foreign_keys over the
    directory's files (tables named by file stem): the orphans land in
    ``fk_checks`` and a CRITICAL orphan share sets the exit code to 2."""
    from qualityspark.csv_audit import audit_csv_batch, batch_exit_code
    _, _, cfg = _fk_fixture(tmp_path)
    rep = audit_csv_batch(spark, str(tmp_path), cfg=cfg)
    fk, missing = rep["fk_checks"]
    assert fk["status"] == "CHECKED" and fk["orphan_count"] == 20
    assert fk["severity"] == "CRITICAL"
    assert missing["status"] == "SKIPPED"
    # the files alone exit at most 1, so the 2 comes from the FK
    assert max(f["exit_code"] for f in rep["files"].values()) < 2
    assert batch_exit_code(rep) == 2
    assert batch_exit_code({**rep, "fk_checks": [
        {**fk, "severity": "MEDIUM"}]}) == 1
