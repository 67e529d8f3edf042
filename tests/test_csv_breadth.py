"""Round-6 breadth e2e: the generic-CSV audit executes EVERY check id
``typeinfer.select_checks`` advertises (r5 VERDICT item 1) plus the
reference's dataset-level families, and the Spark JOB count stays O(1) in
column width.

The dirty fixture is engineered so every conditionally-silent check fires
at least once somewhere — proving the whole selected plan executed, not
just that the plan object lists it.
"""

import math
import random
import struct

import pytest
from pyspark.sql import functions as F

from qualityspark import csv_breadth as B
from qualityspark import typeinfer as TI
from qualityspark.csv_audit import audit_csv


def _dirty_csv(path):
    random.seed(6)
    lines = ["id,amount,amount2,category,email,when,notes,flag,const"]
    cats = ["Electronics", "electronics", "Electrnics", "Books", "Toys"]
    for i in range(400):
        ident = "" if i == 13 else (f"ID-{i:04d}" if i % 7 else f"id_{i}")
        amt = round(random.gauss(100 if i < 200 else 160, 12), 2)
        amt2 = round(amt * 3 + random.gauss(0, 0.5), 2)
        cat = cats[i % len(cats)] if i % 50 else "n/a"
        if i in (17, 23):          # rare categories (<0.5% of 400)
            cat = f"Zq-rare-{i}"
        email = f"user{i}@example.com" if i % 11 else "not-an-email"
        when = (f"2024-{(i % 12) + 1:02d}-{(i % 27) + 1:02d}" if i % 5
                else f"{(i % 27) + 1:02d}/{(i % 12) + 1:02d}/2024")
        if i == 31:
            when = "2077-01-01"    # DATE_FUTURE
        elif i == 32:
            when = "1850-01-01"    # DATE_ANCIENT
        elif i == 33:
            when = "31-31-2024"    # DATE_INVALID_PARSED
        notes = ("call me at 555-123-4567 ssn 123-45-6789" if i % 8 == 0
                 else "bad byte \x07 here" if i % 9 == 0
                 else "x" * 300 if i % 97 == 0
                 else "text that ends abruptl")
        if amt > 165:              # MAR: amount2 missing when amount high
            amt2 = ""
        if i % 100 == 99:          # whitespace + negative + zero issues
            amt = " -1 "
            amt2 = 0
        flag = "true" if float(str(amt).strip()) > 100 else "false"
        lines.append(f"{ident},{amt},{amt2},{cat},{email},{when},"
                     f"{notes},{flag},same")
    # exact duplicate rows
    lines += lines[1:4]
    path.write_text("\n".join(lines) + "\n")
    return str(path)


@pytest.fixture(scope="module")
def breadth_report(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("r6") / "dirty.csv"
    return audit_csv(spark, _dirty_csv(p))


def _reported_ids(rep):
    ids = set()
    for info in rep["columns"].values():
        ids |= {c["check_id"] for c in info["checks"]}
    ids |= {c["check_id"] for c in rep["table_checks"]}
    return ids


def test_selected_equals_executed(breadth_report):
    """Every check id the per-type plan selects is REPORTED somewhere on
    a fixture dirty enough to trip each conditional emit — the r5 VERDICT
    select/execute contract.  DUPLICATE_ROWS is dataset-level (reference
    check_engine.py:52-57 runs it once) and TEMPORAL_* need the date
    axis, both covered by the union below."""
    rep = breadth_report
    selected = set()
    for info in rep["columns"].values():
        selected |= set(info["selected_checks"])
    reported = _reported_ids(rep)
    missing = selected - reported
    assert not missing, f"selected but never reported: {sorted(missing)}"


def test_dataset_families_fire(breadth_report):
    table_ids = {c["check_id"] for c in breadth_report["table_checks"]}
    for cid in ("DUPLICATE_ROWS", "HIGH_CORRELATION",
                "MULTICOLLINEARITY_VIF", "MCAR_VIOLATION", "PII_DETECTED",
                "POINT_BISERIAL"):
        assert cid in table_ids, cid


def test_breadth_findings(breadth_report):
    rep = breadth_report

    def fired(col):
        return {c["check_id"]: c for c in rep["columns"][col]["checks"]
                if not c["passed"]}

    assert "ID_FORMAT_CONSISTENCY" in fired("id")
    am = fired("amount")
    assert "MEAN_SHIFT" in am                  # 100 -> 160 half means
    assert am["MEAN_SHIFT"]["severity"] == "HIGH"
    assert "TYPO_CANDIDATES" in fired("category")
    assert "NULL_LIKE_STRINGS" in fired("category")   # n/a tokens
    assert "DATE_FORMAT_MIX" in fired("when")
    assert "ENCODING_ANOMALY" in fired("notes")
    # LENGTH_OUTLIERS applies to text-typed columns (notes collapses to
    # CATEGORICAL here): the 12-char 'not-an-email' rows sit under the
    # length-IQR fence of the 17-20 char real addresses
    assert "LENGTH_OUTLIERS" in fired("email")
    # PII lands on the notes column at dataset level with masked samples
    pii = [c for c in rep["table_checks"]
           if c["check_id"] == "PII_DETECTED" and c.get("column") == "notes"]
    assert pii
    assert all("*" in s for c in pii for s in c.get("sample_values", []))


def test_temporal_axis(breadth_report):
    assert breadth_report["date_axis"] == "when"
    ids = _reported_ids(breadth_report)
    assert "TEMPORAL_DRIFT" in ids
    assert "KS_GOODNESS_FIT" in ids


def _without_input(rep):
    return {k: v for k, v in rep.items() if k != "input"}


def test_breadth_report_golden(breadth_report, golden):
    """The dirty fixture's full report is frozen in
    tests/data/breadth_audit_report.json (``input`` left out: it names
    the temporary path).  It covers what the mix golden does not: typo
    pairs, rare-value samples, id-format patterns and PII on several
    columns, so it pins the order of every ranked sample."""
    golden("breadth_audit_report", _without_input(breadth_report))


def test_report_independent_of_shuffle_partitions(spark, breadth_report,
                                                  tmp_path):
    """The same CSV audited at another spark.sql.shuffle.partitions gives
    the same report: no family hands the report assembly a result in
    groupBy collect order (PII_DETECTED entries once followed it)."""
    p = tmp_path / "dirty.csv"
    _dirty_csv(p)
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        rep = audit_csv(spark, str(p))
    finally:
        spark.conf.set(key, before)
    assert before != "3"
    assert _without_input(rep) == _without_input(breadth_report)


def test_family_job_counts(spark, tmp_path):
    """The categorical, date-value and id-format families each read their
    bounded result in one collect from a window-ranked frame, and the
    cross-column family runs one pair-melted groupBy: on the mix fixture
    they submit at most 12, 3, 3 and 4 jobs, counted by the family name
    parallel.submit sets as job description."""
    from collections import Counter
    from test_r6_perf import _mix_csv
    p = tmp_path / "mix.csv"
    _mix_csv(p)
    sc = spark.sparkContext
    sc.setJobGroup("family_job_counts", "caller")
    try:
        audit_csv(spark, str(p))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    store = sc._jsc.sc().statusStore()
    jobs = Counter()
    for i in sc.statusTracker().getJobIdsForGroup("family_job_counts"):
        d = store.job(i).description()
        jobs[d.get() if d.isDefined() else None] += 1
    assert jobs["cats"] <= 12, jobs
    assert jobs["datevals"] <= 3, jobs
    assert jobs["idfmt"] <= 3, jobs
    assert jobs["xcol"] <= 4, jobs


def test_date_col_override(spark, tmp_path):
    """--date-col names the axis; an unknown/non-date name disables the
    temporal family instead of crashing (reference --date-col contract,
    data_quality_auditor.py:125)."""
    p = tmp_path / "d.csv"
    _dirty_csv(p)
    rep = audit_csv(spark, str(p), date_col="when")
    assert rep["date_axis"] == "when"
    rep2 = audit_csv(spark, str(p), date_col="category")
    assert rep2["date_axis"] is None
    assert "TEMPORAL_DRIFT" not in _reported_ids(rep2)


def test_job_count_constant_in_column_width(spark, tmp_path):
    """Adding numeric/text columns must NOT add Spark jobs: every
    per-column family aggregates the melted frame with one groupBy keyed
    on the column, so two tables with the same type mix submit exactly
    the same jobs — the fixture holds the mix while tripling the
    numeric+text width."""

    def make(path, extra):
        cols = [f"n{j}" for j in range(extra)] + [f"t{j}" for j in
                                                  range(extra)]
        head = "a,b," + ",".join(cols)
        lines = [head]
        random.seed(1)
        for i in range(200):
            vals = [str(round(random.gauss(50 + j, 5 + j), 2))
                    for j in range(extra)]
            vals += [f"text value {i} {j}" for j in range(extra)]
            lines.append(f"{round(random.gauss(10, 2), 2)},"
                         f"cat{i % 4}," + ",".join(vals))
        path.write_text("\n".join(lines) + "\n")
        return str(path)

    sc = spark.sparkContext

    def jobs_for(path, tag):
        sc.setJobGroup(tag, "r6 job-count pin")
        try:
            audit_csv(spark, path)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(tag) or [])

    narrow = jobs_for(make(tmp_path / "narrow.csv", 2), "r6narrow")
    wide = jobs_for(make(tmp_path / "wide.csv", 6), "r6wide")
    # identical type mix (1 categorical, no ids/dates) -> identical jobs
    assert wide == narrow, (narrow, wide)


def _bits(v):
    """A value compared bit for bit: NaN equals NaN, -0.0 differs from
    0.0."""
    return struct.pack(">d", v) if isinstance(v, float) else v


def test_pair_moments_equal_spark_sums(spark):
    """The pair-melted groupBy returns, for every pair, the count, sums,
    averages and sample variances that one global aggregate of the same
    pairwise-complete expressions returns, bit for bit, over a
    2-partition frame with nulls, a NaN, a -0.0, a constant column (a
    zero-variance pair), an all-null column and a boolean column."""
    rng = random.Random(4)
    rows = []
    for r in range(60):
        a = None if r % 7 == 0 else rng.gauss(0, 10 ** rng.randint(-3, 9))
        if r == 5:
            a = float("nan")
        elif r == 9:
            a = -0.0
        b = None if r % 5 == 2 else rng.uniform(-1e6, 1e6)
        flag = (None, "true", "no", "YES", "f")[r % 5]
        rows.append((a, b, 3.5, None, flag))
    df = spark.sparkContext.parallelize(rows, 2).toDF(
        "a double, b double, k double, z double, flag string")
    assert df.rdd.getNumPartitions() == 2
    s = F.lower(F.trim(F.col("flag")))
    x = [F.col("a"), F.col("b"), F.col("k"), F.col("z"),
         F.when(s.isin("true", "yes"), 1.0).when(s.isin("no", "f"), 0.0),
         F.col("a").isNull().cast("double"),
         F.col("flag").isNull().cast("double")]
    pairs = [(f"p{i}{j}:", i, j) for i in range(len(x))
             for j in range(i, len(x))]
    mcar_from = len(pairs)
    pairs += [(f"m{i}{j}:", i, j) for i in (5, 6) for j in (0, 1, 2, 3)]
    want_aggs = []
    for key, i, j in pairs:
        both = x[i].isNotNull() & x[j].isNotNull()
        a_, b_ = F.when(both, x[i]), F.when(both, x[j])
        want_aggs += [F.count(a_).alias(f"{key}n"),
                      F.sum(a_).alias(f"{key}sa"),
                      F.sum(b_).alias(f"{key}sb"),
                      F.sum(a_ * b_).alias(f"{key}sab"),
                      F.sum(a_ * a_).alias(f"{key}saa"),
                      F.sum(b_ * b_).alias(f"{key}sbb")]
        if key.startswith("m"):
            for tag, flag in (("m", 1.0), ("p", 0.0)):
                v = F.when(x[i] == flag, x[j])
                want_aggs += [F.count(v).alias(f"{key}{tag}n"),
                              F.avg(v).alias(f"{key}{tag}a"),
                              F.var_samp(v).alias(f"{key}{tag}v")]
    want = df.agg(*want_aggs).first().asDict()
    got = B._pair_moments(df, x, pairs, mcar_from)
    assert {k: _bits(got[k]) for k in want} == \
        {k: _bits(v) for k, v in want.items()}
    # the fixture reaches the edge cases it names
    assert math.isnan(want["p00:sa"]) and want["p22:n"] > 0
    assert want["p33:n"] == 0 and want["p03:sa"] is None


def test_cross_column_jobs_constant_in_width(spark):
    """The cross-column family submits the same jobs, at most 4, for 12
    and for 24 numeric columns with nulls: its plan grows with the pair
    count in literals only, never in aggregates or slices."""
    def jobs_for(width, group):
        cols = [f"n{j:02d}" for j in range(width)]
        rows = [tuple(None if (r + j) % 10 == 0 else f"{(r * (j + 3)) % 17}"
                      for j in range(width)) for r in range(200)]
        df = spark.createDataFrame(rows, ", ".join(f"{c} string"
                                                   for c in cols))
        tv = df.withColumns({f"{c}_typed": F.col(c).try_cast("double")
                             for c in cols})
        types = {c: TI.NUMERIC_CONTINUOUS for c in cols}
        stats = {c: {"n_null": 20, "n_num": 180, "mean": 8.0}
                 for c in cols}
        sc = spark.sparkContext
        sc.setJobGroup(group, "xcol width")
        try:
            B.cross_column_pass(tv, types, stats, 200)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    narrow = jobs_for(12, "xcol12")
    assert narrow == jobs_for(24, "xcol24") and narrow <= 4, narrow


def test_selection_map_families():
    """The public plan lists the reference's full registry families
    (core/check_registry.py:15-40) and the dataset/temporal split."""
    sel = TI.checks_for_type(TI.NUMERIC_CONTINUOUS)
    for cid in ("OUTLIER_MODIFIED_Z", "VALUE_RANGE",
                "DISTRIBUTION_KURTOSIS", "VARIANCE_SUDDEN_CHANGE",
                "MEAN_SHIFT", "VARIANCE_SHIFT", "KS_GOODNESS_FIT",
                "BENFORD_LAW"):
        assert cid in sel, cid
    cat = TI.checks_for_type(TI.CATEGORICAL)
    for cid in ("TYPO_CANDIDATES", "CLASS_IMBALANCE", "CARDINALITY_CHANGE",
                "CHI2_INDEPENDENCE", "ENCODING_ANOMALY"):
        assert cid in cat, cid
    assert "PII_DETECTED" in TI.DATASET_CHECKS
    assert "AUTOCORRELATION" in TI.TEMPORAL_DATASET_CHECKS


def test_cli_flags_e2e(tmp_path):
    """--quiet / --text-report / --no-auto-output / --date-col parity
    (reference data_quality_auditor.py:113-131): quiet mode prints
    nothing, the text report lands at the named path, no outputs/ dir is
    auto-created, and the named date axis shows up in the report."""
    import json
    import os
    import subprocess
    import sys

    csv = tmp_path / "t.csv"
    _dirty_csv(csv)
    txt = tmp_path / "rep.txt"
    out = tmp_path / "outdir"
    r = subprocess.run(
        [sys.executable, "-m", "qualityspark.cli", "audit-csv",
         "--input", str(csv), "--date-col", "when", "--quiet",
         "--text-report", str(txt), "--no-auto-output",
         "--output", str(out)],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": "/root/repo"})
    assert r.returncode == 2, r.stderr[-2000:]     # PII CRITICAL fires
    assert r.stdout.strip() == ""                  # --quiet
    rep = json.loads((out / "report.json").read_text())
    assert rep["date_axis"] == "when"
    body = txt.read_text()
    assert "CSV QUALITY AUDIT" in body
    assert "PII_DETECTED" in body
    assert not (tmp_path / "outputs").exists()
