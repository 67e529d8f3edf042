"""Scoring math pinned to the reference's exact-arithmetic vectors
(reference tests/test_new_features.py:103-122 analog: one HIGH + one MEDIUM
-> 85.0; deductions core/scoring_system.py:7-14; keep/drop mapping
data_quality_auditor.py:308-314)."""

from pyspark.sql import functions as F

from qualityspark import constants as C
from qualityspark.scoring import with_scores, lineage_table, metrics_table


def _mk(spark, fired: list[str]):
    df = spark.createDataFrame(
        [("https://x.example.org/1", None)], "url string, warc_ts timestamp")
    for rule, _ in C.DOC_RULES:
        df = df.withColumn(f"sig_{rule}", F.lit(rule in fired))
    return with_scores(df)


def test_high_plus_medium_is_85(spark):
    # NOTE: TS_NULL would fire from the null warc_ts; use text rules only
    r = _mk(spark, ["URL_MALFORMED", "MEAN_WORD_LEN_OOB", "TS_NULL"]).first()
    # HIGH 10 + MEDIUM 5 + MEDIUM 5 = 20
    assert float(r["score"]) == 80.0
    assert r["grade"] == "B"
    assert bool(r["keep"]) is True


def test_critical_drops(spark):
    r = _mk(spark, ["TEXT_NULL_LIKE"]).first()
    assert float(r["score"]) == 75.0
    assert bool(r["keep"]) is False  # any CRITICAL -> drop


def test_score_floor_zero(spark):
    fired = [rule for rule, sev in C.DOC_RULES if sev in ("CRITICAL", "HIGH")]
    r = _mk(spark, fired).first()
    assert float(r["score"]) == 0.0
    assert r["grade"] == "F"


def test_clean_doc_perfect(spark):
    r = _mk(spark, []).first()
    assert float(r["score"]) == 100.0
    assert r["grade"] == "A"
    assert bool(r["keep"]) is True
    assert r["rules_fired"] == []


def test_info_rules_do_not_deduct(spark):
    r = _mk(spark, ["PII_EMAIL", "PII_SSN_US"]).first()
    assert float(r["score"]) == 100.0
    assert bool(r["keep"]) is True
    assert sorted(r["rules_fired"]) == ["PII_EMAIL", "PII_SSN_US"]


def test_dataset_score_reference_arithmetic():
    """Pins the reference's weighted dataset score (core/scoring_system.py:
    81-94) with the reference's own test vectors (tests/test_new_features.py
    test_scoring_configurable / test_column_weights)."""
    from qualityspark.scoring import dataset_score
    # equal scores -> weights cancel (reference test_column_weights)
    assert dataset_score({"important": 90.0, "minor": 90.0},
                         {"important": 0.0, "minor": 0.0},
                         {"important": 5.0, "minor": 1.0}) == 90.0
    # default weight = 1/(1+null_pct): a and b equally null-free
    assert dataset_score({"a": 85.0, "b": 70.0},
                         {"a": 0.0, "b": 0.0}) == 77.5
    # nullier column down-weighted: w_a=1, w_b=1/2 -> (85 + 35)/(1.5) = 80
    assert dataset_score({"a": 85.0, "b": 70.0},
                         {"a": 0.0, "b": 1.0}) == 80.0
    assert dataset_score({}, {}) == 0.0


def test_metrics_weighted_score(spark):
    """weighted_score down-weights docs missing null-tracked fields:
    clean doc (w=1, score 100) + TS_NULL doc (w=1/(1+1/3)=0.75,
    score 95) -> (100 + 71.25) / 1.75 = 97.857..."""
    clean = _mk(spark, [])
    nully = _mk(spark, ["TS_NULL"])
    m = metrics_table(clean.unionByName(nully)).first()
    assert abs(m["avg_score"] - 97.5) < 1e-9
    expected = (100.0 * 1.0 + 95.0 * 0.75) / 1.75
    assert abs(m["weighted_score"] - expected) < 1e-9


def test_lineage_and_metrics(spark):
    df = _mk(spark, ["URL_MALFORMED", "PII_EMAIL"])
    lin = lineage_table(df).collect()
    got = {(r["rule"], r["severity"]) for r in lin}
    assert got == {("URL_MALFORMED", "HIGH"), ("PII_EMAIL", "INFO")}
    m = metrics_table(df).first()
    assert m["n_docs"] == 1
    assert m["n_URL_MALFORMED"] == 1
    assert m["n_TEXT_NULL_LIKE"] == 0


def test_builder_calls_do_not_grow_with_rules(spark, py4j_calls):
    """with_scores + metrics_table build from SQL text: 20 more business
    rules lengthen the strings, not the py4j traffic (as Column trees
    each rule cost ~50 calls in with_scores and ~50 in the aggregates)."""
    from qualityspark.config import RunConfig
    biz = RunConfig.from_dict({"business_rules": [
        {"name": f"r{i}", "assertion": "true"} for i in range(20)]})
    sigs = [f"sig_{r}" for r, _ in biz.doc_rules()]
    df = spark.range(1).selectExpr("'u' AS url", "NULL AS warc_ts",
                                   *[f"false AS {s}" for s in sigs])

    def calls(cfg):
        return py4j_calls(lambda: metrics_table(with_scores(df, cfg),
                                                cfg=cfg))

    calls(None)     # warm: lazy Python-side imports and JVM class lookups
    n0, n20 = calls(RunConfig.default()), calls(biz)
    assert n20 - n0 <= 2, (n0, n20)
    assert n0 < 60, n0


def test_sql_names_asserted(spark):
    """Rule ids and severities are interpolated into SQL text, so each must
    match [A-Z0-9_]+; a hand-built RunConfig (which skips validation)
    carrying another one fails at build time."""
    import pytest
    from qualityspark.config import RunConfig
    df = _mk(spark, [])
    bad_id = RunConfig(business_rules=({
        "rule_id": "BIZ_X') OR (true", "name": "x", "assertion": "true",
        "severity": "HIGH"},))
    bad_sev = RunConfig(severity_overrides={"URL_NULL": "high"})
    for cfg in (bad_id, bad_sev):
        for build in (with_scores, lineage_table, metrics_table):
            with pytest.raises(ValueError, match=r"\[A-Z0-9_\]\+"):
                build(df, cfg=cfg)


def test_audit_build_calls_bounded(spark, pages_small, py4j_calls):
    """Building ``audit()`` sends a bounded number of py4j commands: the
    signal, model, dedup, scoring and metric columns are SQL text, one
    statement each (the Column forms sent 2,012 on the 2,000-page
    benchmark corpus)."""
    from qualityspark.caching import release_caches
    from qualityspark.pipeline import audit

    def build():
        audit(pages_small)
        release_caches()

    build()     # warm: lazy Python-side imports and JVM class lookups
    n = py4j_calls(build)
    assert n <= 500, n


def test_sql_over_keeps_cached_inputs_cached(spark):
    """A cached frame read by a SQL-text builder stays cached: dropping
    the statement's temp view through ``Catalog.dropTempView`` would
    uncache it."""
    from qualityspark.rules.heuristics import signal_columns
    from qualityspark.scoring import sql_over
    df = spark.range(3).selectExpr("'u' AS url", "NULL AS warc_ts",
                                   "'some text' AS text", "'en' AS lang",
                                   "false AS keep", "100.0D AS score",
                                   "array('URL_NULL') AS rules_fired")
    df.cache()
    try:
        cm = spark._jsparkSession.sharedState().cacheManager()
        for build in (lambda: sql_over("SELECT * FROM {df}", df=df),
                      lambda: signal_columns(df),
                      lambda: metrics_table(df)):
            build()
            assert cm.lookupCachedData(df._jdf).isDefined()
        assert sql_over("SELECT count(1) AS n FROM {a} JOIN {b} USING (id)",
                        a=spark.range(4), b=spark.range(2)).first().n == 2
    finally:
        df.unpersist()
