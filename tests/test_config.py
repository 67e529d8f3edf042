"""Runtime config surface (reference core/config_loader.py:52-186;
behavior pinned by reference tests/test_new_features.py:260-313): invalid
configs rejected with collected errors, threshold changes move rule fire
counts, a disabled rule stops firing, a severity override changes
keep/drop — all with exact Spark-vs-oracle parity under the same config."""

import pytest

from qualityspark import constants as C
from qualityspark.config import (ConfigValidationError, RunConfig,
                                 load_config, validate_config)


# ---------------------------------------------------------------------------
# Validation (mirrors reference tests/test_new_features.py:260-313)
# ---------------------------------------------------------------------------

def test_invalid_severity_override_rejected():
    with pytest.raises(ConfigValidationError, match="valid severity"):
        validate_config(
            {"severity_overrides": {"WORDS_TOO_FEW": "SUPER_CRITICAL"}})


def test_non_numeric_threshold_rejected():
    with pytest.raises(ConfigValidationError, match="numeric"):
        validate_config({"thresholds": {"MIN_WORDS": "high"}})


def test_unknown_threshold_param_rejected():
    with pytest.raises(ConfigValidationError, match="unknown parameter"):
        validate_config({"thresholds": {"NO_SUCH_PARAM": 1}})


def test_negative_scoring_rejected():
    with pytest.raises(ConfigValidationError, match=">= 0"):
        validate_config({"scoring": {"CRITICAL": -5}})


def test_business_rule_missing_assertion_rejected():
    with pytest.raises(ConfigValidationError, match="assertion"):
        validate_config(
            {"business_rules": [{"name": "bad", "severity": "HIGH"}]})


def test_unknown_disabled_rule_rejected():
    with pytest.raises(ConfigValidationError, match="unknown rule id"):
        validate_config({"disabled_rules": ["NOT_A_RULE"]})


def test_unknown_section_rejected():
    with pytest.raises(ConfigValidationError, match="unknown config"):
        validate_config({"tresholds": {"MIN_WORDS": 10}})  # typo'd key


def test_foreign_keys_validated():
    """FK section accepted when complete, rejected on missing fields
    (reference tests/test_new_features.py:311-313)."""
    validate_config({"foreign_keys": [
        {"child_table": "orders", "child_column": "custkey",
         "parent_table": "customer", "parent_column": "custkey"}]})
    with pytest.raises(ConfigValidationError, match="missing fields"):
        validate_config({"foreign_keys": [{"child_table": "orders"}]})
    cfg = RunConfig.from_dict({"foreign_keys": [
        {"child_table": "orders", "child_column": "custkey",
         "parent_table": "customer", "parent_column": "custkey"}]})
    assert cfg.foreign_keys[0]["parent_table"] == "customer"


def test_valid_config_accepted():
    validate_config({
        "thresholds": {"MIN_WORDS": 100, "MAX_TOXICITY_DENSITY": 0.01},
        "disabled_rules": ["CAPS_RATIO_HIGH"],
        "severity_overrides": {"TRUNCATION_SIGNS": "INFO"},
        "scoring": {"CRITICAL": 30, "HIGH": 12},
        "column_weights": {"text": 3.0},
        "business_rules": [{"name": "lang sane",
                            "assertion": "lang is not null",
                            "severity": "HIGH"}],
    })


def test_multiple_errors_collected():
    with pytest.raises(ConfigValidationError) as e:
        validate_config({"thresholds": {"MIN_WORDS": "x"},
                         "scoring": {"CRITICAL": -1}})
    assert "MIN_WORDS" in str(e.value) and "CRITICAL" in str(e.value)


def test_load_yaml_file(tmp_path):
    p = tmp_path / "cfg.yaml"
    p.write_text("thresholds:\n  MIN_WORDS: 10\n"
                 "disabled_checks:\n  - CAPS_RATIO_HIGH\n"
                 "severity_overrides:\n  TRUNCATION_SIGNS: INFO\n")
    cfg = load_config(str(p))
    assert cfg.param("MIN_WORDS") == 10
    assert not cfg.rule_enabled("CAPS_RATIO_HIGH")   # alias accepted
    assert cfg.severity("TRUNCATION_SIGNS") == "INFO"
    # untouched params keep constants defaults
    assert cfg.param("MAX_WORDS") == C.MAX_WORDS


def test_load_invalid_yaml_file_rejected(tmp_path):
    p = tmp_path / "bad.yaml"
    p.write_text("severity_overrides:\n  WORDS_TOO_FEW: NOT_A_SEVERITY\n")
    with pytest.raises(ConfigValidationError):
        load_config(str(p))


def test_doc_rules_shape():
    cfg = RunConfig.from_dict({
        "disabled_rules": ["WORDS_TOO_MANY"],
        "severity_overrides": {"WORDS_TOO_FEW": "CRITICAL"},
        "business_rules": [{"name": "has lang", "assertion":
                            "lang is not null"}],
    })
    rules = dict(cfg.doc_rules())
    assert "WORDS_TOO_MANY" not in rules
    assert rules["WORDS_TOO_FEW"] == "CRITICAL"
    assert rules["BIZ_HAS_LANG"] == "HIGH"           # default biz severity
    assert RunConfig.default().doc_rules() == list(C.DOC_RULES)


# ---------------------------------------------------------------------------
# End-to-end reconfiguration with Spark-vs-oracle parity
# ---------------------------------------------------------------------------

def _spark_results(pages, cfg):
    from qualityspark.pipeline import audit
    res = audit(pages, cfg=cfg).select(
        "url", "warc_ts", "score", "keep", "rules_fired").collect()
    return {(r["url"], r["warc_ts"]):
            (float(r["score"]), bool(r["keep"]), sorted(r["rules_fired"]))
            for r in res}


def _oracle_results(rows, cfg):
    from qualityspark import oracle
    return {(row["url"], row["warc_ts"]):
            (o["score"], o["keep"], sorted(o["rules"]))
            for row, o in zip(rows, oracle.audit_rows(rows, cfg=cfg))}


def _assert_parity(spark_by_key, oracle_by_key):
    assert len(spark_by_key) == len(oracle_by_key)
    for key, want in oracle_by_key.items():
        assert spark_by_key[key] == want, (key, spark_by_key[key], want)


def test_disabled_rule_stops_firing(spark, pages_small, oracle_small):
    """Disabling a rule removes it from rules_fired on BOTH engines and
    changes scores exactly as the oracle predicts."""
    rows, default_orc = oracle_small
    assert any("WORDS_TOO_FEW" in o["rules"] for o in default_orc)

    cfg = RunConfig.from_dict({"disabled_rules": ["WORDS_TOO_FEW"]})
    got = _spark_results(pages_small, cfg)
    assert not any("WORDS_TOO_FEW" in v[2] for v in got.values())
    _assert_parity(got, _oracle_results(rows, cfg))


def test_severity_override_changes_keep(spark, pages_small, oracle_small):
    """Promoting a HIGH rule to CRITICAL drops every doc that fires it
    (keep/drop mapping: any CRITICAL -> drop), identically on both
    engines."""
    rows, _ = oracle_small
    cfg = RunConfig.from_dict(
        {"severity_overrides": {"WORDS_TOO_FEW": "CRITICAL"}})
    got = _spark_results(pages_small, cfg)
    for v in got.values():
        if "WORDS_TOO_FEW" in v[2]:
            assert v[1] is False
    _assert_parity(got, _oracle_results(rows, cfg))
    # and it changed something vs default
    default = _spark_results(pages_small, None)
    assert sum(v[1] for v in got.values()) < sum(
        v[1] for v in default.values())


def test_threshold_change_moves_fire_counts(spark, pages_small,
                                            oracle_small):
    """Lowering MIN_WORDS to 5 un-fires WORDS_TOO_FEW on short-but-real
    docs; raising toxicity density bar similarly; exact parity."""
    rows, default_orc = oracle_small
    cfg = RunConfig.from_dict({"thresholds": {"MIN_WORDS": 5}})
    got = _spark_results(pages_small, cfg)
    orc = _oracle_results(rows, cfg)
    _assert_parity(got, orc)
    n_default = sum("WORDS_TOO_FEW" in o["rules"] for o in default_orc)
    n_cfg = sum("WORDS_TOO_FEW" in v[2] for v in got.values())
    assert n_cfg < n_default


def test_scoring_deduction_override(spark, pages_small, oracle_small):
    """Custom deduction table changes scores identically on both sides."""
    rows, _ = oracle_small
    cfg = RunConfig.from_dict({"scoring": {"MEDIUM": 1, "LOW": 0}})
    _assert_parity(_spark_results(pages_small, cfg),
                   _oracle_results(rows, cfg))


def test_float_literals_parity(spark, pages_small, oracle_small):
    """A float deduction, a float keep cutoff and an int where the default
    is a float: the SQL-text builders type each literal as ``F.lit`` does
    (7.5 DOUBLE, not DECIMAL; 5000 INT), and scores, keep and rules equal
    the oracle's."""
    rows, _ = oracle_small
    cfg = RunConfig.from_dict({
        "scoring": {"HIGH": 7.5},
        "thresholds": {"KEEP_SCORE_CUTOFF": 59.5, "MAX_PERPLEXITY": 5000}})
    got = _spark_results(pages_small, cfg)
    assert any(v[0] % 1 for v in got.values())   # a half-point score
    _assert_parity(got, _oracle_results(rows, cfg))


def test_sql_lit_types_like_lit(spark):
    """Each SQL literal parses to F.lit's type and value, including the
    int32/int64 boundary and floats a bare decimal would turn DECIMAL.
    (The infinities are a CAST, nullable until constant folding makes it
    the same literal, so nullability is not compared.)"""
    from pyspark.sql import functions as F
    from qualityspark.scoring import sql_lit
    vals = [True, False, 0, 7, -3, 2**31 - 1, 2**31, -2**31 - 1, 7.5, 60.0,
            -0.5, 1e16, 1.5e-07, 5e-324, float("inf"), -float("inf"),
            "HIGH", None]
    want = spark.range(1).select(
        *[F.lit(v).alias(f"c{i}") for i, v in enumerate(vals)])
    got = spark.range(1).selectExpr(
        *[f"{sql_lit(v)} AS c{i}" for i, v in enumerate(vals)])
    assert ([f.dataType for f in got.schema]
            == [f.dataType for f in want.schema])
    assert got.first() == want.first()
    for bad in ("a'b", "", 1j):
        with pytest.raises(ValueError):
            sql_lit(bad)


def test_business_rule_fires_spark_side(spark, pages_small):
    """A failing assertion fires BIZ_<NAME> with its configured severity;
    a CRITICAL business rule drops the affected docs.  The oracle refuses
    configs with business rules (cannot evaluate Spark SQL) — asserted
    too."""
    from qualityspark import oracle
    cfg = RunConfig.from_dict({"business_rules": [
        {"name": "perplexity sane", "assertion": "perplexity < 1e13",
         "severity": "CRITICAL"},
        {"name": "url https", "assertion": "url like 'https%'",
         "severity": "LOW"},
    ]})
    got = _spark_results(pages_small, cfg)
    fired_low = [v for v in got.values() if "BIZ_URL_HTTPS" in v[2]]
    assert fired_low, "http:// pages exist in the synth corpus"
    # CRITICAL biz rule fires nowhere (sane perplexity) -> no keep change
    assert not any("BIZ_PERPLEXITY_SANE" in v[2] for v in got.values())
    with pytest.raises(ValueError, match="business rules"):
        oracle.audit_rows([{"url": "https://x.org", "text": "hi"}], cfg=cfg)


def test_cli_config_flag(tmp_path):
    """--config on the CLI: a bad file fails fast with a validation error
    (before any Spark work)."""
    from qualityspark import cli
    bad = tmp_path / "bad.yaml"
    bad.write_text("scoring:\n  CRITICAL: -2\n")
    with pytest.raises(ConfigValidationError):
        cli.main(["run", "--input", "x", "--output", "y",
                  "--config", str(bad)])


def test_sql_str_round_trips(spark):
    r"""``sql_str`` literals reach the JVM byte-exact through ``sql_over``'s
    formatter: quotes, backslashes, braces, regex escape text such as
    ``\x00``, a real NUL, ``…`` and U+FFFD."""
    from qualityspark.scoring import sql_over, sql_str
    vals = ["it's", "a\\b", r"[\x00-\x08\x0b]", "{2,}", "}{", "\x00",
            "…", "�", "\\'", r"(\.\.\.|…)[ \t]*\z", ""]
    got = sql_over("SELECT {} FROM {{df}}".format(", ".join(
        f"{sql_str(v)} AS c{i}" for i, v in enumerate(vals))),
        df=spark.range(1)).first()
    assert list(got) == vals


def test_driver_memory_follows_host():
    """Half the host's memory in whole GiB, at least 1g, at most 32g."""
    from qualityspark.session import driver_memory
    gib = 2**30
    assert driver_memory(15 * gib + 700 * 2**20) == "7g"
    assert driver_memory(16 * gib) == "8g"
    assert driver_memory(gib) == "1g"
    assert driver_memory(512 * 2**20) == "1g"
    assert driver_memory(64 * gib) == "32g"
    assert driver_memory(1024 * gib) == "32g"
