"""Runtime configuration: per-rule thresholds, disabled rules, severity
overrides, scoring deductions, column weights and declarative business
rules — loaded from YAML/JSON with validation, so an operator can retune
the audit without editing the package.

Mirrors the reference config surface (core/config_loader.py:52-153
validation, :178-186 loaded model; pinned behavior in reference
tests/test_new_features.py:260-313): invalid configs are rejected with a
collected error list, a severity override changes what a rule deducts, a
disabled rule stops firing.  Differences forced by the engine's shape:

* the reference keys ``thresholds`` by check-id with a severity sub-dict
  (each pandas check owns a severity ladder); this engine's document rules
  each have ONE severity and ONE scalar threshold held in
  ``constants`` — so ``thresholds`` here is a flat
  ``{PARAM_NAME: number}`` map over the tunable parameters
  (``TUNABLE_PARAMS``, e.g. ``MIN_WORDS``, ``MAX_TOXICITY_DENSITY``,
  ``KEEP_SCORE_CUTOFF``);
* ``disabled_rules`` / ``severity_overrides`` are keyed by the rule ids in
  ``constants.DOC_RULES`` (``disabled_checks`` is accepted as an alias for
  reference parity);
* ``business_rules`` are Spark-side ``F.expr`` assertions evaluated over
  the audited frame (the reference's BusinessRulesEngine analog,
  core/business_rules.py): a document fires ``BIZ_<NAME>`` when the
  assertion is false or null for that row.  The pure-Python oracle cannot
  evaluate Spark SQL, so ``oracle.audit_rows`` rejects configs carrying
  business rules rather than silently diverging.

A ``RunConfig`` is immutable and cheap; every pipeline entry point takes
``cfg=None`` meaning "defaults from constants" — the zero-config path is
byte-identical to the pre-config engine.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field

from qualityspark import constants as C

VALID_SEVERITIES = frozenset(C.SEVERITIES)
VALID_SCORING_KEYS = frozenset(("CRITICAL", "HIGH", "MEDIUM", "LOW", "INFO"))

# Tunable scalar parameters -> default value (from constants).  The name IS
# the public config key; each maps to exactly one rule family (documented in
# constants.py next to the default).
TUNABLE_PARAMS = {
    "MIN_WORDS": C.MIN_WORDS,
    "MAX_WORDS": C.MAX_WORDS,
    "MIN_MEAN_WORD_LEN": C.MIN_MEAN_WORD_LEN,
    "MAX_MEAN_WORD_LEN": C.MAX_MEAN_WORD_LEN,
    "MAX_SYMBOL_WORD_RATIO": C.MAX_SYMBOL_WORD_RATIO,
    "MAX_BULLET_LINE_RATIO": C.MAX_BULLET_LINE_RATIO,
    "MAX_ELLIPSIS_LINE_RATIO": C.MAX_ELLIPSIS_LINE_RATIO,
    "MIN_ALPHA_WORD_RATIO": C.MIN_ALPHA_WORD_RATIO,
    "MIN_REQUIRED_STOPWORDS": C.MIN_REQUIRED_STOPWORDS,
    "MAX_REPETITION_3GRAM": C.MAX_REPETITION_3GRAM,
    "MAX_CAPS_RATIO": C.MAX_CAPS_RATIO,
    "MIN_STOPWORD_DENSITY": C.MIN_STOPWORD_DENSITY,
    "MAX_PERPLEXITY": C.MAX_PERPLEXITY,
    "MIN_LANG_PROB": C.MIN_LANG_PROB,
    "MAX_NUL_FRACTION": C.MAX_NUL_FRACTION,
    "MAX_TOXICITY_DENSITY": C.MAX_TOXICITY_DENSITY,
    "KEEP_SCORE_CUTOFF": C.KEEP_SCORE_CUTOFF,
    "PII_MIN_MATCH_PCT": C.PII_MIN_MATCH_PCT,
}

_BIZ_NAME_RE = re.compile(r"[^A-Za-z0-9]+")


class ConfigValidationError(ValueError):
    """Raised when a config file/dict fails validation; the message lists
    EVERY problem found (reference core/config_loader.py:149-151)."""


def _biz_rule_id(name: str, index: int) -> str:
    slug = _BIZ_NAME_RE.sub("_", (name or f"rule{index}").strip()).strip("_")
    return f"BIZ_{slug.upper() or index}"


def validate_config(config: dict) -> None:
    """Validates structure/types/domains; raises ConfigValidationError with
    all problems at once (mirrors reference _validate_config)."""
    errors: list[str] = []

    thresholds = config.get("thresholds")
    if thresholds is not None:
        if not isinstance(thresholds, dict):
            errors.append(f"'thresholds' must be a dict, got "
                          f"{type(thresholds).__name__}")
        else:
            for name, val in thresholds.items():
                if name not in TUNABLE_PARAMS:
                    errors.append(
                        f"thresholds.{name}: unknown parameter (valid: "
                        f"{sorted(TUNABLE_PARAMS)})")
                if isinstance(val, bool) or not isinstance(val, (int, float)):
                    errors.append(f"thresholds.{name}: value must be "
                                  f"numeric, got {type(val).__name__}")

    disabled = config.get("disabled_rules", config.get("disabled_checks"))
    if disabled is not None:
        if not isinstance(disabled, list):
            errors.append(f"'disabled_rules' must be a list, got "
                          f"{type(disabled).__name__}")
        else:
            for item in disabled:
                if not isinstance(item, str):
                    errors.append(
                        f"disabled_rules contains non-string value: {item!r}")
                elif item not in C.RULE_SEVERITY:
                    errors.append(f"disabled_rules.{item}: unknown rule id")

    overrides = config.get("severity_overrides")
    if overrides is not None:
        if not isinstance(overrides, dict):
            errors.append(f"'severity_overrides' must be a dict, got "
                          f"{type(overrides).__name__}")
        else:
            for rule, sev in overrides.items():
                if rule not in C.RULE_SEVERITY:
                    errors.append(f"severity_overrides.{rule}: unknown "
                                  f"rule id")
                if not isinstance(sev, str) or sev not in VALID_SEVERITIES:
                    errors.append(
                        f"severity_overrides.{rule}: '{sev}' is not a valid "
                        f"severity (valid: {sorted(VALID_SEVERITIES)})")

    scoring = config.get("scoring")
    if scoring is not None:
        if not isinstance(scoring, dict):
            errors.append(f"'scoring' must be a dict, got "
                          f"{type(scoring).__name__}")
        else:
            for key, val in scoring.items():
                if key not in VALID_SCORING_KEYS:
                    errors.append(f"scoring.{key}: invalid key (valid: "
                                  f"{sorted(VALID_SCORING_KEYS)})")
                if isinstance(val, bool) or not isinstance(val, (int, float)):
                    errors.append(f"scoring.{key}: value must be numeric, "
                                  f"got {type(val).__name__}")
                elif val < 0:
                    errors.append(f"scoring.{key}: value must be >= 0, "
                                  f"got {val}")

    weights = config.get("column_weights")
    if weights is not None:
        if not isinstance(weights, dict):
            errors.append(f"'column_weights' must be a dict, got "
                          f"{type(weights).__name__}")
        else:
            for col, w in weights.items():
                if isinstance(w, bool) or not isinstance(w, (int, float)):
                    errors.append(f"column_weights.{col}: weight must be "
                                  f"numeric, got {type(w).__name__}")
                elif w < 0:
                    errors.append(f"column_weights.{col}: weight must be "
                                  f">= 0, got {w}")

    rules = config.get("business_rules")
    if rules is not None:
        if not isinstance(rules, list):
            errors.append(f"'business_rules' must be a list, got "
                          f"{type(rules).__name__}")
        else:
            for i, rule in enumerate(rules):
                if not isinstance(rule, dict):
                    errors.append(f"business_rules[{i}]: must be a dict")
                    continue
                if "assertion" not in rule:
                    errors.append(f"business_rules[{i}]: missing required "
                                  f"field 'assertion'")
                elif not isinstance(rule["assertion"], str):
                    errors.append(f"business_rules[{i}]: 'assertion' must "
                                  f"be a SQL expression string")
                sev = rule.get("severity")
                if sev is not None and sev not in VALID_SEVERITIES:
                    errors.append(
                        f"business_rules[{i}]: severity '{sev}' invalid")

    fks = config.get("foreign_keys")
    if fks is not None:
        if not isinstance(fks, list):
            errors.append(f"'foreign_keys' must be a list, got "
                          f"{type(fks).__name__}")
        else:
            required = {"child_table", "child_column", "parent_table",
                        "parent_column"}
            for i, fk in enumerate(fks):
                if not isinstance(fk, dict):
                    errors.append(f"foreign_keys[{i}]: must be a dict")
                    continue
                missing = required - set(fk)
                if missing:
                    errors.append(f"foreign_keys[{i}]: missing fields: "
                                  f"{sorted(missing)}")

    known = {"thresholds", "disabled_rules", "disabled_checks",
             "severity_overrides", "scoring", "column_weights",
             "business_rules", "foreign_keys"}
    for key in config:
        if key not in known:
            errors.append(f"unknown config section '{key}' (valid: "
                          f"{sorted(known - {'disabled_checks'})})")

    if errors:
        raise ConfigValidationError(
            "config validation errors:\n  - " + "\n  - ".join(errors))


@dataclass(frozen=True)
class RunConfig:
    """Validated, immutable runtime configuration.  Field semantics match
    the YAML sections; all empty == engine defaults."""
    thresholds: dict = field(default_factory=dict)
    disabled_rules: frozenset = frozenset()
    severity_overrides: dict = field(default_factory=dict)
    scoring: dict = field(default_factory=dict)
    column_weights: dict = field(default_factory=dict)
    business_rules: tuple = ()
    # declared referential-integrity pairs (reference config_loader
    # foreign_keys section); csv_audit.audit_csv_batch executes them over
    # the directory's files, tables named by file stem
    foreign_keys: tuple = ()

    @staticmethod
    def default() -> "RunConfig":
        return _DEFAULT

    @staticmethod
    def from_dict(d: dict) -> "RunConfig":
        validate_config(d)
        biz = tuple(
            {"rule_id": _biz_rule_id(r.get("name", ""), i),
             "name": r.get("name", f"rule{i}"),
             "assertion": r["assertion"],
             "severity": r.get("severity", "HIGH")}
            for i, r in enumerate(d.get("business_rules") or []))
        return RunConfig(
            thresholds=dict(d.get("thresholds") or {}),
            disabled_rules=frozenset(
                d.get("disabled_rules", d.get("disabled_checks")) or ()),
            severity_overrides=dict(d.get("severity_overrides") or {}),
            scoring=dict(d.get("scoring") or {}),
            column_weights=dict(d.get("column_weights") or {}),
            business_rules=biz,
            foreign_keys=tuple(dict(fk)
                               for fk in d.get("foreign_keys") or ()))

    # -- accessors used by the pipeline stages --------------------------

    def param(self, name: str):
        """Threshold parameter with constants default."""
        return self.thresholds.get(name, TUNABLE_PARAMS[name])

    def deduction(self, severity: str) -> float:
        return self.scoring.get(severity, C.SEVERITY_DEDUCTIONS[severity])

    def rule_enabled(self, rule_id: str) -> bool:
        return rule_id not in self.disabled_rules

    def severity(self, rule_id: str) -> str:
        base = C.RULE_SEVERITY.get(rule_id)
        if base is None:  # business rule
            for r in self.business_rules:
                if r["rule_id"] == rule_id:
                    base = r["severity"]
                    break
        return self.severity_overrides.get(rule_id, base)

    def doc_rules(self) -> list:
        """(rule_id, effective_severity) pairs driving scoring, lineage and
        metrics: DOC_RULES minus disabled, severities overridden, business
        rules appended."""
        rules = [(r, self.severity_overrides.get(r, s))
                 for r, s in C.DOC_RULES if r not in self.disabled_rules]
        rules.extend((b["rule_id"],
                      self.severity_overrides.get(b["rule_id"],
                                                  b["severity"]))
                     for b in self.business_rules)
        return rules

    @property
    def is_default(self) -> bool:
        return self == _DEFAULT


_DEFAULT = RunConfig()


def resolve(cfg: "RunConfig | None") -> RunConfig:
    return _DEFAULT if cfg is None else cfg


def load_config(path: str) -> RunConfig:
    """Load + validate a YAML or JSON config file (YAML is a JSON superset,
    so one loader covers both; reference ConfigLoader.load)."""
    with open(path, "r", encoding="utf-8") as f:
        raw = f.read()
    try:
        import yaml
        data = yaml.safe_load(raw) or {}
    except ImportError:  # pragma: no cover - PyYAML is baked into the env
        data = json.loads(raw or "{}")
    if not isinstance(data, dict):
        raise ConfigValidationError(
            f"config file must contain a mapping, got "
            f"{type(data).__name__}")
    return RunConfig.from_dict(data)
