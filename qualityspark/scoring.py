"""Per-document scoring, grading, keep/drop and lineage.

Mirrors the reference scoring layer (core/scoring_system.py:7-29,66-79:
deductions CRITICAL 25 / HIGH 10 / MEDIUM 5 / LOW 2, floor 0, grades
A>=90 B>=75 C>=60 D>=40 F) applied per *document* instead of per column, and
the keep/drop mapping (data_quality_auditor.py:308-314: any CRITICAL ->
drop).  No shuffle.  The rule-driven columns and aggregates are built as
SQL text, one expression per output column (see ``with_scores``).
"""

from __future__ import annotations

import math
import re
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qualityspark import constants as C
from qualityspark.config import resolve


def with_business_rules(df: DataFrame, cfg=None) -> DataFrame:
    """Adds one ``sig_BIZ_<NAME>`` boolean per configured business rule
    (reference core/business_rules.py analog): the rule FIRES for a row
    when its SQL assertion is false or null there — pure F.expr column
    expressions, codegen'd with the rest of the signal projection."""
    cfg = resolve(cfg)
    if not cfg.business_rules:
        return df
    return df.withColumns({
        f"sig_{b['rule_id']}":
            ~F.coalesce(F.expr(b["assertion"]).cast("boolean"),
                        F.lit(False))
        for b in cfg.business_rules})


_SQL_NAME = re.compile(r"[A-Z0-9_]+")
_SQL_WORD = re.compile(r"[A-Za-z0-9_]+")


def sql_lit(v) -> str:
    """``v`` as a Spark SQL literal typed the way ``F.lit`` types it, so a
    SQL-text builder yields the same plan as the Column form: bool;
    int -> INT, or BIGINT outside int32 (the parser picks the same);
    float -> DOUBLE via an exact ``repr`` literal (a bare ``7.5`` parses
    as DECIMAL), a non-finite one via a CAST the optimizer folds to the
    same literal; None -> NULL.  Strings are limited to ``[A-Za-z0-9_]+``
    (rule ids, severities, grades, language codes), so none needs
    quoting."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return f"({v})" if v < 0 else str(v)
    if isinstance(v, float):
        if not math.isfinite(v):
            return f"CAST('{v}' AS DOUBLE)"
        return f"({v!r}D)" if math.copysign(1.0, v) < 0 else f"{v!r}D"
    if isinstance(v, str) and _SQL_WORD.fullmatch(v):
        return f"'{v}'"
    raise ValueError(f"no SQL literal for {v!r}")


def sql_str(s: str) -> str:
    r"""``s`` as a single-quoted string literal for SQL text run by
    ``sql_over``: the SQL lexer unescapes ``\\`` and ``\'``, and the
    ``str.format`` pass turns ``{{``/``}}`` back into ``{``/``}``.
    Every other character passes through byte-exact, so a regex's
    ``\x00``-style escape text, ``…`` and U+FFFD reach the JVM as the
    Python pattern spells them."""
    return "'{}'".format(s.replace("\\", "\\\\").replace("'", "\\'")
                         .replace("{", "{{").replace("}", "}}"))


def sql_over(text: str, **frames: DataFrame) -> DataFrame:
    """``spark.sql(text, **frames)`` without its side effect on the
    cache: each ``{name}`` in ``text`` reads the DataFrame passed as
    ``name`` through a temp view, as the ``spark.sql`` formatter does,
    but the views are dropped from the session catalog directly.  The
    formatter drops them through ``Catalog.dropTempView``, which also
    uncaches every cached plan equal to a view's — so a cached input
    (``pipeline.audit``'s narrow dedup projection, a caller's cached
    pages) would silently stop being cached.  ``text`` follows
    ``str.format`` rules, as the formatter's does (``sql_str`` doubles
    braces)."""
    spark = next(iter(frames.values())).sparkSession
    names = {k: f"_qs_{k}_{uuid.uuid4().hex}" for k in frames}
    for k, df in frames.items():
        df.createOrReplaceTempView(names[k])
    try:
        return spark.sql(text.format(**names))
    finally:
        catalog = spark._jsparkSession.sessionState().catalog()
        for name in names.values():
            catalog.dropTempView(name)


def _sql_rules(cfg) -> list:
    """``cfg.doc_rules()`` with every rule id and severity asserted to match
    ``[A-Z0-9_]+``: the SQL builders below interpolate them into column
    names (``sig_<id>``) and string literals."""
    rules = cfg.doc_rules()
    for rule, sev in rules:
        if not (_SQL_NAME.fullmatch(rule) and _SQL_NAME.fullmatch(sev)):
            raise ValueError(f"rule id {rule!r} / severity {sev!r} must "
                             f"match [A-Z0-9_]+")
    return rules


def with_scores(df: DataFrame, cfg=None) -> DataFrame:
    """Adds ``score``, ``grade``, ``rules_fired`` and ``keep``.  Each is ONE
    SQL expression string: built as Column trees, every ``F.col`` /
    ``F.lit`` / ``F.when`` is its own py4j call, ~2,900 per call over the
    default 40-odd rules.  The text mirrors the Column form term for term
    (literal types, left-deep chains, operand order), so the optimized
    plan is text-identical to it."""
    cfg = resolve(cfg)
    rules = _sql_rules(cfg)
    fired = {r: f"coalesce(sig_{r}, false)" for r, _ in rules}
    # ``a + b + c`` parses left-deep like the Column sum; parenthesising
    # each of its ~40 levels cost ~1.5 s more in the first (cold) parse
    penalty = " + ".join(
        f"CASE WHEN sig_{r} THEN {sql_lit(cfg.deduction(sev))} ELSE 0 END"
        for r, sev in rules)
    score = f"greatest(0.0D, (100.0D - CAST({penalty} AS DOUBLE)))"

    grade = sql_lit("F")
    for threshold, g in sorted(C.GRADE_SCALE):  # ascending: last when wins
        grade = (f"CASE WHEN ({score} >= {sql_lit(threshold)}) "
                 f"THEN {sql_lit(g)} ELSE {grade} END")

    # parenthesised left-deep, as the Column ``|`` builds it: Spark's
    # parser balances a long unparenthesised OR chain
    has_critical = "false"
    for r, sev in rules:
        if sev == "CRITICAL":
            has_critical = f"({has_critical} OR {fired[r]})"
    rules_fired = "array_compact(array({}))".format(", ".join(
        f"CASE WHEN {fired[r]} THEN {sql_lit(r)} END" for r, _ in rules))
    cutoff = sql_lit(cfg.param("KEEP_SCORE_CUTOFF"))

    return df.withColumns({
        "score": F.expr(f"round({score}, 1)"),
        "grade": F.expr(grade),
        "rules_fired": F.expr(rules_fired),
        "keep": F.expr(f"((NOT {has_critical}) AND ({score} >= {cutoff}))"),
    })


def lineage_table(df: DataFrame, cfg=None) -> DataFrame:
    """One row per (url, rule, severity) — the flagged-rows table analog
    (reference core/flagged_rows.py:71-144), derived by exploding the
    already-computed signals instead of re-deriving masks.  The severity
    map is one ``map(...)`` SQL literal rather than two ``F.lit`` calls
    per rule; the optimized plan is the same."""
    cfg = resolve(cfg)
    sev_map = "map({})".format(", ".join(
        f"{sql_lit(r)}, {sql_lit(s)}" for r, s in _sql_rules(cfg)))
    return (df.select("url", "warc_ts",
                      F.explode("rules_fired").alias("rule"))
            .withColumn("severity", F.expr(f"{sev_map}[rule]")))


def dataset_score(column_scores: dict, null_pcts: dict,
                  column_weights: dict | None = None) -> float:
    """Reference weighted dataset score (core/scoring_system.py:81-94):
    weight per column = column_weights.get(col, 1/(1+null_pct)); dataset
    score = sum(score*w)/sum(w).  Pure-python mirror, pinned by
    tests/test_scoring.py against the reference's own test arithmetic."""
    column_weights = column_weights or {}
    total_w = weighted = 0.0
    for col, score in column_scores.items():
        w = column_weights.get(col, 1.0 / (1.0 + null_pcts.get(col, 0.0)))
        weighted += score * w
        total_w += w
    return weighted / total_w if total_w > 0 else 0.0


# the per-document analog of the reference's per-column null_pct weighting:
# fraction of the tracked nullable input fields (text, url, warc_ts) the
# document is missing — docs with more missing fields count less toward the
# corpus score, mirroring 1/(1+null_pct) column weighting at doc granularity
_NULL_FIELD_RULES = ("TEXT_NULL_LIKE", "URL_NULL", "TS_NULL")


def _metric_aggs(df: DataFrame, cfg=None) -> list:
    """SQL text of the aggregate list shared by corpus-level and
    per-partition metrics, and by the metrics ``io.run_resumable``
    observes on its per-partition pass.  Written term for term like the
    Column form it replaces (which cost ~2,100 py4j calls per list), so
    the optimized plans are unchanged."""
    cfg = resolve(cfg)
    rules = _sql_rules(cfg)
    has_sigs = any(c.startswith("sig_") for c in df.columns)

    def fired(rule):
        if has_sigs:
            return f"coalesce(sig_{rule}, false)"
        # re-read audited table carries only the rules_fired array
        return f"array_contains(rules_fired, {sql_lit(rule)})"

    null_rules = [r for r in _NULL_FIELD_RULES if cfg.rule_enabled(r)]
    if null_rules:
        n_null = " + ".join(["0"] + [f"CAST({fired(r)} AS INT)"
                                     for r in null_rules])
        null_frac = f"(({n_null}) / {sql_lit(float(len(null_rules)))})"
    else:
        null_frac = sql_lit(0.0)
    w = f"(1.0D / ({null_frac} + 1.0D))"
    aggs = ["count(1) AS n_docs",
            "avg(CAST(keep AS DOUBLE)) AS keep_rate",
            "avg(score) AS avg_score",
            f"(sum((score * {w})) / sum({w})) AS weighted_score"]
    aggs.extend(f"sum(CAST({fired(r)} AS BIGINT)) AS n_{r}"
                for r, _ in rules)
    return aggs


def _aggregate(df: DataFrame, aggs: list, group: str | None,
               run_id: str) -> DataFrame:
    """``df`` aggregated by ONE SQL statement (optionally grouped by
    ``group``), then ``run_id``: a py4j call count that does not grow
    with the rule count, where ``df.agg`` pays a call per aggregate."""
    key = f"`{group}`, " if group else ""
    tail = f" GROUP BY `{group}`" if group else ""
    sql = f"SELECT {key}{', '.join(aggs)} FROM {{df}}{tail}"
    return sql_over(sql, df=df).withColumn("run_id", F.lit(run_id))


def metrics_table(df: DataFrame, run_id: str = "run0",
                  cfg=None) -> DataFrame:
    """Corpus-level metrics: per-rule fire counts + rates, keep rate, score
    moments + the reference-weighted dataset score.  One grouped
    aggregation (single shuffle over tiny key space)."""
    return _aggregate(df, _metric_aggs(df, cfg), None, run_id)


def metrics_by_partition(df: DataFrame, partition_col: str = "_chunk",
                         run_id: str = "run0", cfg=None) -> DataFrame:
    """Per-PARTITION metrics (north_rule: "per-partition lineage and
    metrics tables written alongside the ... output"): the same aggregates
    as metrics_table, grouped by the snapshot chunk key — one row per
    committed chunk, so a chunk's quality profile is inspectable without
    touching the others and global metrics are the exact column-wise merge
    (counts sum; rates re-derive from the sums)."""
    return _aggregate(df, _metric_aggs(df, cfg), partition_col, run_id)
