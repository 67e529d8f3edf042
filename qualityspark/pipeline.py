"""End-to-end audit pipeline (reference query lifecycle, SURVEY.md §3.1,
re-staged for Spark's execution model):

  stage 1 (no shuffle)  : whole-string JVM signals (rules/heuristics.py)
                          + ONE Arrow model pass carrying the model-bound
                          and token/line signals (rules/udfs.py)
  stage 2 (1-2 shuffles): keep-first dedup windows (rules/dedup.py)
  stage 3 (no shuffle)  : scoring / grade / keep / rules_fired (scoring.py)

The sinks (audited table, lineage, metrics) are written by
``io.run_resumable``, the CLI ``run`` path.

Catalyst handles predicate pushdown/column pruning on the scan; AQE
coalesces post-shuffle partitions and splits skewed ones (hot-domain /
hot-text-hash skew).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from qualityspark import constants as C
from qualityspark.rules.heuristics import signal_columns
from qualityspark.rules.udfs import with_model_columns
from qualityspark.rules.dedup import with_dedup_flags, text_sha_expr
from qualityspark.caching import tracked_cache
from qualityspark.scoring import with_scores, with_business_rules

RESULT_COLUMNS = ["url", "warc_ts", "lang", "lang_pred", "lang_prob",
                  "perplexity", "score", "grade", "keep", "rules_fired",
                  "scrubbed_text", "text_sha", "_n_words"]


def audit(pages: DataFrame, as_of: str = C.AS_OF_TS, cfg=None) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> audited DataFrame with
    signals, scores, keep flag, scrubbed text.

    html and raw text are dropped as soon as the signal/model stage has
    consumed them (text survives as sha + scrubbed form), so the dedup joins
    and any downstream shuffle move narrow rows only.

    The dedup-key projection is taken from the RAW scan (not from the
    signal+model frame): its cache materialization then costs a scan + sha2
    instead of re-running the Arrow model pass — the model UDF executes
    exactly once per document per run.

    ``cfg`` (qualityspark.config.RunConfig / ``--config`` on the CLI)
    retunes thresholds, disables rules, overrides severities and adds
    business-rule assertions; None = engine defaults.

    An ``ingest_id`` column, when the input carries one, becomes the
    keep-first tiebreaker so byte-identical recrawl copies keep exactly
    one row (rules/dedup.py tie caveat)."""
    tb = "ingest_id" if "ingest_id" in pages.columns else None
    narrow_cols = [text_sha_expr().alias("text_sha"), "url", "warc_ts"]
    if tb:
        narrow_cols.append(F.col(tb))
    narrow = tracked_cache(pages.select(*narrow_cols))
    df = signal_columns(pages, as_of=as_of)
    df = with_model_columns(df, cfg=cfg)
    df = df.withColumn("text_sha", text_sha_expr())
    df = df.drop("html", "text")
    df = with_dedup_flags(df, narrow=narrow, tiebreaker=tb)
    df = with_business_rules(df, cfg=cfg)
    df = with_scores(df, cfg=cfg)
    return df

