"""Structured Streaming variant of the quality pipeline.

The reference is strictly batch (SURVEY.md §2.6 note), but every windowed
aggregation in this engine uses the ``F.window``/``date_trunc`` shapes that
are identical in streaming, so the streaming path is thin:

* per-document signals + scoring are stateless — the same expressions run
  unchanged on a streaming DataFrame;
* url dedup becomes ``dropDuplicatesWithinWatermark`` (state-bounded
  keep-first within the lateness horizon — the streaming analog of the
  batch keep-first window; exact global keep-first requires unbounded
  state, which is what the batch path is for);
* corpus metrics become watermarked tumbling-window aggregates.

Tested with file sources + ``trigger(availableNow=True)`` which drains the
input and stops — the documented pattern for incremental batch over a
growing directory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from qualityspark.rules.dedup import text_sha_expr
from qualityspark.rules.heuristics import is_null_like, signal_columns
from qualityspark.rules.udfs import with_model_columns
from qualityspark.scoring import with_scores

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string")


def stream_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    return (spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", 16)
            .parquet(input_dir))


def stream_audit(pages: DataFrame, watermark: str = "1 hour",
                 dedup_urls: bool = True, cfg=None) -> DataFrame:
    """Stateless signals + model pass + scoring on a stream (the same
    signal calls as pipeline.audit); optional state-bounded url dedup
    within the watermark.  ``cfg``: the same RunConfig the batch path
    takes (thresholds / disabled rules / overrides / business rules) —
    stateless expressions, so the streaming reconfiguration is
    identical."""
    from qualityspark.scoring import with_business_rules
    df = signal_columns(pages)
    df = with_model_columns(df, cfg=cfg)
    df = with_business_rules(df, cfg=cfg)
    # streaming has no global keep-first; dup flags default false and exact
    # dedup is the batch path's job (documented semantic difference)
    df = (df.withColumn("sig_TEXT_EXACT_DUPLICATE", F.lit(False))
          .withColumn("sig_URL_DUPLICATE", F.lit(False))
          .withColumn("text_sha",
                      F.when(~F.col("sig_TEXT_NULL_LIKE"),
                             F.sha2(F.col("text"), 256)))
          # raw-text surrogate for the dedup key below: text_sha is NULL for
          # null-LIKE texts ('N/A', '', ...), which are distinct raw strings
          # — hash the raw bytes so only byte-identical rows share a key
          # (SQL NULL text gets a marker no real sha collides with)
          .withColumn("_raw_sha",
                      F.when(F.col("text").isNull(), F.lit("~nulltext~"))
                      .otherwise(F.sha2(F.col("text"), 256)))
          .drop("html", "text"))
    df = with_scores(df, cfg=cfg)
    if dedup_urls:
        # dropDuplicates treats NULL keys as equal, so deduping on the raw
        # url would silently collapse ALL null-url pages in the watermark to
        # one row (the batch path flags URL_NULL but still emits them).
        # Dedup on a never-colliding surrogate instead: real urls dedup as
        # urls; null-url pages key on (raw-text sha + timestamp) — the RAW
        # sha, not text_sha, which is NULL for every null-like text and
        # would collapse distinct 'N/A'-vs-'' rows sharing a warc_ts — so
        # only byte-identical null-url rows collapse.
        key = F.when(
            is_null_like(F.col("url")),
            F.concat_ws("|", F.lit("~nullurl~"), F.col("_raw_sha"),
                        F.coalesce(F.col("warc_ts").cast("string"),
                                   F.lit("")))
        ).otherwise(F.col("url"))
        df = (df.withColumn("_dedup_key", key)
              .withWatermark("warc_ts", watermark)
              .dropDuplicatesWithinWatermark(["_dedup_key"])
              .drop("_dedup_key"))
    return df.drop("_raw_sha")


DEDUP_STATE_SCHEMA = "n_seen long"
DEDUP_OUT_SCHEMA = ("url string, warc_ts timestamp, text_sha string, "
                    "is_dup boolean, n_prior long")


def _dedup_state_fn(key, pdf_iter, state):
    """Per-text_sha keep-first flagging with explicit GroupState: the first
    row ever seen for a key (across micro-batches) passes with
    is_dup=false; every later row carries is_dup=true plus how many
    copies preceded it.  State is one counter — O(1) per key.

    The Arrow chunks of one key group within a micro-batch are
    CONCATENATED before the warc_ts sort, so within-batch keep-first order
    is the true min-warc_ts row even when the runtime splits a large group
    across chunks (a key group here is the copy-set of one text_sha, so
    the concat is bounded by the duplicate multiplicity, not the corpus)."""
    import numpy as np
    import pandas as pd
    (n_seen,) = state.get if state.exists else (0,)
    chunks = list(pdf_iter)
    pdf = (chunks[0] if len(chunks) == 1
           else pd.concat(chunks, ignore_index=True))
    pdf = pdf.sort_values("warc_ts", kind="stable", ignore_index=True)
    priors = n_seen + np.arange(len(pdf), dtype="int64")
    state.update((n_seen + len(pdf),))
    yield pd.DataFrame({
        "url": pdf["url"], "warc_ts": pdf["warc_ts"],
        "text_sha": pdf["text_sha"], "is_dup": priors > 0,
        "n_prior": priors})


def stream_dedup_stateful(pages: DataFrame,
                          watermark: str = "1 hour") -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): exact
    keep-first duplicate FLAGGING across micro-batches, keyed by the batch
    dedup key ``dedup.text_sha_expr``.  Rows with null-like text have no
    key and are filtered out before the state operator.  Unlike
    ``dropDuplicatesWithinWatermark`` (which silently drops later copies),
    this emits every keyed row with its duplicate lineage (is_dup,
    n_prior) — the streaming analog of the batch pipeline's
    sig_TEXT_EXACT_DUPLICATE flag.  State per key is one counter
    (``DEDUP_STATE_SCHEMA``).
    NoTimeout keeps exact global keep-first semantics (matching the batch
    path); a production continuous trigger bounding state would add
    ProcessingTimeTimeout + setTimeoutDuration — NOT combinable with
    availableNow drains, where a pending processing-time timeout keeps
    scheduling timeout-evaluation micro-batches and the trigger never
    terminates (observed; that is why this uses NoTimeout)."""
    keyed = (pages
             .withColumn("text_sha", text_sha_expr())
             .filter(F.col("text_sha").isNotNull())
             .withWatermark("warc_ts", watermark)
             .select("url", "warc_ts", "text_sha"))
    return (keyed.groupBy("text_sha")
            .applyInPandasWithState(_dedup_state_fn,
                                    DEDUP_OUT_SCHEMA,
                                    DEDUP_STATE_SCHEMA,
                                    "append",
                                    "NoTimeout"))


def stream_metrics(pages: DataFrame, window: str = "1 hour",
                   watermark: str = "2 hours") -> DataFrame:
    """Watermarked windowed quality metrics (late data folded in until the
    watermark passes).  The signals are ``stream_audit``'s two calls, so
    the token-derived rules come from the one Arrow pass."""
    df = with_model_columns(signal_columns(pages))
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for rule in ("TEXT_NULL_LIKE", "WORDS_TOO_FEW", "ENCODING_ANOMALY",
                 "WHITESPACE_UNSTRIPPED", "REPETITION_HIGH"):
        aggs.append(F.sum(F.col(f"sig_{rule}").cast("long"))
                    .alias(f"n_{rule}"))
    return (df.withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"))
            .agg(*aggs)
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"), "*")
            .drop("w"))


def run_available_now(stream_df: DataFrame, out_dir: str,
                      checkpoint_dir: str, output_mode: str = "append"):
    """Drain whatever is in the source now, commit via checkpoint, stop.
    Restarting with the same checkpoint resumes exactly after the last
    committed micro-batch (Structured Streaming's own resumability; the
    batch pipeline has the manifest layer in qualityspark.io)."""
    q = (stream_df.writeStream
         .format("parquet")
         .option("path", out_dir)
         .option("checkpointLocation", checkpoint_dir)
         .outputMode(output_mode)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    return q
