"""Structured Streaming path: availableNow drain over a file source,
checkpoint-based resume, watermarked windowed metrics."""

from pyspark.sql import functions as F

from qualityspark import synth
from qualityspark.streaming import (stream_pages, stream_audit,
                                    stream_metrics, run_available_now)


def test_stream_audit_matches_stateless_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    synth.pages_df(spark, 300, partitions=4).write.parquet(src)

    run_available_now(stream_audit(stream_pages(spark, src),
                                   dedup_urls=False), out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 300

    # scores and fired rules match the batch pipeline when dedup flags are
    # neutralized
    from qualityspark.rules.heuristics import signal_columns
    from qualityspark.rules.udfs import with_model_columns
    from qualityspark.scoring import with_scores
    batch = spark.read.parquet(src)
    b = with_model_columns(signal_columns(batch))
    b = (b.withColumn("sig_TEXT_EXACT_DUPLICATE", F.lit(False))
         .withColumn("sig_URL_DUPLICATE", F.lit(False)))
    b = with_scores(b)
    cols = ("url", "warc_ts", "score", "rules_fired")
    want = {(r["url"], str(r["warc_ts"])):
            (float(r["score"]), sorted(r["rules_fired"]))
            for r in b.select(*cols).collect()}
    for r in got.select(*cols).collect():
        assert want[(r["url"], str(r["warc_ts"]))] == (
            float(r["score"]), sorted(r["rules_fired"]))


def test_stream_checkpoint_resume(spark, tmp_path):
    """New files after the first drain are picked up by a restart with the
    same checkpoint; already-processed files are not re-emitted."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    synth.pages_df(spark, 100, partitions=2).write.mode("append").parquet(src)
    run_available_now(stream_audit(stream_pages(spark, src),
                                   dedup_urls=False), out, ckpt)
    n1 = spark.read.parquet(out).count()
    assert n1 == 100

    synth.pages_df(spark, 150, seed=43, partitions=2) \
         .write.mode("append").parquet(src)
    run_available_now(stream_audit(stream_pages(spark, src),
                                   dedup_urls=False), out, ckpt)
    assert spark.read.parquet(out).count() == 250


def test_stream_windowed_metrics(spark, tmp_path):
    """Append-mode windowed aggregates emit once the watermark passes the
    window end — standard late-data semantics: the first drain holds state,
    a later batch advances the watermark and flushes the finished windows."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    synth.pages_df(spark, 200, partitions=2).write.mode("append").parquet(src)
    mk = lambda: stream_metrics(stream_pages(spark, src),
                                window="10 minutes", watermark="5 minutes")
    run_available_now(mk(), out, ckpt)

    # watermark-advancing flush batch, far in the future
    flush = spark.createDataFrame(
        [("https://flush.example.org/x", "2031-01-01 00:00:00",
          bytearray(b"<html></html>"), "flush doc text", "en")],
        "url string, warc_ts string, html binary, text string, lang string"
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    flush.write.mode("append").parquet(src)
    run_available_now(mk(), out, ckpt)

    m = spark.read.parquet(out)
    total = m.agg(F.sum("n_docs")).first()[0]
    # every original row with a timestamp lands in a flushed window
    # (null-ts rows can't be window-assigned; flush row itself still pending)
    expected = sum(1 for r in synth.page_rows(200)
                   if r["warc_ts"] is not None)
    assert total == expected
    assert "n_TEXT_NULL_LIKE" in m.columns


def test_stream_metrics_match_textstats(spark):
    """stream_metrics' windowed word-count, whitespace, control-char and
    3-gram rule counts agree with the textstats definitions.  Run on a batch
    frame (withWatermark is a no-op there); null-ts rows get no window.
    The synthetic corpus has no document near the word-count threshold,
    so a few edge documents cover it and non-space token boundaries."""
    import datetime as dt
    from qualityspark import constants as C
    from qualityspark import textstats as T
    n = 600
    edge_texts = [
        " ".join(["w"] * (C.MIN_WORDS - 1)),
        "\n".join(f"w{i}" for i in range(C.MIN_WORDS)),
        "\t".join(["a", "b", "c"] * 20),
        # 60 distinct casings of one word: repeated only case-insensitively
        " ".join("".join(c.upper() if k >> b & 1 else c
                         for b, c in enumerate("abcdef"))
                 for k in range(60)),
        "\x0blead vertical tab", "ctrl\x01char", "trailing ws \x0c",
    ]
    edge = [{"url": f"https://edge.example.org/{i}",
             "warc_ts": dt.datetime(2023, 1, 1), "html": bytearray(b"<p>"),
             "text": t, "lang": "en"} for i, t in enumerate(edge_texts)]
    pages = synth.pages_df(spark, n, partitions=3).unionByName(
        spark.createDataFrame(edge, synth.PAGES_DDL))
    m = stream_metrics(pages, window="36500 days")
    got = m.agg(*[F.sum(c).alias(c) for c in m.columns
                  if c.startswith("n_")]).first().asDict()

    want = dict.fromkeys(got, 0)
    for r in list(synth.page_rows(n)) + edge:
        if r["warc_ts"] is None:
            continue
        t = r["text"]
        null = T.is_null_like(t)
        want["n_docs"] += 1
        want["n_TEXT_NULL_LIKE"] += null
        want["n_ENCODING_ANOMALY"] += T.has_control_chars(t)
        if not null:
            want["n_WORDS_TOO_FEW"] += T.word_count(t) < C.MIN_WORDS
            want["n_WHITESPACE_UNSTRIPPED"] += T.has_unstripped_whitespace(t)
            want["n_REPETITION_HIGH"] += (T.repetition_3gram(t)
                                          > C.MAX_REPETITION_3GRAM)
    assert got == want
    assert all(want[k] > 0 for k in want), want


def test_stream_stateful_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState keep-first flagging: duplicate texts arriving
    in LATER micro-batches are flagged with their prior-copy count, while
    first occurrences pass clean — exact cross-batch state, not
    watermark-window dropping."""
    import datetime as dt
    from qualityspark.streaming import stream_dedup_stateful

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def page(url, ts_s, text):
        return (url, dt.datetime(2024, 1, 1, 0, 0, ts_s),
                bytearray(b"<html></html>"), text, "en")

    schema = ("url string, warc_ts timestamp, html binary, "
              "text string, lang string")
    # batch 1: two distinct texts, one internal duplicate
    spark.createDataFrame(
        [page("https://a.org/1", 1, "alpha doc text"),
         page("https://a.org/2", 2, "beta doc text"),
         page("https://a.org/3", 3, "alpha doc text")],
        schema).write.mode("append").parquet(src)

    def mk():
        pages = (spark.readStream.schema(schema)
                 .option("maxFilesPerTrigger", "100").parquet(src))
        return stream_dedup_stateful(pages)

    run_available_now(mk(), out, ckpt)
    # batch 2 (separate drain = separate micro-batch): one recurrence of
    # alpha, one brand-new text
    spark.createDataFrame(
        [page("https://a.org/4", 10, "alpha doc text"),
         page("https://a.org/5", 11, "gamma doc text")],
        schema).write.mode("append").parquet(src)
    run_available_now(mk(), out, ckpt)

    rows = {r["url"]: r for r in spark.read.parquet(out).collect()}
    assert len(rows) == 5
    assert rows["https://a.org/1"]["is_dup"] is False
    assert rows["https://a.org/2"]["is_dup"] is False
    # in-batch duplicate: flagged with one prior copy
    assert rows["https://a.org/3"]["is_dup"] is True
    assert rows["https://a.org/3"]["n_prior"] == 1
    # CROSS-batch duplicate: state survived the first drain
    assert rows["https://a.org/4"]["is_dup"] is True
    assert rows["https://a.org/4"]["n_prior"] == 2
    assert rows["https://a.org/5"]["is_dup"] is False


def test_stream_audit_honors_config(spark, tmp_path):
    """The streaming path takes the same RunConfig as batch: a disabled
    rule stops firing and a threshold change moves scores (stateless
    expressions, so reconfiguration is identical by construction)."""
    from qualityspark.config import RunConfig
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    synth.pages_df(spark, 200, partitions=2).write.parquet(src)

    cfg = RunConfig.from_dict({"disabled_rules": ["WORDS_TOO_FEW"],
                               "thresholds": {"MAX_CAPS_RATIO": 0.0001}})
    run_available_now(stream_audit(stream_pages(spark, src),
                                   dedup_urls=False, cfg=cfg), out, ckpt)
    got = spark.read.parquet(out)
    assert got.count() == 200
    from pyspark.sql import functions as FF
    n_words_few = got.filter(
        FF.array_contains("rules_fired", "WORDS_TOO_FEW")).count()
    assert n_words_few == 0
    n_caps = got.filter(
        FF.array_contains("rules_fired", "CAPS_RATIO_HIGH")).count()
    assert n_caps > 0        # near-zero caps threshold fires broadly


def test_one_arrow_pass(spark, arrow_nodes):
    """stream_metrics and pipeline.audit each cross the Python boundary
    in exactly one Arrow pass."""
    from qualityspark.caching import release_caches
    from qualityspark.pipeline import audit
    pages = synth.pages_df(spark, 20, partitions=1)
    assert arrow_nodes(stream_metrics(pages)) == 1
    audited = audit(pages)
    try:
        assert arrow_nodes(audited) == 1
    finally:
        release_caches()
