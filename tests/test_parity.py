"""The correctness gate: the Spark pipeline must reproduce the pure-Python
oracle exactly — keep/drop decision (F1 target >= 0.99; we assert equality),
fired rules, score, grade, and byte-identical scrubbed text per url
(BASELINE.json metric + input_hint)."""

import pytest

from qualityspark.pipeline import audit


def test_full_parity(spark, pages_small, oracle_small):
    rows, orc = oracle_small
    res = audit(pages_small).select(
        "url", "warc_ts", "score", "grade", "keep", "rules_fired",
        "scrubbed_text").collect()
    assert len(res) == len(rows)

    by_key = {}
    for r in res:
        by_key.setdefault((r["url"], r["warc_ts"]), []).append(r)

    keep_tp = keep_fp = keep_fn = 0
    for row, o in zip(rows, orc):
        key = (row["url"], row["warc_ts"])
        cand = by_key[key]
        assert len(cand) == 1, f"ambiguous key {key}"
        r = cand[0]
        assert sorted(r["rules_fired"]) == sorted(o["rules"]), (
            key, sorted(r["rules_fired"]), sorted(o["rules"]))
        assert float(r["score"]) == o["score"], key
        assert r["grade"] == o["grade"], key
        assert bool(r["keep"]) == o["keep"], key
        # byte-identity of the scrub
        assert r["scrubbed_text"] == o["scrubbed_text"], key
        if o["keep"] and r["keep"]:
            keep_tp += 1
        elif r["keep"] and not o["keep"]:
            keep_fp += 1
        elif o["keep"] and not r["keep"]:
            keep_fn += 1

    f1 = 2 * keep_tp / (2 * keep_tp + keep_fp + keep_fn)
    assert f1 >= 0.99
    assert keep_fp == 0 and keep_fn == 0  # we hold ourselves to exact


def test_partitioning_invariance(spark):
    """Result is independent of input partitioning (synth is a pure
    function of the row index; dedup order is explicit)."""
    from qualityspark import synth
    a = audit(synth.pages_df(spark, 300, partitions=2)).select(
        "url", "warc_ts", "score", "keep").collect()
    b = audit(synth.pages_df(spark, 300, partitions=7)).select(
        "url", "warc_ts", "score", "keep").collect()
    ka = sorted((r["url"] or "", str(r["warc_ts"]), r["score"], r["keep"])
                for r in a)
    kb = sorted((r["url"] or "", str(r["warc_ts"]), r["score"], r["keep"])
                for r in b)
    assert ka == kb


def test_one_column_per_signal(spark):
    """Each doc rule has exactly one implementing column: the whole-string
    JVM signals, the Arrow-pass signals and the dedup flags are disjoint
    and together cover resolve(None).doc_rules().  Schemas only — no
    Spark action runs."""
    from pyspark.sql import functions as F
    from qualityspark import synth
    from qualityspark.config import resolve
    from qualityspark.rules.dedup import with_dedup_flags
    from qualityspark.rules.heuristics import signal_columns
    from qualityspark.rules.udfs import with_model_columns

    pages = synth.pages_df(spark, 10, partitions=1)

    def added(before, after):
        return {c[4:] for c in set(after.columns) - set(before.columns)
                if c.startswith("sig_")}

    jvm = added(pages, signal_columns(pages))
    # with_model_columns reads sig_TEXT_NULL_LIKE: give it only that one
    base = pages.withColumn("sig_TEXT_NULL_LIKE", F.lit(False))
    model = added(base, with_model_columns(base))
    dedup = added(pages, with_dedup_flags(pages))
    assert not jvm & model and not jvm & dedup and not model & dedup
    rules = {r for r, _ in resolve(None).doc_rules()}
    assert jvm | model | dedup == rules

    with pytest.raises(ValueError):
        signal_columns(pages, model_signals=False)
    with pytest.raises(ValueError):
        with_model_columns(base, signals_from_model=False)
