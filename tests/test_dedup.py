"""Keep-first dedup semantics (pandas duplicated(keep='first') analog,
reference checks/universal_checks.py:67 / checks/id_checks.py:9-38) with the
explicit (warc_ts, url) total order."""

import datetime as dt

from qualityspark.rules.dedup import with_dedup_flags


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string")


def test_text_dup_keep_first(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        ("https://a.example.org/1", t0, "same text body"),
        ("https://a.example.org/2", t0 + dt.timedelta(1), "same text body"),
        ("https://a.example.org/3", t0 + dt.timedelta(2), "same text body"),
        ("https://a.example.org/4", t0 + dt.timedelta(3), "unique body"),
    ]
    res = {r["url"]: r["sig_TEXT_EXACT_DUPLICATE"]
           for r in with_dedup_flags(_df(spark, rows)).collect()}
    assert res == {"https://a.example.org/1": False,
                   "https://a.example.org/2": True,
                   "https://a.example.org/3": True,
                   "https://a.example.org/4": False}


def test_null_like_text_never_dup(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [("https://a.example.org/1", t0, "null"),
            ("https://a.example.org/2", t0 + dt.timedelta(1), "null"),
            ("https://a.example.org/3", t0 + dt.timedelta(2), None)]
    res = with_dedup_flags(_df(spark, rows)).collect()
    assert all(not r["sig_TEXT_EXACT_DUPLICATE"] for r in res)


def test_tied_rows_no_fanout(spark):
    """Rows fully tied on (key, warc_ts, url) must not multiply output rows
    through the flag join-back (3 identical rows + 1 unique -> 4 rows out);
    all tied copies carry the duplicate flag (documented tie semantics)."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [("https://a.example.org/t", t0, "tied body")] * 3 + [
        ("https://a.example.org/u", t0 + dt.timedelta(1), "unique body")]
    out = with_dedup_flags(_df(spark, rows)).collect()
    assert len(out) == 4
    flags = sorted(r["sig_TEXT_EXACT_DUPLICATE"] for r in out)
    assert flags == [False, True, True, True]
    uflags = sorted(r["sig_URL_DUPLICATE"] for r in out)
    assert uflags == [False, True, True, True]


def test_tied_rows_ingest_id_keeps_one(spark):
    """With an ingest_id tiebreaker, byte-identical (text, url, warc_ts)
    recrawl copies keep EXACTLY one row — matching pandas
    duplicated(keep='first') — and the survivor is the min-ingest_id copy.
    Auto-detection: the column's presence is enough."""
    t0 = dt.datetime(2024, 1, 1)
    rows = ([("https://a.example.org/t", t0, "tied body", f"ing-{i}")
             for i in range(3)]
            + [("https://a.example.org/u", t0 + dt.timedelta(1),
                "unique body", "ing-9")])
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string, "
              "ingest_id string")
    out = with_dedup_flags(df).collect()
    assert len(out) == 4
    by_ing = {r["ingest_id"]: r for r in out}
    assert not by_ing["ing-0"]["sig_TEXT_EXACT_DUPLICATE"]   # min survives
    assert not by_ing["ing-0"]["sig_URL_DUPLICATE"]
    for i in (1, 2):
        assert by_ing[f"ing-{i}"]["sig_TEXT_EXACT_DUPLICATE"]
        assert by_ing[f"ing-{i}"]["sig_URL_DUPLICATE"]
    assert not by_ing["ing-9"]["sig_TEXT_EXACT_DUPLICATE"]

    # oracle agrees end-to-end (keep-one for tied copies)
    from qualityspark import oracle
    orc = oracle.audit_rows([
        {"url": u, "warc_ts": ts, "text": tx, "ingest_id": ing,
         "html": b"<html></html>", "lang": "en"}
        for u, ts, tx, ing in rows])
    n_dup = sum("TEXT_EXACT_DUPLICATE" in o["rules"] for o in orc)
    assert n_dup == 2


def test_pipeline_audit_uses_ingest_tiebreaker(spark):
    """pipeline.audit auto-detects ingest_id and the full Spark pipeline
    matches the oracle on tied recrawl copies (the one semantic deviation
    documented in r2/r3 is closed when the ingest column exists)."""
    from qualityspark.pipeline import audit
    from qualityspark import oracle, synth
    rows = list(synth.page_rows(60))
    # duplicate a handful of rows byte-identically (true recrawl copies)
    copies = [dict(rows[i]) for i in (3, 7, 11)]
    rows = rows + copies
    for i, r in enumerate(rows):
        r["ingest_id"] = f"i{i:04d}"
    pages = spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"],
          r["ingest_id"]) for r in rows],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string, ingest_id string")
    res = audit(pages).select("ingest_id", "rules_fired", "keep").collect()
    got = {r["ingest_id"]: (sorted(r["rules_fired"]), bool(r["keep"]))
           for r in res}
    orc = oracle.audit_rows(rows)
    assert len(got) == len(rows)
    for r, o in zip(rows, orc):
        assert got[r["ingest_id"]] == (sorted(o["rules"]), o["keep"]), \
            r["ingest_id"]


def test_url_dup_null_ts_last(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [("https://a.example.org/1", None, "x1"),
            ("https://a.example.org/1", t0, "x2")]
    res = {r["text"]: r["sig_URL_DUPLICATE"]
           for r in with_dedup_flags(_df(spark, rows)).collect()}
    # the row WITH a timestamp is first (nulls last), so it survives
    assert res == {"x2": False, "x1": True}
