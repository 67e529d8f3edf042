"""Component tests: schema contract, drift compare, near-dup recall,
multimodal plumbing, heuristic SQL-free units."""

import datetime as dt

from pyspark.sql import functions as F

from qualityspark.schema_contract import validate_schema
from qualityspark.drift import compare_metrics
from qualityspark.rules import neardup as ND
from qualityspark.rules import multimodal as MM


# ---- schema contract (reference core/schema_validator.py analog) ----

def test_schema_contract(spark):
    df = spark.createDataFrame(
        [("https://a.org/1", 50.0, "en"),
         ("not a url", 150.0, "xx"),
         (None, -1.0, "en"),
         ("https://a.org/1", 70.0, "es")],
        "url string, score double, lang string")
    contract = {"columns": {
        "url": {"type": "string", "required": True, "not_null": True,
                "pattern": "^https?://", "unique": True},
        "score": {"type": "double", "min": 0, "max": 100},
        "lang": {"allowed_values": ["en", "es"]},
        "missing_col": {"required": True},
    }}
    res = {(r["check_id"], r["column"]): r for r in
           validate_schema(df, contract)}
    assert res[("SCHEMA_MISSING_COLUMN", "missing_col")]["passed"] is False
    assert res[("SCHEMA_NOT_NULL", "url")]["affected_count"] == 1
    assert res[("SCHEMA_PATTERN_VIOLATION", "url")]["affected_count"] == 1
    assert res[("SCHEMA_ALLOWED_VALUES", "lang")]["affected_count"] == 1
    assert res[("SCHEMA_UNIQUE_VIOLATION", "url")]["affected_count"] == 1
    range_viol = [r for r in validate_schema(df, contract)
                  if r["check_id"] == "SCHEMA_RANGE_VIOLATION"
                  and r["affected_count"] > 0]
    assert len(range_viol) == 2  # one below min, one above max


def test_composite_key(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "k1 int, k2 string")
    res = validate_schema(df, {"columns": {},
                               "composite_keys": [["k1", "k2"]]})
    assert res[0]["check_id"] == "COMPOSITE_KEY_VIOLATION"
    assert res[0]["affected_count"] == 1


# ---- drift compare (reference core/drift_detector.py analog) ----

def test_drift_compare():
    prev = {"n_docs": 1000, "keep_rate": 0.9, "avg_score": 95.0,
            "n_TEXT_NULL_LIKE": 10, "n_WORDS_TOO_FEW": 20}
    cur = {"n_docs": 1000, "keep_rate": 0.7, "avg_score": 80.0,
           "n_TEXT_NULL_LIKE": 150, "n_WORDS_TOO_FEW": 25}
    out = compare_metrics(prev, cur)
    assert out["trend"] == "DEGRADING"
    assert out["summary_severity"] == "HIGH"
    rules = {d["rule"]: d for d in out["drifts"]}
    assert rules["TEXT_NULL_LIKE"]["severity"] == "HIGH"
    assert "WORDS_TOO_FEW" not in rules  # 0.5pt delta below ladder


def test_drift_stable():
    m = {"n_docs": 100, "keep_rate": 0.9, "avg_score": 95.0}
    out = compare_metrics(m, dict(m))
    assert out["trend"] == "STABLE" and out["drifts"] == []


# ---- near-dup: LSH recall vs brute force on crafted docs ----

def _doc(words):
    return " ".join(words)


def test_lsh_finds_all_near_dups(spark):
    base = [f"w{i}" for i in range(100)]
    rows = []
    # 5 clusters of 3 near-identical docs (J >= 0.8) + 10 unrelated docs
    for c in range(5):
        words = [f"c{c}_{w}" for w in base]
        rows.append((c * 10 + 0, _doc(words)))
        rows.append((c * 10 + 1, _doc(words[:95] + ["zz1", "zz2", "zz3",
                                                    "zz4", "zz5"])))
        rows.append((c * 10 + 2, _doc(words)))
    for u in range(10):
        rows.append((1000 + u, _doc([f"u{u}_{i}" for i in range(100)])))
    # exact copies under 3 tokens have no shingles: no intra pairs
    rows += [(2000 + i, "too short") for i in range(3)]
    rows.append((3000, None))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ND.verified_near_dups(df, threshold=0.8).collect()}
    want = set()
    for c in range(5):
        want |= {(c * 10 + 0, c * 10 + 1), (c * 10 + 0, c * 10 + 2),
                 (c * 10 + 1, c * 10 + 2)}
    assert set(got) == want  # perfect recall at these parameters, no spurious

    def grams(text):
        t = text.split()
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}
    text = dict(rows)
    for (a, b), j in got.items():
        ga, gb = grams(text[a]), grams(text[b])
        assert j == round(len(ga & gb) / len(ga | gb), 4), (a, b, j)


def test_simhash_near_identical_collide(spark):
    words = [f"tok{i}" for i in range(200)]
    df = spark.createDataFrame(
        [(0, _doc(words)), (1, _doc(words)),            # identical
         (2, _doc([f"o{i}" for i in range(200)]))],     # unrelated
        "doc_id long, text string")
    s = {r["doc_id"]: r["sh"] for r in
         ND.simhash_doc(df, "doc_id", "text").collect()}
    assert s[0] == s[1]
    assert s[0] != s[2]


def test_lsh_ann_recall_vs_bruteforce(spark):
    """Real recall assertion: LSH top-3 overlap vs brute-force top-3 on the
    same vectors.  Clustered corpus (20 centers x 10 jittered members) so
    true neighbors are nearby and single-probe LSH at 4 planes must find a
    stated fraction of them; fails if the bucketing returns garbage."""
    import random
    rng = random.Random(7)
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(20)]
    rows = []
    for i in range(200):
        c = centers[i % 20]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    lsh = {}
    for r in ND.lsh_ann_topk(df, n_planes=4, k=3, dim=64).collect():
        lsh.setdefault(r["qid"], set()).add(r["neighbor_id"])

    # brute-force top-3 by cosine (numpy, the exact oracle)
    import numpy as np
    ids = [r[0] for r in rows]
    m = np.array([r[1] for r in rows])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = m @ m.T
    np.fill_diagonal(cos, -2.0)
    brute = {}
    for idx, qid in enumerate(ids):
        top = np.argsort(-cos[idx])[:3]
        brute[qid] = {ids[t] for t in top}

    overlaps = [len(lsh.get(q, set()) & brute[q]) / 3.0 for q in brute]
    recall = sum(overlaps) / len(overlaps)
    # Hamming-1 multi-probe recovers clusters straddling one hyperplane
    # (the dominant miss mode); only >=2-plane straddles can still miss
    assert recall >= 0.9, f"LSH top-3 recall {recall:.2f} < 0.9"


def test_scalestats_no_single_partition_sort(spark):
    """The split-half / rank family must not plan a SinglePartition window
    (SURVEY.md §7.4 item 2).  Asserts on the optimized physical plan of the
    scale-safe helpers AND of representative refactored queries."""
    from qualityspark.rules import scalestats as S
    e = spark.range(0, 1000).select(
        F.col("id").alias("event_id"),
        (F.lit("2024-01-01").cast("timestamp")
         + F.make_interval(secs=F.col("id").cast("double"))).alias("ts"),
        F.rand(42).alias("value"))
    halves = S.with_halves(e, F.col("ts"), [F.col("event_id")])
    plan = halves._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    ranks = S.with_value_ranks(e, F.col("value"), rank_col="rk",
                               avg_rank_col="ar")
    plan = ranks._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    lagged = S.with_global_lag(e, F.col("ts"), [F.col("event_id")],
                               lag_cols=["value"])
    plan = lagged._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


# ---- multimodal plumbing ----

def test_multimodal_extract(spark):
    rows = [(0, bytearray(b"\x89PNG\r\n" + b"\x00" * 100)),
            (1, bytearray(b"<html><body>hi</body></html>")),
            (2, None)]
    df = spark.createDataFrame(rows, "id long, payload binary")
    got = {r["id"]: r for r in MM.extract_features(df).collect()}
    assert got[0]["format_guess"] == "png"
    assert got[0]["nul_frac"] > 0.9
    assert got[1]["format_guess"] == "html"
    assert got[2]["n_bytes"] == 0
    assert len(got[0]["features"]) == MM.FEATURE_DIM
    # deterministic features
    again = {r["id"]: r for r in MM.extract_features(df).collect()}
    assert got[0]["features"] == again[0]["features"]


def test_seasonality_stl_decomposition(spark, tmp_path):
    """Pin the classical-decomposition seasonal strength (queries.py
    seasonality_stl) against an independent numpy mirror on a crafted
    hourly series with a strong daily pattern (reference
    checks/timeseries_checks.py:115-175 statistic)."""
    import math
    import numpy as np
    from qualityspark.queries import QUERIES

    n = 24 * 14  # two weeks hourly
    base = dt.datetime(2024, 3, 1)
    rng = np.random.default_rng(11)
    xs = [10.0 + 5.0 * math.sin(2 * math.pi * (i % 24) / 24)
          + float(rng.normal(0, 0.3)) + 0.01 * i for i in range(n)]
    rows = [(i, base + dt.timedelta(hours=i), float(xs[i]), "a")
            for i in range(n)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, value double, event_type string")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    row = QUERIES["seasonality_stl"](spark, str(tmp_path)).head()
    assert row["detected_period"] == 24
    assert row["n_obs"] == n

    # numpy mirror: centered MA trend (even period), seasonal means,
    # strength = 1 - var(resid)/var(detrended)
    s = np.array(xs)
    ma_a = np.array([s[i - 12:i + 12].mean() for i in range(12, n - 12)])
    ma_b = np.array([s[i - 11:i + 13].mean() for i in range(12, n - 12)])
    trend = (ma_a + ma_b) / 2
    idx = np.arange(12, n - 12)
    det = s[idx] - trend
    k = idx % 24
    mk = np.array([det[k == j].mean() for j in range(24)])
    seas = (mk - mk.mean())[k]
    strength = 1 - (det - seas).var() / det.var()
    assert abs(row["seasonal_strength"] - round(strength, 4)) <= 1e-4
    assert row["seasonal_strength"] > 0.6  # the reference's INFO threshold


def test_ivf_ann_recall_vs_bruteforce(spark):
    """IVF recall vs brute-force top-3 on the clustered corpus: nprobe=2
    must recover neighbors whose cluster straddles a cell boundary."""
    import random
    rng = random.Random(7)
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(20)]
    rows = []
    for i in range(200):
        c = centers[i % 20]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    ivf = {}
    for r in ND.ivf_topk(df, n_cells=16, nprobe=2, k=3).collect():
        ivf.setdefault(r["qid"], set()).add(r["neighbor_id"])

    import numpy as np
    ids = [r[0] for r in rows]
    m = np.array([r[1] for r in rows])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = m @ m.T
    np.fill_diagonal(cos, -2.0)
    brute = {}
    for idx, qid in enumerate(ids):
        top = np.argsort(-cos[idx])[:3]
        brute[qid] = {ids[t] for t in top}

    overlaps = [len(ivf.get(q, set()) & brute[q]) / 3.0 for q in brute]
    recall = sum(overlaps) / len(overlaps)
    # 16 seed cells over 20 true clusters: same-cluster members nearly
    # always share the best cell; nprobe=2 covers the split clusters
    assert recall >= 0.9, f"IVF top-3 recall {recall:.2f} < 0.9"


def test_scan_pruning_and_pushdown(spark):
    """Pin the README's scan claims on real plans: (a) a lang-filtered
    aggregate pushes the filter into the parquet scan and prunes to the
    referenced columns; (b) the pipeline's dedup narrow branch scans only
    the 3 key columns plus never html."""
    sf = "/root/testdata/sf0.001"
    d = spark.read.parquet(f"{sf}/documents.parquet")
    q = (d.filter(F.col("lang") == "en")
         .groupBy("source").count())
    plan = q._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "FileScan" in l][0]
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in scan
    assert "ReadSchema" in scan and "text" not in scan.split("ReadSchema")[1]

    from qualityspark.queries import documents_as_pages
    from qualityspark.rules.dedup import with_dedup_flags, text_sha_expr
    pages = documents_as_pages(spark, sf)
    narrow = pages.select(text_sha_expr().alias("text_sha"),
                          "url", "warc_ts")
    flagged = with_dedup_flags(pages.withColumn("text_sha",
                                                text_sha_expr()),
                               narrow=narrow)
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    # every parquet scan in the dedup subtree must exclude the wide html
    # payload from its ReadSchema unless it is the main branch (which needs
    # html for signals) — here no signals are computed, so NO scan reads it
    for line in plan.splitlines():
        if "FileScan" in line and "ReadSchema" in line:
            assert "html" not in line.split("ReadSchema")[1], line


def test_ann_cogroup_plan_shape(spark):
    """The ANN candidate stages are bucket-cogrouped Arrow passes, not
    per-pair joins: the executed plan carries FlatMapCoGroupsInPandas and
    NO cartesian/nested-loop join, and no aggregate(zip_with) interpreted
    dot survives anywhere in the plan tree (r3 VERDICT item 1 'done'
    criterion pinned on the real plan)."""
    from pyspark.sql import functions as F
    from qualityspark.rules.neardup import lsh_ann_topk, ivf_topk

    emb = (spark.range(200)
           .select(F.col("id").alias("vec_id"),
                   F.array(*[F.sin(F.col("id") * (i + 1) * 0.7)
                             for i in range(16)]).alias("embedding")))
    for fn, kwargs in ((lsh_ann_topk, {"n_planes": 4, "dim": 16}),
                       (ivf_topk, {"n_cells": 4})):
        df = fn(emb, **kwargs)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapCoGroupsInPandas" in plan, fn.__name__
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert "aggregate(zip_with" not in plan.lower().replace(" ", ""), \
            fn.__name__
