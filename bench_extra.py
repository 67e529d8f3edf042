"""Extra measurement harness for the r07 optimization round (guide §1.4):
noop-sink isolation of the headline queries plus a stage-level breakdown of
minhash_near_dups (the pipeline_audit layers are in perfbench's traced
webtext_run ladder).

NOT the driver bench — bench.py stays frozen; this file exists so
OPTIMIZATION_r07.md can cite per-stage numbers.

Usage:
  python bench_extra.py queries [names...]   # noop-isolated per-query times
  python bench_extra.py minhash              # minhash stage breakdown
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, QS_REPEAT (default 3, reports
     min)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPEAT = int(os.environ.get("QS_REPEAT", "3"))

HEADLINE = [
    "quality_filter_decisions", "exact_dup_stats", "token_stats_by_lang",
    "minhash_near_dups", "ann_bruteforce_topk", "pricing_summary",
    "events_hourly", "benford_totalprice", "chi2_independence",
    "ks_histogram_halves",
]


def _spark():
    from qualityspark.session import get_spark
    spark = get_spark(app="qualityspark-bench-extra",
                      master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1024 * 1024))
    spark.conf.set("spark.sql.files.minPartitionNum", str(CPUS * 2))
    return spark


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _time(spark, label, fn, repeat=REPEAT):
    """min-of-N timing with job description labels; first run warms codegen."""
    from qualityspark.caching import release_caches
    samples = []
    for k in range(repeat):
        spark.sparkContext.setJobDescription(f"{label} [{k}]")
        t0 = time.time()
        fn()
        samples.append(round(time.time() - t0, 3))
        release_caches()
    spark.sparkContext.setJobDescription(None)
    return {"min": min(samples), "samples": samples}


def cmd_queries(names):
    from qualityspark.queries import QUERIES
    spark = _spark()
    out = {}
    for name in names or HEADLINE:
        fn = QUERIES[name]
        out[name] = _time(spark, name, lambda: _noop(fn(spark, SF_DIR)))
        print(name, json.dumps(out[name]), flush=True)
    print(json.dumps({"mode": "queries", "sf_dir": SF_DIR, "cpus": CPUS,
                      "results": out}))
    spark.stop()


def cmd_minhash():
    from pyspark.sql import functions as F
    from qualityspark.rules import neardup as ND
    from qualityspark.caching import release_caches

    spark = _spark()
    docs_dir = os.environ.get("QS_MINHASH_DIR", SF_DIR)
    d = spark.read.parquet(f"{docs_dir}/documents.parquet")
    out = {}

    docs = (d.select(F.col("doc_id").alias("id"), F.col("text").alias("t"))
            .filter(F.col("t").isNotNull())
            .withColumn("sha", F.sha2("t", 256)))
    reps_l = docs.groupBy("sha").agg(F.min("id").alias("rid"))

    def _reps():
        _noop(docs.join(reps_l, "sha").filter(F.col("id") == F.col("rid"))
              .select("rid", "sha", "t"))
    out["rep_select"] = _time(spark, "mh: rep select", _reps)

    rep_docs = (docs.join(reps_l, "sha").filter(F.col("id") == F.col("rid"))
                .select("rid", "sha", "t"))

    def _shingles():
        sh = rep_docs.select(F.col("rid").alias("id"),
                             ND.shingle_hashes_expr(F.col("t"), 3)
                             .alias("sh")).filter(F.size("sh") > 0)
        _noop(sh)
    out["shingle_hash_jvm"] = _time(spark, "mh: shingles (old JVM expr)",
                                    _shingles)

    def _sig():
        # the r7 production shape: gram build + xxhash64 + signature in
        # ONE Arrow pass (neardup.shingle_sig_pass)
        sh = ND._spread(rep_docs).select(
            F.col("rid").alias("id"),
            ND.shingle_sig_pass(3, 64, 42)(F.col("t")).alias("_ss"))
        _noop(sh.select("id", F.col("_ss.sh").alias("sh"),
                        F.col("_ss.sig").alias("sig"))
              .filter(F.size("sh") > 0))
    out["shingle_sig_arrow"] = _time(spark, "mh: shingle+sig Arrow pass",
                                     _sig)

    def _pairs():
        pairs, sh = ND.lsh_candidate_pairs(rep_docs, "rid", "t", 64, 16, 3)
        _noop(pairs)
    out["candidate_pairs"] = _time(spark, "mh: candidates", _pairs)

    def _full():
        _noop(ND.verified_near_dups(d, "doc_id", "text", threshold=0.8))
    out["full_query"] = _time(spark, "mh: full", _full)

    print(json.dumps({"mode": "minhash", "docs_dir": docs_dir, "cpus": CPUS,
                      "results": out}, indent=1))
    spark.stop()


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if mode == "queries":
        cmd_queries(sys.argv[2:])
    elif mode == "minhash":
        cmd_minhash()
    else:
        raise SystemExit(f"unknown mode {mode}")
