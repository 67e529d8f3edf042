"""Resumability (north_rule): kill after partial commit, rerun, final table
identical to a single-shot run (SURVEY.md §5 test plan item 5)."""

import pytest

from qualityspark.io import SnapshotWriter, run_resumable


def _table_key(rows):
    return sorted((r["url"] or "", str(r["warc_ts"]), float(r["score"]),
                   bool(r["keep"]), r["scrubbed_text"] or "")
                  for r in rows)


def _rows(spark, path):
    df = spark.read.parquet(path)
    return df.columns, sorted(repr(tuple(r)) for r in df.collect())


def _jobs_in_group(spark, group, fn):
    """Runs ``fn`` under job group ``group`` (description ``caller``);
    returns the group's job ids and the description left afterwards."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "caller")
    try:
        fn()
        after = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sc.statusTracker().getJobIdsForGroup(group) or [], after


def test_crash_and_resume_identical(spark, pages_small, tmp_path):
    single = str(tmp_path / "single")
    resumed = str(tmp_path / "resumed")

    run_resumable(spark, pages_small, single, chunks=8)

    # crash after 3 of 8 chunk commits
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_resumable(spark, pages_small, resumed, chunks=8, fail_after=3)
    w = SnapshotWriter(resumed, 8)
    assert len(w.committed()) == 3
    assert not w.is_complete()

    # resume: only the 5 missing chunks are written
    info = run_resumable(spark, pages_small, resumed, chunks=8)
    assert info["committed"] == 8

    a = spark.read.parquet(f"{single}/data").collect()
    b = spark.read.parquet(f"{resumed}/data").collect()
    assert _table_key(a) == _table_key(b)
    assert len(a) == pages_small.count()
    # the sinks too: the metrics row observed on the resumed run's
    # per-partition pass still counts every committed chunk
    for table in ("metrics", "metrics_by_partition", "lineage"):
        assert (_rows(spark, f"{single}/{table}")
                == _rows(spark, f"{resumed}/{table}")), table


def test_single_write_job(spark, pages_small, tmp_path):
    """The chunked write is ONE partitionBy job, not a per-chunk write
    loop: every part file across every chunk dir carries the SAME write
    UUID (part-NNNNN-<uuid>-...), which a sequential per-chunk writer
    cannot produce (each of its write jobs stamps its own UUID)."""
    import glob
    import re
    out = str(tmp_path / "out")
    run_resumable(spark, pages_small, out, chunks=8)
    w = SnapshotWriter(out, 8)
    assert len(w.committed()) == 8
    parts = glob.glob(f"{out}/data/chunk=*/part-*")
    assert parts
    uuids = {re.match(r"part-\d+-([0-9a-f-]{36})", p.split("/")[-1]).group(1)
             for p in parts}
    assert len(uuids) == 1, f"expected one write job, saw {len(uuids)}"


def test_rerun_is_noop(spark, pages_small, tmp_path):
    out = str(tmp_path / "out")
    run_resumable(spark, pages_small, out, chunks=4)
    w = SnapshotWriter(out, 4)
    from qualityspark.pipeline import audit, RESULT_COLUMNS
    assert w.write(audit(pages_small).select(*RESULT_COLUMNS)) == 0


def test_per_partition_metrics_merge_to_global(spark, pages_small, tmp_path):
    """north_rule: per-partition lineage + metrics alongside the output.
    Per-chunk metric rows must merge exactly to the global metrics table
    (counts sum), and the partitioned lineage must cover every global
    lineage row."""
    from pyspark.sql import functions as F
    out = str(tmp_path / "out")
    run_resumable(spark, pages_small, out, chunks=4)

    g = spark.read.parquet(f"{out}/metrics").first()
    per = spark.read.parquet(f"{out}/metrics_by_partition")
    assert per.count() > 1  # genuinely partitioned
    sums = per.agg(F.sum("n_docs").alias("n_docs"),
                   F.sum("n_TEXT_NULL_LIKE").alias("nn"),
                   F.sum("n_TEXT_EXACT_DUPLICATE").alias("nd")).first()
    assert sums["n_docs"] == g["n_docs"]
    assert sums["nn"] == g["n_TEXT_NULL_LIKE"]
    assert sums["nd"] == g["n_TEXT_EXACT_DUPLICATE"]

    lin = spark.read.parquet(f"{out}/lineage")
    assert "_chunk" in lin.columns
    n_rules_global = (spark.read.parquet(f"{out}/data")
                      .agg(F.sum(F.size("rules_fired"))).first()[0])
    assert lin.count() == n_rules_global


def test_run_job_count(spark, pages_small, tmp_path):
    """The sinks cost one re-read, typed by the written schema and scanned
    twice: lineage (one job) and metrics_by_partition (two with AQE), with
    the global metrics row observed on the latter and written as a
    one-row frame (one job); the write and the audit plan make up the
    rest."""
    out = str(tmp_path / "out")
    ids, _ = _jobs_in_group(
        spark, "run_job_count",
        lambda: run_resumable(spark, pages_small, out, chunks=4))
    assert len(ids) == 11, sorted(ids)


def test_run_labels_its_jobs(spark, pages_small, tmp_path):
    """Every job of a run carries one of four stage descriptions under the
    caller's job group, and the caller's description is restored."""
    out = str(tmp_path / "out")
    ids, after = _jobs_in_group(
        spark, "run_labels",
        lambda: run_resumable(spark, pages_small, out, chunks=4))
    assert after == "caller"
    store = spark.sparkContext._jsc.sc().statusStore()
    descs = set()
    for i in ids:
        d = store.job(i).description()
        descs.add(d.get() if d.isDefined() else None)
    assert descs == {"write", "lineage", "metrics_by_partition", "metrics"}


def test_sink_scans_one_task_per_core(spark, pages_small, tmp_path):
    """The re-read behind the lineage and metrics_by_partition sinks runs
    at most one task per core, not one per written file (write tasks x
    chunks), so the lineage sink has at most that many files per chunk.
    Fine scan splits (1 MiB, as ``bench.py`` sets for small corpora) give
    the re-read a split per file."""
    import glob
    out = str(tmp_path / "out")
    chunks = 4
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(1024 * 1024))
    try:
        ids, _ = _jobs_in_group(
            spark, "sink_tasks",
            lambda: run_resumable(spark, pages_small, out, chunks=chunks))
    finally:
        spark.conf.set(key, prev)
    cores = spark.sparkContext.defaultParallelism
    store = spark.sparkContext._jsc.sc().statusStore()
    scans = {}
    for i in ids:
        job = store.job(i)
        d = job.description()
        d = d.get() if d.isDefined() else None
        if d in ("lineage", "metrics_by_partition"):
            # tasks the job ran: a stage it reuses from an earlier job of
            # the same action shows as skipped
            scans.setdefault(d, []).append(job.numTasks()
                                           - job.numSkippedTasks())
    assert set(scans) == {"lineage", "metrics_by_partition"}, scans
    assert all(n <= cores for ns in scans.values() for n in ns), scans
    files = glob.glob(f"{out}/lineage/_chunk=*/part-*")
    assert 0 < len(files) <= cores * chunks, len(files)
