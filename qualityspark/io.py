"""Table IO + snapshot/commit manifest for resumability.

north_rule requirement: a killed run restarts at the last committed snapshot
and produces an identical final table.

Design (works on plain Parquet in this sandbox; the production path is an
Iceberg table where each chunk append is an Iceberg snapshot commit — same
semantics, swap `_write_chunk` for ``df.writeTo(tbl).append()`` once the
iceberg-spark-runtime jar + catalog are configured; no jar is available
offline here, reference: Iceberg docs):

* the audited output is deterministically partitioned into ``chunks`` by a
  hash of the dedup order key (url, warc_ts), so chunk contents do not
  depend on execution order or parallelism;
* ALL pending chunks are written in ONE ``partitionBy("chunk")`` job to
  ``data/chunk=<k>/`` dirs (dynamic partition overwrite: committed dirs
  untouched, uncommitted leftovers replaced), then each chunk is — only
  after the whole job succeeds — recorded in ``_manifest/<k>.json`` (the
  commit point; the manifest write is a single atomic rename);
* on restart the driver recomputes the (deterministic) plan but writes only
  chunks missing from the manifest.  Global stages (dedup, metrics) are
  recomputed — correctness comes from determinism, progress from skipping
  committed writes, which is where the bytes (and the time) are;
* the sinks read the committed chunks back once, with the written schema
  (no inference job), coalesced to one task per core, and scan them
  twice: the lineage explode, and ``metrics_by_partition`` with the global
  metrics row observed on the same pass.  A run at four chunks is 11
  Spark jobs with AQE (10 on one core, where the per-chunk grouping needs
  no shuffle), each labelled by ``run_resumable`` with its stage as the
  job description.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class SnapshotWriter:
    def __init__(self, out_dir: str, chunks: int = 16):
        self.out_dir = out_dir
        self.chunks = chunks
        self.data_dir = os.path.join(out_dir, "data")
        self.manifest_dir = os.path.join(out_dir, "_manifest")
        os.makedirs(self.manifest_dir, exist_ok=True)

    def committed(self) -> set[int]:
        return {int(f[:-5]) for f in os.listdir(self.manifest_dir)
                if f.endswith(".json")}

    def chunk_col(self) -> F.Column:
        return F.pmod(F.xxhash64(F.coalesce(F.col("url"), F.lit("")),
                                 F.coalesce(F.col("warc_ts").cast("string"),
                                            F.lit(""))),
                      F.lit(self.chunks)).alias("_chunk")

    def write(self, df: DataFrame, fail_after: int | None = None) -> int:
        """Write all not-yet-committed chunks in ONE ``partitionBy`` job;
        returns number of chunks committed.  ``fail_after`` simulates a
        crash after N chunk commits (tests).

        The upstream plan (Arrow model pass, dedup shuffles, scoring)
        executes exactly once: every task routes its rows to per-chunk
        files (a local sort by the chunk key, no extra shuffle), replacing
        r3's sequential filter-then-write loop over a DISK_ONLY persist —
        one pass instead of persist + N filter passes.  Dynamic partition
        overwrite confines the job to the chunk dirs present in the data:
        committed chunks are filtered OUT of the frame, so their
        directories are never touched on a resume, and uncommitted
        leftovers from a killed run are overwritten.  The commit point
        stays the per-chunk manifest rename, written only after the whole
        job (all pending bytes) has succeeded."""
        done = self.committed()
        todo = [k for k in range(self.chunks) if k not in done]
        if not todo:
            return 0
        with_chunk = df.withColumn("chunk", self.chunk_col())
        if done:
            with_chunk = with_chunk.filter(~F.col("chunk").isin(*done))
        (with_chunk.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("chunk").parquet(self.data_dir))
        written = 0
        for k in todo:
            self._commit(k, os.path.join(self.data_dir, f"chunk={k}"))
            written += 1
            if fail_after is not None and written >= fail_after:
                raise RuntimeError(
                    f"simulated crash after {written} chunks")
        return written

    def _commit(self, k: int, path: str) -> None:
        tmp = os.path.join(self.manifest_dir, f".{k}.json.tmp")
        final = os.path.join(self.manifest_dir, f"{k}.json")
        with open(tmp, "w") as f:
            json.dump({"chunk": k, "path": path, "ts": time.time()}, f)
        os.replace(tmp, final)  # atomic commit point

    def read(self, spark: SparkSession, schema: StructType) -> DataFrame:
        """Read only committed chunks.  A committed chunk with no
        directory is legitimately EMPTY (dynamic partition overwrite
        writes nothing for chunk values absent from the data).
        ``schema`` is the written frame's schema: given, the read needs
        no schema-inference job."""
        paths = [p for p in (os.path.join(self.data_dir, f"chunk={k}")
                             for k in sorted(self.committed()))
                 if os.path.isdir(p)]
        if not paths:
            raise FileNotFoundError("no committed chunks")
        return spark.read.schema(schema).parquet(*paths)

    def is_complete(self) -> bool:
        return len(self.committed()) == self.chunks


@contextmanager
def _job_description(spark: SparkSession, label: str):
    """Labels the jobs submitted inside the block with ``label`` as their
    description, then restores the caller's; the job group is left
    alone."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.job.description", prev)


def run_resumable(spark: SparkSession, pages: DataFrame, out_dir: str,
                  chunks: int = 16, fail_after: int | None = None,
                  cfg=None, run_id: str = "run0",
                  history_dir: str | None = None) -> dict:
    """Resumable flagship run: audited table written chunk-by-chunk with
    commit manifest; lineage + metrics written once at the end (idempotent
    overwrite).  ``cfg``: runtime RunConfig (thresholds / disabled rules /
    overrides / business rules), None = defaults.  ``history_dir``: when
    set, this run's metrics row is appended there and the returned info
    carries the multi-run trend report (drift.trend_report).

    After the chunked write the output is read back (with the result's
    schema, so no inference job) and scanned twice: once for the lineage
    explode and once for ``metrics_by_partition``.  Under fine scan
    splits (``bench.py``'s 1 MiB) the re-read has a split per written file
    (write tasks x chunks); it is coalesced to ``defaultParallelism`` (no
    shuffle), so each scan runs at most one task per core and the lineage
    sink writes at most that many files per chunk.  The global ``metrics``
    row is observed on that per-partition pass (``DataFrame.observe``, the
    same aggregate list) instead of a third scan, and written as a one-row
    frame of typed literals.  The re-read covers every committed chunk, so
    after a resume the row still counts all rows.  Its partial sums merge
    in task completion order: ``avg_score`` and
    ``weighted_score`` are bit-stable while every ``score * weight`` term
    is an exact binary fraction (integer or half-point deductions, at most
    one missing null-tracked field).  With AQE a run is 11 Spark jobs at
    four chunks, 10 on one core (a single coalesced partition needs no
    shuffle before the per-chunk grouping); the write, lineage,
    metrics_by_partition and metrics jobs carry those names as their job
    description."""
    from pyspark.sql import Observation
    from qualityspark.pipeline import audit, RESULT_COLUMNS
    from qualityspark.scoring import (_metric_aggs, lineage_table,
                                      metrics_by_partition, sql_lit)

    writer = SnapshotWriter(out_dir, chunks)
    result = audit(pages, cfg=cfg).select(*RESULT_COLUMNS)
    with _job_description(spark, "write"):
        writer.write(result, fail_after=fail_after)
    # one task per core: at sink sizes a task's fixed cost (scheduling,
    # deserialization) outweighs the work on its rows
    audited = writer.read(spark, result.schema).coalesce(
        spark.sparkContext.defaultParallelism)
    # per-partition tables (north_rule): the chunk key is a pure function
    # of (url, warc_ts), so it reconstructs identically from the committed
    # rows — no need to have persisted it
    with _job_description(spark, "lineage"):
        (lineage_table(audited, cfg=cfg)
         .withColumn("_chunk", writer.chunk_col())
         .write.mode("overwrite").partitionBy("_chunk")
         .parquet(os.path.join(out_dir, "lineage")))
    observed = Observation("metrics")
    aggs = map(F.expr, _metric_aggs(audited, cfg=cfg))
    aud_chunk = (audited.withColumn("_chunk", writer.chunk_col())
                 .observe(observed, *aggs))
    by_part = metrics_by_partition(aud_chunk, run_id=run_id, cfg=cfg)
    with _job_description(spark, "metrics_by_partition"):
        by_part.write.mode("overwrite").parquet(
            os.path.join(out_dir, "metrics_by_partition"))
    # the observed row as a one-row JVM-side frame of exact typed literals
    # (createDataFrame from a Python row would run a Python-worker task)
    row = observed.get
    metrics = (spark.range(0, 1, 1, 1).selectExpr(*[
        f"CAST({sql_lit(row[f.name])} AS {f.dataType.simpleString()}) "
        f"AS `{f.name}`" for f in by_part.schema.fields
        if f.name not in ("_chunk", "run_id")])
        .withColumn("run_id", F.lit(run_id)))
    with _job_description(spark, "metrics"):
        metrics.write.mode("overwrite").parquet(os.path.join(out_dir,
                                                             "metrics"))
    info = {"out_dir": out_dir, "chunks": writer.chunks,
            "committed": len(writer.committed()), "run_id": run_id}
    if history_dir:
        from qualityspark.drift import (append_run_history, run_history,
                                        trend_report)
        append_run_history(metrics, history_dir)
        info["trend"] = trend_report(run_history(spark, history_dir))
    from qualityspark.caching import release_caches
    release_caches()    # audit()'s narrow projection is consumed by now
    return info
