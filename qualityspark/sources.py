"""Input sources beyond Parquet (reference core/data_loader.py analogs).

CSV ingestion keeps the reference's robustness features re-expressed for
Spark: encoding detection from a head sample (chardet-free byte heuristic),
delimiter sniffing by modal split-count (reference core/data_loader.py:
6,102-126), bad-line tolerance (PERMISSIVE + corrupt-record column instead of
skipping), and a header/empty guard.  The "dual raw/typed frame" trick
(reference core/data_loader.py:42-58) becomes: read everything as string
("raw" view) and add typed columns with try_cast semantics — one scan, not
two."""

from __future__ import annotations

import collections

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DELIMITER_CANDIDATES = [",", ";", "\t", "|"]


def sniff_csv_dialect(path_sample: bytes) -> dict:
    """Encoding + delimiter from a head sample (driver-side, bytes only)."""
    # encoding: BOM beats everything; utf-8 strict try; latin-1 fallback —
    # same normalization ladder as the reference (data_loader.py:91-100)
    if path_sample.startswith(b"\xef\xbb\xbf"):
        encoding = "UTF-8"
        path_sample = path_sample[3:]
    else:
        try:
            path_sample.decode("utf-8")
            encoding = "UTF-8"
        except UnicodeDecodeError:
            encoding = "ISO-8859-1"
    text = path_sample.decode(encoding, errors="replace")
    lines = [l for l in text.splitlines()[:20] if l]
    counts: dict[str, collections.Counter] = {
        d: collections.Counter(l.count(d) for l in lines)
        for d in DELIMITER_CANDIDATES}
    best, best_score = ",", -1
    for d, c in counts.items():
        mode, freq = (c.most_common(1)[0] if c else (0, 0))
        if mode > 0 and freq > best_score:
            best, best_score = d, freq
    return {"encoding": encoding, "sep": best}


def read_csv_audited(spark: SparkSession, path: str,
                     encoding: str | None = None,
                     sep: str | None = None) -> DataFrame:
    """CSV read with sniffed dialect + permissive bad-line capture.
    Returns all-string columns plus ``_corrupt_record`` — the 'raw frame';
    callers add typed views via try_cast (see ``typed_view``)."""
    if encoding is None or sep is None:
        # sample via the JVM-free local path when possible, else binaryFile
        head = (spark.read.format("binaryFile").load(path)
                .select(F.substring("content", 1, 65536).alias("h"))
                .first()["h"])
        dialect = sniff_csv_dialect(bytes(head))
        encoding = encoding or dialect["encoding"]
        sep = sep or dialect["sep"]
    df = (spark.read
          .option("header", True)
          .option("encoding", encoding)
          .option("sep", sep)
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .csv(path))
    # header-only / empty rejection (reference core/data_loader.py:66-67):
    # a CSV that parses to zero columns or zero data rows is a load error,
    # not an auditable table.  isEmpty() reads at most one row.
    if not df.columns:
        raise ValueError(f"empty file (no header): {path}")
    if df.isEmpty():
        raise ValueError(f"header-only file (no data rows): {path}")
    return df


def typed_view(df: DataFrame, types: dict[str, str]) -> DataFrame:
    """Adds `<col>_typed` columns with try_cast semantics (null on failure —
    pandas errors='coerce' analog, SURVEY.md §2.10)."""
    out = df
    for col, t in types.items():
        # backtick-quoted resolution + Column.try_cast (no f-string SQL) so
        # arbitrary CSV headers (spaces, hyphens, dots, keywords) are safe
        out = out.withColumn(f"{col}_typed", quoted_col(col).try_cast(t))
    return out


def quoted_col(name: str) -> F.Column:
    """F.col with backtick quoting (embedded backticks doubled) — resolves
    any header as a top-level column, never as a nested-field path."""
    return F.col("`" + name.replace("`", "``") + "`")


def melt(df: DataFrame, values: dict[str, F.Column], *keep) -> DataFrame:
    """The unpivot every per-column audit family aggregates: ``keep`` plus
    (k, v) rows, k a key of ``values`` and v its expression.  Map-explode
    keeps NULL values, so each key yields exactly one row per input row,
    and the plan after the explode stays a few fields wide at any column
    count.  The map literal itself grows with the column count: over a
    110-column CSV scan the scan → explode stage fails to compile ("Code
    grows beyond 64 KB") and runs without whole-stage codegen; over a
    cached frame of the same width it compiles."""
    pairs = []
    for k, v in values.items():
        pairs += [F.lit(k), v]
    return df.select(*keep, F.explode(F.create_map(*pairs)).alias("k", "v"))


def lit_join(df: DataFrame, rows: list[tuple], schema: str) -> DataFrame:
    """Broadcast a per-column literal table (keyed ``k``) onto a melted
    frame: an O(1) hash probe per value where a per-column CASE chain
    would be O(n_cols), interpreted.  A NULL literal gates its aggregate
    off: a NULL-gated predicate sums to NULL, and the caller's
    is-not-None filter drops the key, so a check whose literal is missing
    (no IQR, zero std, ...) reads its absent-key default."""
    lit_df = df.sparkSession.createDataFrame(rows, schema)
    return df.join(F.broadcast(lit_df), "k")
