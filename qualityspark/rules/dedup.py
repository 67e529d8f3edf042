"""Keep-first duplicate flags (DUPLICATE_ROWS / ID_DUPLICATES analogs,
reference checks/universal_checks.py:52-84 and checks/id_checks.py:9-38).

Semantics: order rows by (warc_ts NULLS LAST, url NULLS LAST, text_sha
NULLS LAST); the first row per key survives, later ones get the duplicate
flag (pandas ``duplicated(keep='first')`` with an explicit total order).

Scale design — the naive version is a row_number window over the full table
per key, i.e. full shuffles of WIDE rows (html/text/scrubbed text), twice
(text key + url key).  Since round 3 the two key passes are FUSED into one
chain over an exploded (kind, key) projection:

  1. each narrow row emits up to two (kind, key) rows ('sha', text_sha)
     and ('url', url) — one projection, no shuffle;
  2. ONE ``groupBy(kind, key).count()`` — shuffles only (kind, key, 1)
     with map-side combine; keeps keys with count > 1;
  3. join candidates back (AQE picks broadcast when the dup-key set is
     small) and window ONLY those rows, partitioned by (kind, key) — the
     single window shuffle carries the tiny exploded projection;
  4. pivot the flagged rows to one row per (text_sha, url, warc_ts) triple
     carrying both flags, and LEFT-join that (broadcast) to the main table
     ONCE — the wide rows never shuffle, and the r2 version's second
     aggregation + second window + second join-back disappear (they were
     the measured serial fraction in the 4-vs-16-core scaling runs).

The chain is built as SQL text, one statement (``with_dedup_flags``): the
same optimized plan as the Column form, without a py4j round trip per
expression node while the plan is built.

Tie caveat: the order key includes the full (warc_ts, url, text_sha)
triple, so ordering is deterministic; rows IDENTICAL on the whole triple
(byte-identical text + url + timestamp, i.e. true recrawl copies) are
interchangeable and — WITHOUT a tiebreaker — ALL get the duplicate flag,
while pandas keeps exactly one by file order (no distributed analog).
Supplying an ``ingest_id`` column closes the gap: any unique-per-row value
assigned at ingest (a WARC record offset, a file+row position, a UUID —
NOT ``monotonically_increasing_id``, which depends on partitioning and
breaks resume determinism).  When the input carries ``ingest_id``,
``with_dedup_flags`` appends it to the keep-first order and flags at
(triple, ingest_id) granularity, so fully-tied recrawl copies keep exactly
one row — matching pandas ``duplicated(keep='first')`` exactly.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from qualityspark.rules.heuristics import is_null_like, null_like_sql
from qualityspark.scoring import sql_over

TRIPLE = ["text_sha", "url", "warc_ts"]


def text_sha_expr(text: Column | None = None) -> Column:
    """Dedup key: sha2 of non-null-like text (null otherwise)."""
    text = F.col("text") if text is None else text
    return F.when(~is_null_like(text), F.sha2(text, 256))


def _dup_flags_sql(key_cols: list, tiebreaker: str | None) -> str:
    """SQL text of the flagged-key table over ``{narrow}``: one row per
    flagged (text_sha, url, warc_ts[, tiebreaker]) key, the key columns
    renamed ``_f_<col>``, with boolean ``_fb_sha`` / ``_fb_url`` — the
    single fused aggregation+window chain described in the module
    docstring."""
    keys = ", ".join(key_cols)
    order = ", ".join(f"{c} ASC NULLS LAST"
                      for c in ["warc_ts", "url", "text_sha"]
                      + ([tiebreaker] if tiebreaker else []))
    # written out at both uses, as the DataFrame self-join did: a CTE
    # over a nondeterministic input would be materialized, not inlined
    keyed = (
        f"(SELECT {keys}, kind, CASE WHEN (kind = 'sha') THEN text_sha "
        f"ELSE url END AS key FROM (SELECT {keys}, explode(array_compact("
        f"array(CASE WHEN (text_sha IS NOT NULL) THEN 'sha' END, "
        f"CASE WHEN (NOT {null_like_sql('url')}) THEN 'url' END))) AS kind "
        f"FROM {{narrow}}))")
    dup_keys = (f"(SELECT kind, key FROM (SELECT kind, key, count(1) AS _c "
                f"FROM {keyed} GROUP BY kind, key) WHERE (_c > 1))")
    # GROUP BY the key columns both pivots the two kinds into one row AND
    # — when no tiebreaker distinguishes them — collapses fully-tied
    # copies (each emits its own flag row) to a single flag row, so the
    # null-safe join-back never fans out; with a tiebreaker each copy
    # keeps its own flag row and the min-tiebreaker copy survives
    # unflagged
    renamed = ", ".join(f"{c} AS _f_{c}" for c in key_cols)
    return (f"SELECT {renamed}, max((kind = 'sha')) AS _fb_sha, "
            f"max((kind = 'url')) AS _fb_url FROM ("
            f"SELECT *, row_number() OVER (PARTITION BY kind, key "
            f"ORDER BY {order}) AS _rn "
            f"FROM {keyed} JOIN {dup_keys} USING (kind, key)) "
            f"WHERE (_rn > 1) GROUP BY {keys}")


def with_dedup_flags(df: DataFrame,
                     narrow: DataFrame | None = None,
                     tiebreaker: str | None = None) -> DataFrame:
    """sig_TEXT_EXACT_DUPLICATE via sha2(text,256) key (hash, not full text,
    crosses the wire); sig_URL_DUPLICATE via url.  Expects a ``text_sha``
    column (pipeline adds it before dropping the raw text).

    ``narrow``: (text_sha, url, warc_ts) projection built from the RAW scan
    (pipeline.audit supplies it, CACHED).  Critical for throughput: if the
    narrow frame is derived from ``df`` *after* the Arrow model pass,
    materializing its cache executes the entire model pass a second time;
    built from the scan it costs one scan + sha2.  When ``narrow`` is not
    supplied it is derived from ``df`` UNCACHED — the aggregation, the
    candidate join and the join-back then each re-evaluate it (~3 passes
    over df's plan); callers on a non-trivial df should pass a cached
    narrow projection as pipeline.audit does (r3 ADVICE).

    The flagged-triple table is broadcast into the join-back so the wide
    corpus rows never shuffle (AQE does not convert the null-safe-equality
    SMJ on its own).  The flagged set is the duplicate TAIL (non-first
    copies only), small for web corpora; a corpus whose tail exceeds
    executor memory needs a sort-merge join-back instead.

    The whole chain is ONE SQL statement over ``df`` and ``narrow``
    (``scoring.sql_over``) with a ``BROADCAST(flags)`` hint: as Column
    code it cost a py4j round trip per expression node, for the same
    optimized plan.

    ``tiebreaker``: name of a unique-per-row ingest column (see module
    docstring tie caveat).  Auto-detected: an ``ingest_id`` column on
    ``df`` is used when the argument is None."""
    if "text_sha" not in df.columns:
        df = df.withColumn("text_sha", text_sha_expr())
    if tiebreaker is None and "ingest_id" in df.columns:
        tiebreaker = "ingest_id"
    key_cols = TRIPLE + ([tiebreaker] if tiebreaker else [])
    # null-safe join: url/warc_ts (and text_sha for null-like texts) may
    # legitimately be NULL and a plain equi-join would drop those matches
    cond = functools.reduce(lambda a, b: f"({a} AND {b})", [
        f"(d.{c} <=> flags._f_{c})" for c in key_cols])
    sql = (f"SELECT /*+ BROADCAST(flags) */ d.*, "
           f"(coalesce(flags._fb_sha, false) AND (d.text_sha IS NOT NULL)) "
           f"AS sig_TEXT_EXACT_DUPLICATE, "
           f"(coalesce(flags._fb_url, false) AND "
           f"(NOT {null_like_sql('d.url')})) AS sig_URL_DUPLICATE "
           f"FROM {{df}} AS d LEFT JOIN "
           f"({_dup_flags_sql(key_cols, tiebreaker)}) AS flags ON {cond}")
    return sql_over(sql, df=df, narrow=(df.select(*key_cols)
                                        if narrow is None else narrow))
