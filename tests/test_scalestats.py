"""The ordering primitive (rules/scalestats.py): exact global order over
every key type it buckets, a build cost that does not grow with the
boundaries, and the split-half KS query on crafted edge inputs against its
DuckDB oracle."""

import datetime as dt
from decimal import Decimal

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from qualityspark.queries import ORACLES, QUERIES
from qualityspark.rules import scalestats as S
from test_queries_oracle import _norm


def test_bucket_build_cost_flat_in_boundaries(spark, py4j_calls):
    """with_halves builds its bucket and offset rows from SQL text, so 32
    boundaries send as many py4j calls as 8 (as Column code each boundary
    cost over 100 calls)."""
    t0 = dt.datetime(2024, 1, 1)
    e = spark.range(100).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.col("id") + 1704067200).alias("ts"))

    def calls(n):
        bnds = [t0 + dt.timedelta(seconds=3 * i) for i in range(n)]
        return py4j_calls(lambda: S.with_halves(
            e, F.col("ts"), [F.col("event_id")], boundaries=bnds))

    calls(8)        # warm: lazy Python-side imports and JVM class lookups
    n8, n32 = calls(8), calls(32)
    assert abs(n32 - n8) <= 5, (n8, n32)


# key SQL over id (0..n-1): ties, negatives, values outside int32 and
# NULLs where the type allows them
KEYS = {
    "timestamp": "timestamp_micros(1704067200000000 "
                 "+ (id % 97) * 1234567 + (id % 5))",
    "date": "date_add(DATE'2023-12-30', CAST(id % 61 AS INT) - 20)",
    "double": "(id % 53 - 26) * 0.37D",
    "bigint": "(id % 41) * 3000000000 - 60000000000",
    "decimal": "CAST((id % 47 - 20) * 1.125 AS DECIMAL(12, 3))",
    "nulls": "CASE WHEN id % 7 = 0 THEN NULL ELSE (id % 31) * 1.5D END",
}


@pytest.mark.parametrize("kind", sorted(KEYS))
def test_global_order_exact_per_key_type(spark, kind):
    """with_global_order (row_number and min-rank) and with_running_sum
    equal a single-partition window reference over each key type."""
    df = spark.range(600).repartition(4).selectExpr(
        "id", f"{KEYS[kind]} AS k", "CAST(id % 13 - 6 AS DOUBLE) AS v")
    w = Window.orderBy(F.col("k").asc_nulls_first(), "id")
    want = {r["id"]: (r["rn"], r["rk"], r["rs"]) for r in df.select(
        "id", F.row_number().over(w).alias("rn"),
        F.rank().over(Window.orderBy(F.col("k").asc_nulls_first()))
        .alias("rk"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding,
                                      Window.currentRow)).alias("rs"))
        .collect()}
    order = S.with_global_order(df, F.col("k"), [F.col("id")], buckets=8,
                                rank_col="rk")
    rsum = S.with_running_sum(df, F.col("k"), F.col("v"), [F.col("id")],
                              buckets=8)
    got_order = {r["id"]: (r["_rn"], r["rk"]) for r in order.collect()}
    got_rsum = {r["id"]: r["_rsum"] for r in rsum.collect()}
    assert got_order == {i: (rn, rk) for i, (rn, rk, _) in want.items()}
    # integer-valued doubles: every association of the sum is exact
    assert got_rsum == {i: rs for i, (_, _, rs) in want.items()}


@pytest.mark.parametrize("x", [
    dt.datetime(2024, 3, 1, 12, 30, 5, 123457),
    dt.date(1969, 12, 31),
    -0.1, 2.5e-300, 7, -2**40,
    Decimal("12.340"), Decimal("-0.0005"), Decimal("1E-7"),
])
def test_boundary_literal_is_flit(spark, x):
    """Each boundary's SQL literal has F.lit's type and value."""
    row = spark.range(1).select(
        F.expr(S._key_lit(x)).alias("sql"), F.lit(x).alias("lit"))
    assert row.schema["sql"].dataType == row.schema["lit"].dataType
    got = row.head()
    assert got["sql"] == got["lit"] == x


def test_boundary_literal_rejects_other_types():
    for x in ["2024-01-01", True, None]:
        with pytest.raises(TypeError):
            S._key_lit(x)


KS_CASES = {
    "constant_value": [(i, i, 4.0) for i in range(6)],
    "single_row": [(1, 0, 2.5)],
    "null_values": [(i, i, None if i % 3 == 0 else float(i * i))
                    for i in range(12)],
    # two distinct ts for 9 rows: event_id orders each tie, and the
    # ntile cut falls inside one
    "ts_ties": [(i, i % 2, float(i % 4)) for i in range(9)]
               + [(100 + i, 0, 9.0 - i) for i in range(4)],
}


@pytest.mark.parametrize("case", sorted(KS_CASES))
def test_ks_histogram_halves_edges(spark, tmp_path, case):
    """ks_histogram_halves matches its DuckDB oracle on crafted events."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [(eid, t0 + dt.timedelta(seconds=s), "a", v)
            for eid, s, v in KS_CASES[case]]
    path = tmp_path / "events.parquet"
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    ).write.parquet(str(path))
    sdf = QUERIES["ks_histogram_halves"](spark, str(tmp_path))
    got = _norm([c.lower() for c in sdf.columns],
                [tuple(r) for r in sdf.collect()])
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{path}/*.parquet')")
    res = con.sql(ORACLES["ks_histogram_halves"])
    want = _norm([c.lower() for c in res.columns], res.fetchall())
    assert got == want
