"""Upsert semantics fixtures (FIXTURES.md F1b/F1c; reference
page/page.go:95-142 merge with keep-new tie-break at 118-123)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from mora_spark.operators import merge_batches
from mora_spark.schema import CANDLE_SCHEMA


def mk(spark, rows):
    data = [
        (
            "UPBIT", code, 60,
            dt.datetime(2021, 1, 1) + dt.timedelta(minutes=i),
            o, o + 1, o - 1, o + 0.5, 10.0, 0,
        )
        for code, i, o in rows
    ]
    return spark.createDataFrame(data, CANDLE_SCHEMA)


def test_validate_candles_reports_violations(spark):
    from mora_spark.schema import validate_candles

    good = mk(spark, [("BTC", 0, 100.0), ("BTC", 1, 110.0)])
    row = validate_candles(good).collect()[0]
    assert row["n_rows"] == 2
    assert all(
        row[c] == 0
        for c in ["null_key", "market_too_long", "code_too_long",
                  "year_zero_sentinel", "bad_length", "inverted_ohlc"]
    )

    bad = mk(spark, [("A_CODE_OVER_EIGHTEEN_BYTES", 0, 100.0)])
    row = validate_candles(bad).collect()[0]
    assert row["code_too_long"] == 1


def test_last_writer_wins_on_duplicate_ts(spark):
    b1 = mk(spark, [("BTC", 0, 100.0), ("BTC", 1, 110.0)])
    b2 = mk(spark, [("BTC", 1, 999.0)])  # same key+ts, new values
    out = merge_batches([b1, b2]).orderBy("ts").collect()
    assert len(out) == 2
    assert out[0]["open"] == 100.0
    assert out[1]["open"] == 999.0  # second batch won


def test_overlapping_batch_is_sorted_unique(spark):
    # F1c: B2 straddles B1's midpoint — reference append-path would
    # corrupt ordering (SURVEY §2.C-1); we assert corrected semantics.
    b1 = mk(spark, [("ETH", i, 100.0 + i) for i in range(0, 10, 2)])
    b2 = mk(spark, [("ETH", i, 500.0 + i) for i in range(3, 7)])
    out = merge_batches([b1, b2]).orderBy("ts").collect()
    ts = [r["ts"] for r in out]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)
    by_min = {r["ts"].minute: r["open"] for r in out}
    assert by_min[4] == 504.0  # overlap: batch 2 won
    assert by_min[2] == 102.0  # non-overlap: batch 1 kept


def test_idempotent_rewrite(spark):
    b = mk(spark, [("BTC", i, 100.0 + i) for i in range(5)])
    once = merge_batches([b]).orderBy("ts").collect()
    twice = merge_batches([b, b]).orderBy("ts").collect()
    assert once == twice


def test_multi_year_batch_splits(spark):
    # Year-boundary edges (F1d): rows land in distinct year partitions.
    data = [
        ("UPBIT", "BTC", 60,
         dt.datetime(2020, 12, 31, 23, 59, 59, tzinfo=dt.timezone.utc),
         1.0, 1.0, 1.0, 1.0, 1.0, 0),
        ("UPBIT", "BTC", 60,
         dt.datetime(2021, 1, 1, 0, 0, 0, tzinfo=dt.timezone.utc),
         2.0, 2.0, 2.0, 2.0, 2.0, 0),
        ("UPBIT", "BTC", 60,
         dt.datetime(2020, 2, 29, 12, 0, 0, tzinfo=dt.timezone.utc),
         3.0, 3.0, 3.0, 3.0, 3.0, 0),
    ]
    df = spark.createDataFrame(data, CANDLE_SCHEMA).withColumn(
        "year", F.year("ts")
    )
    years = sorted(r["year"] for r in df.select("year").collect())
    assert years == [2020, 2020, 2021]
