"""Unit tests pinning the reference's quirk semantics on tiny literal
frames (FIXTURES.md §C) — the cases the oracle can't express because the
reference diverges from SQL semantics.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from spendinganalysisetl_spark.functions.scalars import pct_change_ref, pct_change_safe


def _pct_series(spark, values, ref_compat: bool):
    """Apply pct-change over an ordered series of (period, value)."""
    rows = [(i, float(v)) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "period int, amount double")
    w = Window.orderBy("period")
    prev = F.lag("amount").over(w)
    fn = pct_change_ref if ref_compat else pct_change_safe
    out = df.withColumn("pct", fn(F.col("amount"), prev)).orderBy("period")
    return [r["pct"] for r in out.collect()]


def test_pct_change_ref_quirks(spark):
    """FIXTURES.md §C.2: pandas pct_change().fillna(0) semantics
    (transformer.py:221-222) — first row 0, 0→x inf survives, 0→0 → 0,
    5→0 → -1."""
    assert _pct_series(spark, [10, 20, 30], True) == [0.0, 1.0, 0.5]
    assert _pct_series(spark, [5, 0], True) == [0.0, -1.0]
    out = _pct_series(spark, [0, 5], True)
    assert out[0] == 0.0 and math.isinf(out[1]) and out[1] > 0
    assert _pct_series(spark, [0, 0], True) == [0.0, 0.0]


def test_pct_change_safe_nulls(spark):
    """SQL semantics: first row / zero-prev → NULL (oracle-checked path)."""
    assert _pct_series(spark, [10, 20], False) == [None, 1.0]
    assert _pct_series(spark, [0, 5], False) == [None, None]


def test_bottom5_is_reference_top5(spark):
    """FIXTURES.md §C.1: the reference's "top_5_vendors" = 5 LOWEST
    totals (asc sort + [:5], transformer.py:212-213,240)."""
    from spendinganalysisetl_spark.operators.report import bottom_k_vendors

    rows = [(f"o{i}", f"v{i}", "c", float(i * 10)) for i in range(1, 8)]
    sales = spark.createDataFrame(
        rows, "order_key string, vendor string, category string, amount double"
    )
    got = [r["vendor"] for r in bottom_k_vendors(sales, 5).collect()]
    assert got == ["v1", "v2", "v3", "v4", "v5"]


def test_absent_as_zero_mean(spark):
    """FIXTURES.md §C.3: value present once in 3 periods as 5.0 → mean
    5/3 ≈ 1.67, not 5.0 (transformer.py:217-226). Runs the catalog's
    own densify + mean (``monthly_avg_absent_as_zero``)."""
    from spendinganalysisetl_spark.operators.timeseries import (
        mean_absent_as_zero,
        period_name_amounts,
    )

    rows = [
        ("2024-01-05", "A", "x", 5.0),
        ("2024-02-05", "B", "x", 1.0),
        ("2024-03-05", "B", "x", 2.0),
    ]
    sales = spark.createDataFrame(
        rows, "order_date string, category string, order_key string, amount double"
    ).withColumn("order_date", F.to_date("order_date"))
    dense = period_name_amounts(sales, "order_date", "category", F.col("amount"))
    assert dense.count() == 6, "3 periods x 2 names, absent cells as 0"
    means = {r["name"]: r["avg_amount"] for r in mean_absent_as_zero(dense).collect()}
    assert means["A"] == pytest.approx(5.0 / 3, abs=0.01)
    assert means["B"] == pytest.approx(1.0, abs=0.01)


def test_round_then_sum(spark):
    """FIXTURES.md §C.4: per-order rounding happens before the cross-
    order sum (transformer.py:196). 1.004 + 1.004 → 2.00 under
    round-then-sum (1.00+1.00), 2.01 under sum-then-round."""
    from spendinganalysisetl_spark.operators.report import totals_by_ref_roundsum

    rows = [("o1", "c", "v", 1.004), ("o2", "c", "v", 1.004)]
    sales = spark.createDataFrame(
        rows, "order_key string, category string, vendor string, amount double"
    )
    got = totals_by_ref_roundsum(sales, "category", "name").collect()
    assert got[0]["total"] == pytest.approx(2.00)


def test_missing_dates_dropped(spark):
    """FIXTURES.md §C.5: reference crashes on a summary without dates
    (transformer.py:172); port policy drops the row — global_summary
    over null-date-free input only."""
    from spendinganalysisetl_spark.operators.report import global_summary

    rows = [("2024-01-01", "c", "v", "o1", 1.0), (None, "c", "v", "o2", 2.0)]
    sales = (
        spark.createDataFrame(
            rows, "order_date string, category string, vendor string, order_key string, amount double"
        )
        .withColumn("order_date", F.to_date("order_date"))
        .na.drop(subset=["order_date"])
    )
    row = global_summary(sales).collect()[0]
    assert row["total_transactions"] == 1
    assert row["begin_date"] == "2024-01-01"


def test_pct_change_last_operator_direct(spark):
    """The catalog's own operator (``monthly_pct_change_last``): last-
    period pct change per name over a dense decimicent matrix, W1+W2
    semantics — a zero previous period is NULL, not inf."""
    from spendinganalysisetl_spark.operators.timeseries import pct_change_last

    dense = spark.createDataFrame(
        [("2024-01-01", "a", 100000), ("2024-02-01", "a", 150000),
         ("2024-01-01", "b", 40000), ("2024-02-01", "b", 20000),
         ("2024-01-01", "c", 0), ("2024-02-01", "c", 30000)],
        "period string, name string, dmc long",
    )
    got = {r["name"]: r["pct_change"] for r in pct_change_last(dense).collect()}
    assert got == {"a": 0.5, "b": -0.5, "c": None}
