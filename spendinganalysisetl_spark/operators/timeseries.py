"""Time-series operators: dense monthly matrix, pct-change (lag),
absent-as-zero mean — the reference's most distinctive semantics
(SURVEY.md §2.4 A9/A12, §2.5 W1-W3; /root/reference/transformer.py:194-226).

The reference pivots uploads into a pandas date×name matrix, fillna(0),
then takes per-column ``pct_change().iloc[-1]`` and ``mean()``. Here the
same computations stay in LONG form (period, name, dmc) — a pivot to
wide format would bake the distinct-name discovery into the schema and
defeat partial aggregation; long form keeps everything a hash-agg +
window, shuffling once on the (small) name key space. Amounts are exact
bigint decimicents (``dmc``, functions.scalars.decimicents), so every
derived double is bit-identical to the DuckDB twins (registry
``MONTHLY_CTE``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from spendinganalysisetl_spark.functions.scalars import decimicents, pct_change_safe


def period_name_amounts(
    facts: DataFrame, date_col: str, name_col: str, amount: Column
) -> DataFrame:
    """Zero-densified long-form monthly matrix ``(period, name, dmc)``:
    the decimicent sum of ``amount`` per (month of ``date_col``,
    ``name_col``), with every missing (period, name) cell materialized
    as 0 to match the reference's fillna(0) (transformer.py:217-218) —
    a cross join of the two *distinct* sides (both tiny relative to the
    fact) left-joined back to the aggregate."""
    monthly = facts.groupBy(
        F.date_format(F.date_trunc("month", date_col), "yyyy-MM-dd").alias("period"),
        F.col(name_col).alias("name"),
    ).agg(F.sum(decimicents(amount)).alias("dmc"))
    periods = monthly.select("period").distinct()
    names = monthly.select("name").distinct()
    # Explicit broadcast: distinct-aggregate outputs carry no size
    # stats, so the planner would otherwise fall back to
    # CartesianProduct (partition-wise cross product) for the
    # densification grid — caught by the catalog-wide plan lint.
    return (
        periods.crossJoin(F.broadcast(names))
        .join(F.broadcast(monthly), ["period", "name"], "left")
        .select("period", "name", F.coalesce("dmc", F.lit(0)).alias("dmc"))
    )


def pct_change_last(dense: DataFrame) -> DataFrame:
    """W1+W2: per-name percent change of the most recent period vs the
    one before it (transformer.py:221-222 ``pct_change().iloc[-1]``),
    with SQL NULL-on-first/zero-prev semantics so the DuckDB oracle
    agrees (the reference's ±inf quirk is ``monthly_pct_change_inf_ref``).

    Window is partitioned by name — no global ordering, shuffle only on
    the small name key space.
    """
    w = Window.partitionBy("name").orderBy("period")
    wdesc = Window.partitionBy("name").orderBy(F.col("period").desc())
    amt = F.col("dmc") / F.lit(10000.0)
    prev_amt = F.lag("dmc").over(w) / F.lit(10000.0)
    return (
        dense.withColumn("pct_change", pct_change_safe(amt, prev_amt))
        .withColumn("rn", F.row_number().over(wdesc))
        .filter(F.col("rn") == 1)
        .select("name", "period", "pct_change")
        .repartition(1).sortWithinPartitions("name")
    )


def mean_absent_as_zero(dense: DataFrame) -> DataFrame:
    """A9: per-name mean over ALL periods, where a name absent from a
    period counts as 0 (transformer.py:217-218,225-226 — the zero-filled
    pivot's column mean; verified: value present once in 3 periods as
    5.0 → mean 1.67, not 5.0). ``dense`` is already zero-filled, so this
    is a plain grouped mean; the exact bigint sum / count keeps the
    double engine-identical."""
    return (
        dense.groupBy("name")
        .agg(
            ((F.sum("dmc").cast("double") / F.count(F.lit(1))) / F.lit(10000.0)).alias(
                "avg_amount"
            )
        )
        .repartition(1).sortWithinPartitions("name")
    )


def recurring_customers(orders: DataFrame, k: int = 50) -> DataFrame:
    """Recurring-spend detection: the customers whose order DATES are
    most regularly spaced — the subscription/standing-order readout a
    spending-analysis engine serves (the reference's domain; its
    transformer only aggregates totals, SURVEY.md §2.4 — periodicity is
    part of the generalized time-series surface).

    Regularity = the coefficient of variation of the gaps between a
    customer's distinct order dates, computed ENTIRELY in integer
    arithmetic: gaps are integer days (one lag window per customer),
    and CV² is emitted as floor-division basis points —
    ``cv2_bp = 10000·n·(n·Σg² − (Σg)²) div ((n−1)·(Σg)²)`` — so the
    DuckDB twin reproduces every row bit-for-bit with no
    float-rounding surface at all (0 bp = perfectly periodic). Output:
    the top-``k`` most regular customers with ≥4 distinct order dates,
    ``(custkey, n_dates, mean_gap_days, cv2_bp)``.

    Scale shape: distinct (customer, date) collapse, ONE window
    partitioned by customer (never a global sort), then a per-customer
    aggregate. The per-row magnitudes (gaps < ~3·10⁶ days) fit BIGINT,
    but the CV² numerator's five-factor product does NOT for a legal
    long-lived daily customer — hence the DECIMAL(38,0) promotion
    below (see the in-function comment and the planted-extreme test).
    """
    from pyspark.sql import Window

    dates = orders.select(
        F.col("o_custkey").alias("custkey"), F.col("o_orderdate").alias("d")
    ).distinct()
    w = Window.partitionBy("custkey").orderBy("d")
    gaps = (
        dates.withColumn("g", F.datediff(F.col("d"), F.lag("d").over(w)))
        .filter(F.col("g").isNotNull())
        .select("custkey", F.col("g").cast("long").alias("g"))
    )
    agg = gaps.groupBy("custkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("g").alias("s"),
        F.sum(F.col("g") * F.col("g")).alias("q"),
    )
    # CV² numerator promoted to DECIMAL(38,0) (≡ DuckDB HUGEINT — the
    # same widening as the Welch/Gini r5 fixes): 10000·n·(n·q − s²) has
    # five BIGINT factors and overflows int64 for a perfectly LEGAL
    # customer (daily orders for ~30 years: n ~ 10⁴, s² ~ 10⁸ → the
    # n·q term alone passes 10¹⁶ and the full product 10²⁴). ANSI mode
    # would fail loudly, but only on the data that reaches it — the
    # property test in tests/test_properties_ext.py plants that
    # customer. Values are unchanged at any magnitude that fit before.
    ss = "CAST(s AS DECIMAL(38,0)) * s"
    num = f"10000 * n * (CAST(n AS DECIMAL(38,0)) * q - {ss})"
    return (
        agg.filter((F.col("n") >= 3) & (F.col("s") > 0))
        .select(
            "custkey",
            (F.col("n") + 1).alias("n_dates"),
            F.expr("s div n").alias("mean_gap_days"),
            F.expr(f"CAST(({num}) div ((n - 1) * {ss}) AS BIGINT)").alias(
                "cv2_bp"
            ),
        )
        .orderBy("cv2_bp", "custkey")
        .limit(k)
    )


def ewma_forecast(
    monthly: DataFrame,
    key_col: str = "name",
    period_col: str = "period",
    value_col: str = "amount_decimicents",
    window: int = 12,
) -> DataFrame:
    """Exponentially-weighted next-period forecast per key — the
    one-step forecasting readout (the reference reports the LAST
    period's pct-change; this projects the NEXT one).

    EWMA with α = 1/2 over the trailing ``window`` periods, in EXACT
    integer arithmetic: the weights are powers of two
    (``2^(window-1-i)`` for the i-th most recent period, normalized by
    ``2^window − 1``), so with decimicent inputs the whole forecast is
    BIGINT adds/shifts/one floor division — bit-identical in any
    engine, no float summation order anywhere (the same reason the
    PageRank damping is integer). α = 1/2 is the classic "recent
    months dominate" setting; other α values would need float weights
    and lose the exactness device.

    ``monthly`` is one row per (key, period) — aggregate first.
    Returns ``(key, n_periods, last_value, forecast)`` in the input's
    integer unit, forecasting from each key's latest ``window`` rows.
    One keyed window (rank descending) + one keyed aggregate; nothing
    global.
    """
    w = Window.partitionBy(key_col).orderBy(F.col(period_col).desc())
    recent = (
        monthly.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= window)
        .withColumn("wgt", F.expr(f"shiftleft(1L, {window} - rn)"))
    )
    return (
        recent.groupBy(F.col(key_col).alias("key"))
        .agg(
            F.count(F.lit(1)).alias("n_periods"),
            F.max(F.when(F.col("rn") == 1, F.col(value_col))).alias("last_value"),
            # weight·value promoted to DECIMAL(38,0) (≡ HUGEINT): with
            # the 2^11 top weight a monthly value past ~4.5·10¹⁵ (a
            # $450 B month in decimicents — large, but legal for a
            # whole-priority rollup at warehouse scale) overflows the
            # BIGINT product; see tests/test_properties_ext.py.
            F.sum(F.col("wgt").cast("decimal(38,0)") * F.col(value_col)).alias(
                "wsum"
            ),
            F.sum("wgt").alias("wtot"),
        )
        .select(
            F.col("key").alias(key_col),
            "n_periods",
            "last_value",
            F.expr("CAST(wsum div wtot AS BIGINT)").alias("forecast"),
        )
        .repartition(1)
        .sortWithinPartitions(key_col)
    )
