"""Data-quality expectation engine (operators/quality.py): planted
violations per rule class, single-scan compilation for scalar rules."""

from __future__ import annotations

from spendinganalysisetl_spark.operators.quality import (
    accepted_values_rule,
    check_expectations,
    not_null_rule,
    range_rule,
    unique_rule,
)
from spendinganalysisetl_spark.plans import plan_report


def test_rules_count_planted_violations(spark):
    df = spark.createDataFrame(
        [
            (1, 10.0, "A"),
            (2, -5.0, "A"),     # range violation
            (3, None, "B"),     # null violation (and range: NULL counts)
            (4, 10.0, "X"),     # accepted-values violation
            (4, 10.0, "A"),     # duplicate id
        ],
        "id long, amount double, flag string",
    )
    parent = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    out = {
        r["rule"]: r
        for r in check_expectations(
            df,
            [
                range_rule("amount", 0, 100),
                not_null_rule("amount"),
                accepted_values_rule("flag", ["A", "B"]),
                unique_rule("id"),
            ],
            fk=[("id", parent, "id")],
        ).collect()
    }
    assert out["amount_between_0_100"]["n_violations"] == 2  # -5 and NULL
    assert out["amount_not_null"]["n_violations"] == 1
    assert out["flag_accepted_values"]["n_violations"] == 1
    assert out["id_unique"]["n_violations"] == 1  # one extra copy of id 4
    assert out["id_fk"]["n_violations"] == 2     # both id-4 rows orphaned
    assert all(r["n_rows"] == 5 for r in out.values())
    assert out["amount_not_null"]["passed"] == 0


def test_scalar_rule_over_unique_named_column_routes_scalar(spark):
    """Routing regression: a SCALAR rule over a column whose name
    contains '_unique' must stay in the scalar branch (the old
    substring-of-name routing misrouted it into the uniqueness
    branch and grouped by a nonexistent column)."""
    df = spark.createDataFrame(
        [(1, True), (2, None), (2, True)], "id long, is_unique_flag boolean"
    )
    out = {
        r["rule"]: r
        for r in check_expectations(
            df, [not_null_rule("is_unique_flag"), unique_rule("id")]
        ).collect()
    }
    assert out["is_unique_flag_not_null"]["n_violations"] == 1
    assert out["id_unique"]["n_violations"] == 1


def test_all_pass_and_single_scan(spark):
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "id long, v double")
    out = check_expectations(
        df, [range_rule("v", 0, 10), not_null_rule("v")]
    )
    rows = out.collect()
    assert all(r["passed"] == 1 for r in rows)
    # scalar rules compile into ONE aggregation: no join, no cartesian,
    # and a single pair of partial/final aggregates behind the union
    rep = plan_report(out)
    assert rep["cartesian"] == 0 and rep["python_row_udfs"] == 0

