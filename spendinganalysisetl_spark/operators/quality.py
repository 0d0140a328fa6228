"""Data-quality expectation checks (the great-expectations /
dbt-test pattern as engine primitives): declarative rules over a table,
evaluated in ONE full-scan aggregation, plus referential-integrity
checks as anti-join counts.

At 100 TB this is the gate a pipeline runs BEFORE an expensive job:
every scalar rule compiles to a conditional-sum over the same scan
(map-side combined, zero extra passes however many rules there are);
each FK rule adds one anti-join whose parent side ships only the key
column (and broadcasts when the parent is a dimension).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class Rule:
    name: str
    violation: F.Column | None  # true where the row VIOLATES the expectation
    # Explicit routing marker: "scalar" rules compile to conditional sums;
    # "unique" rules need a grouped aggregation over ``col``. Routing on
    # the marker (not a "_unique" substring of the NAME) means a scalar
    # rule over a column literally named "is_unique_flag" still lands in
    # the scalar branch.
    kind: str = "scalar"
    col: str | None = None


def _fmt(x) -> str:
    # Dots in rule names would read as struct paths in column lookups.
    return str(x).replace(".", "p")


def range_rule(col: str, lo: float, hi: float) -> Rule:
    """Violated when the value is outside [lo, hi] or NULL."""
    c = F.col(col)
    return Rule(
        f"{col}_between_{_fmt(lo)}_{_fmt(hi)}",
        c.isNull() | (c < lo) | (c > hi),
    )


def not_null_rule(col: str) -> Rule:
    return Rule(f"{col}_not_null", F.col(col).isNull())


def accepted_values_rule(col: str, values: list) -> Rule:
    return Rule(f"{col}_accepted_values", ~F.col(col).isin(values))


def unique_rule(col: str) -> Rule:
    """Marker rule — uniqueness needs an aggregation, handled by
    check_expectations separately (a window/groupBy, not a scalar)."""
    return Rule(f"{col}_unique", None, kind="unique", col=col)


def check_expectations(
    df: DataFrame,
    rules: list[Rule],
    fk: list[tuple[str, DataFrame, str]] | None = None,
) -> DataFrame:
    """Evaluate all expectations and return one row per rule:
    ``(rule, n_rows, n_violations, passed)``.

    - scalar rules: one conditional-sum each inside a SINGLE aggregation
      of a single scan;
    - ``unique_rule``: duplicate count via a key-grouped aggregation;
    - ``fk`` triples ``(child_col, parent_df, parent_col)``: orphan rows
      via LEFT ANTI join against the key-only parent — deliberately NOT
      deduplicated first: anti-join semantics are insensitive to
      duplicate right-side keys, so a ``distinct()`` there is a full
      extra exchange + aggregation of every parent key for zero
      semantic effect (r10 sf1 A/B on dq_check_lineitem, same session,
      interleaved: with distinct 1.96 s best-of-3, without 1.01 s; a
      pre-aggregate-child-keys variant measured 1.51 s — also worse
      than just deleting the distinct).
    """
    scalar = [r for r in rules if r.kind == "scalar"]
    uniques = [r for r in rules if r.kind == "unique"]

    # ALL verdicts assemble into ONE single-row frame — the scalar rules
    # as conditional sums of one full scan, each unique/FK count as a
    # crossJoined 1-row aggregate (key-column-only scans) — then unpivot
    # through one explode. A union of per-rule selects over the shared
    # aggregate row looks equivalent but FORKS it: Spark re-plans (and
    # re-scans) the full aggregation per branch — 6 scans of the fact
    # table for 5 rules in the executed plan, vs 2 here (the wide agg +
    # the FK child keys).
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        F.sum(F.when(r.violation, 1).otherwise(0)).cast("long").alias(r.name)
        for r in scalar
    ]
    wide = df.agg(*aggs)

    extra_names: list[str] = []
    for r in uniques:
        col = r.col if r.col is not None else r.name.removesuffix("_unique")
        dup = df.groupBy(col).count().filter(F.col("count") > 1)
        wide = wide.crossJoin(
            dup.agg(
                F.coalesce(F.sum(F.col("count") - 1), F.lit(0))
                .cast("long")
                .alias(r.name)
            )
        )
        extra_names.append(r.name)

    for child_col, parent_df, parent_col in fk or []:
        # No distinct() on the parent: LEFT ANTI doesn't multiply on
        # duplicate build keys, and the dedup costs a whole extra
        # exchange + agg of the parent key column (see docstring A/B).
        parent_keys = parent_df.select(F.col(parent_col).alias(child_col))
        orphans = df.select(child_col).join(parent_keys, child_col, "left_anti")
        wide = wide.crossJoin(
            orphans.agg(F.count(F.lit(1)).cast("long").alias(f"{child_col}_fk"))
        )
        extra_names.append(f"{child_col}_fk")

    # wide[name] (not F.col(name)): rule names may contain dots (e.g.
    # "..._between_0_0.1"), which F.col would parse as a struct path.
    all_names = [r.name for r in scalar] + extra_names
    out = wide.select(
        wide["__n"].alias("n_rows"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("rule"),
                        wide[name].alias("n_violations"),
                    )
                    for name in all_names
                ]
            )
        ).alias("s"),
    ).select("s.rule", "n_rows", "s.n_violations")
    return (
        out.withColumn("passed", (F.col("n_violations") == 0).cast("int"))
        .repartition(1)
        .sortWithinPartitions("rule")
    )
