"""Physical-plan introspection (SURVEY.md §4).

This engine deliberately has no custom planner — the DataFrame API is
the logical plan and Catalyst/AQE pick physical strategies — so the
scale-design contract lives in plan PROPERTIES: filters reach the scan,
projections prune the read schema, dimension joins broadcast, nothing
falls back to CartesianProduct or row-at-a-time Python. These helpers
make those properties inspectable (and assertable — tests/test_plan_audit
pins them catalog-wide) without every caller reaching into
``_jdf.queryExecution()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """The executed (physical) plan as text — the source of truth for
    every property below. Note: BEFORE an action runs, AQE plans show
    the initial plan; shuffle coalescing and join-strategy switches
    appear only in the post-execution plan.

    An EXECUTED AdaptiveSparkPlan (isFinalPlan=true — e.g. the build
    plan of a persisted intermediate that another query already
    ran) prints BOTH a ``== Final Plan ==`` and a duplicate
    ``== Initial Plan ==`` section, so naive substring counts (scans,
    exchanges) double depending on whether a sibling query executed the
    cache first — a test-order flake, not a real extra scan. Node
    counts here mean "what executes", so the Initial Plan sections are
    stripped; unexecuted plans print no section markers and pass
    through untouched."""
    return _strip_initial_plan_sections(
        df._jdf.queryExecution().executedPlan().toString()
    )


def _strip_initial_plan_sections(plan: str) -> str:
    """Drop every ``== Initial Plan ==`` marker line plus its subtree
    (all following lines indented deeper than the marker) — the
    duplicate pre-execution print of an executed AQE plan."""
    out: list[str] = []
    skip_indent: int | None = None
    for ln in plan.splitlines(keepends=True):
        indent = len(ln) - len(ln.lstrip())
        if skip_indent is not None:
            if ln.strip() and indent > skip_indent:
                continue
            skip_indent = None
        if "== Initial Plan ==" in ln:
            skip_indent = indent
            continue
        out.append(ln)
    return "".join(out)


def pushed_filters(df: DataFrame) -> list[str]:
    """Every ``PushedFilters`` line of the scan nodes — non-empty
    entries mean the predicate reached the parquet reader (row-group
    min/max skipping), not a post-scan Filter."""
    return [
        ln.strip()
        for ln in physical_plan(df).splitlines()
        if "PushedFilters" in ln
    ]


def read_schemas(df: DataFrame) -> list[str]:
    """Every scan's ``ReadSchema`` — a scan reading columns the query
    doesn't use means column pruning failed."""
    return [
        ln.strip() for ln in physical_plan(df).splitlines() if "ReadSchema" in ln
    ]


def node_counts(df: DataFrame, *nodes: str) -> dict[str, int]:
    """Occurrence count per physical node name (e.g. ``Exchange``,
    ``BroadcastHashJoin``, ``SortMergeJoin``, ``CartesianProduct``,
    ``BatchEvalPython``)."""
    plan = physical_plan(df)
    return {n: plan.count(n) for n in nodes}


def plan_report(df: DataFrame) -> dict:
    """One-call summary of the properties the scale design cares about:

    - ``exchanges``: shuffle count (every one moves data cluster-wide)
    - ``broadcast_joins`` / ``sort_merge_joins``: join strategy mix
    - ``cartesian`` / ``python_row_udfs``: anti-patterns (should be 0;
      ``BatchEvalPython`` is the row-at-a-time Python operator —
      Arrow-batched pandas UDFs show as ``ArrowEvalPython``/
      ``MapInPandas`` instead and are not counted here)
    - ``pushed_filters`` / ``read_schemas``: scan-level pushdown
    """
    plan = physical_plan(df)
    counts = node_counts(
        df,
        "Exchange",
        "BroadcastHashJoin",
        "SortMergeJoin",
        "CartesianProduct",
        "BatchEvalPython",
    )
    # executedPlan().toString() marks codegen'd operators with the
    # "*(stageId)" prefix (the name "WholeStageCodegen" appears only in
    # explain("formatted")); distinct stage ids = codegen stage count.
    import re

    stages = {m.group(1) for m in re.finditer(r"\*\((\d+)\)", plan)}
    return {
        "exchanges": counts["Exchange"],
        "broadcast_joins": counts["BroadcastHashJoin"],
        "sort_merge_joins": counts["SortMergeJoin"],
        "cartesian": counts["CartesianProduct"],
        "python_row_udfs": counts["BatchEvalPython"],
        "codegen_stages": len(stages),
        "pushed_filters": pushed_filters(df),
        "read_schemas": read_schemas(df),
    }
