"""Every public top-level function or class of the package has a caller
outside the tests, or a ``TEST_ONLY_SURFACE`` entry that says why it
stays. Surface that only its own tests reach costs upkeep while no
catalog query, serving path or benchmark runs it.

A caller is a reference by name (a call, an attribute, an import) from
a non-test file: the package itself, ``bench.py``, ``scale_probe.py``,
``__spark_entry__.py`` or ``perfbench/``. A definition's references to
its own name do not count, and neither do the package ``__init__``
re-exports. ``@register`` query builders are reached through the
registry. Pure AST: nothing is imported.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "spendinganalysisetl_spark"

TEST_ONLY_SURFACE = {
    "operators.quality.unique_rule": (
        "feeds the unique branch of check_expectations; no catalog query "
        "declares a unique rule yet"
    ),
    "operators.sketches.count_min_counters": (
        "one line onto the catalog's Count-Min counter code; pins the "
        "counters(A ∪ B) = counters(A) + counters(B) merge law"
    ),
    "plans.plan_report": "plan-audit helper for the plan-property tests",
    "serving.serve_reports": (
        "starts the HTTP front-end of reference main.py's two endpoints"
    ),
    "sources.bloom_index.build_bloom_index": (
        "row-form reference the catalog's bitset Bloom path is checked against"
    ),
    "sources.bloom_index.candidate_buckets": (
        "row-form reference the catalog's bitset Bloom probe is checked against"
    ),
    "sources.dbsink.factory_from_env": (
        "reference loader.py: the warehouse connection from the environment"
    ),
    "sources.httpsource.fetch_records": "reference extractor.py: the HTTP extract",
    "sources.httpsource.http_json_fetcher": (
        "reference extractor.py: the HTTP GET behind fetch_records"
    ),
    "sources.httpsource.list_ids": "reference extractor.py: the id listing",
    "streaming.jobs.run_foreach_batch_to_db": (
        "the scheduled warehouse load (reference loader.py + Dagster job)"
    ),
    "streaming.jobs.run_with_processing_time": (
        "the 5-minute Dagster schedule as a processingTime trigger"
    ),
}


def _non_test_files() -> list[Path]:
    files = [p for p in PKG.rglob("*.py") if p.name != "__init__.py"]
    files += [ROOT / "bench.py", ROOT / "scale_probe.py", ROOT / "__spark_entry__.py"]
    return files + sorted((ROOT / "perfbench").rglob("*.py"))


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _is_registered(node: ast.AST) -> bool:
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "register"
        for d in getattr(node, "decorator_list", ())
    )


def _public_defs() -> dict[str, ast.AST]:
    defs = {}
    for path in sorted(PKG.rglob("*.py")):
        mod = ".".join(path.relative_to(PKG).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                defs[f"{mod}.{node.name}"] = node
    return defs


def _referenced() -> set[str]:
    refs: set[str] = set()
    for path in _non_test_files():
        for node in ast.parse(path.read_text()).body:
            names = _names(node)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.discard(node.name)
            refs |= names
    return refs


def _test_only() -> set[str]:
    refs = _referenced()
    return {
        key
        for key, node in _public_defs().items()
        if node.name not in refs and not _is_registered(node)
    }


def test_public_surface_is_reached_or_listed():
    unlisted = sorted(_test_only() - TEST_ONLY_SURFACE.keys())
    assert not unlisted, (
        f"public names no non-test file reaches: {unlisted} — call them from "
        "the product, delete them with their tests, or list them in "
        "TEST_ONLY_SURFACE with a reason"
    )


def test_test_only_entries_are_current():
    defs = _public_defs()
    gone = sorted(k for k in TEST_ONLY_SURFACE if k not in defs)
    assert not gone, f"TEST_ONLY_SURFACE names deleted code: {gone}"
    reached = sorted(TEST_ONLY_SURFACE.keys() - _test_only())
    assert not reached, f"TEST_ONLY_SURFACE entries now have a caller: {reached}"
    assert all(reason.strip() for reason in TEST_ONLY_SURFACE.values())
