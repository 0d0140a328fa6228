"""One planner mode: ``session.get_spark`` alone sets the adaptive
planner's keys, and AQE's coalescing sizes the small clustering shuffles
that no operator sizes by hand."""

from __future__ import annotations

import ast
from pathlib import Path

from conftest import spark_jobs

from spendinganalysisetl_spark import registry

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "spendinganalysisetl_spark"


def _adaptive_keys_set(path: Path) -> list[str]:
    """``spark.sql.adaptive.*`` string constants in ``path``, except the
    first argument of a ``.get`` call, which only reads the key."""
    tree = ast.parse(path.read_text())
    reads = {
        id(node.args[0])
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "get"
        and node.args
    }
    return [
        f"{path.name}:{node.lineno}: {node.value}"
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("spark.sql.adaptive.")
        and id(node) not in reads
    ]


def test_only_the_session_factory_sets_adaptive_keys():
    """A bench, probe or query that set its own ``spark.sql.adaptive.*``
    key would measure or run a planner mode the product does not."""
    files = [p for p in PKG.rglob("*.py") if p != PKG / "session.py"]
    files += [ROOT / "bench.py", ROOT / "scale_probe.py"]
    found = [hit for p in files for hit in _adaptive_keys_set(p)]
    assert found == []
    assert _adaptive_keys_set(PKG / "session.py")


def test_aqe_coalesces_the_fixture_clustering_shuffles(spark):
    """``lsh_cluster_fixture`` clusters 10 documents through a few
    connected-components rounds, with no partition count of its own. At
    8x the cores in shuffle partitions, AQE coalesces every shuffle read
    to at most the cores, so no stage runs more than the two coalesced
    inputs of a union. The rows match the session's own."""
    sc = spark.sparkContext
    cores = sc.defaultParallelism
    child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", str(8 * cores))
    assert child.conf.get("spark.sql.adaptive.enabled") == "true"
    want = sorted(registry.QUERIES["lsh_cluster_fixture"](spark, "").collect())

    with spark_jobs(spark) as jobs:
        got = sorted(registry.QUERIES["lsh_cluster_fixture"](child, "").collect())
        group = sc.getLocalProperty("spark.jobGroup.id")
        assert jobs()

    tracker = sc.statusTracker()
    ran = [
        info.numCompletedTasks
        for job in tracker.getJobIdsForGroup(group)
        for stage in tracker.getJobInfo(job).stageIds
        if (info := tracker.getStageInfo(stage)) is not None
    ]
    assert max(ran) <= 2 * cores, ran
    assert got == want
