"""PageRank (operators/graph.py): integer fixed-point determinism,
float differential, and structural sanity.

The operator's whole design premise is that floor-division fixed-point
arithmetic (a) loses < 1 unit of MASS=1e12 per division — so it tracks
exact float PageRank to ~1e-9 relative — while (b) making every sum
order-independent, hence bit-reproducible across partitionings and
engines (the property the `pagerank_customer_supplier` DuckDB oracle
relies on). Both halves are pinned here.
"""

from __future__ import annotations

import numpy as np
import pytest

from spendinganalysisetl_spark.operators.graph import MASS, pagerank

N = 32  # power of two: MASS // N and the base term are exact


def _pair_set() -> set[tuple[int, int]]:
    """Deterministic irregular undirected graph on N nodes: a ring plus
    skip chords (no RNG — fixed by construction)."""
    pairs = set()
    for i in range(N):
        for j in (i + 1, i * 7 + 3, i * i + 5):
            a, b = i, j % N
            if a != b:
                pairs.add((min(a, b), max(a, b)))
    return pairs


def _edges_df(spark):
    rows = []
    for a, b in sorted(_pair_set()):
        rows.append((f"n{a:02d}", f"n{b:02d}"))
        rows.append((f"n{b:02d}", f"n{a:02d}"))
    return spark.createDataFrame(rows, ["src", "dst"])


def _float_pagerank(iterations: int = 5, damping: float = 0.85) -> dict[str, float]:
    pairs = _pair_set()
    adj: dict[int, list[int]] = {i: [] for i in range(N)}
    for a, b in pairs:
        adj[a].append(b)
        adj[b].append(a)
    r = np.full(N, 1.0 / N)
    base = (1.0 - damping) / N
    for _ in range(iterations):
        nxt = np.full(N, base)
        for v in range(N):
            share = r[v] / len(adj[v])
            for u in adj[v]:
                nxt[u] += damping * share
        r = nxt
    return {f"n{i:02d}": r[i] for i in range(N)}


def test_pagerank_matches_float_differential(spark):
    got = {
        row["node"]: row["rank_mass"]
        for row in pagerank(_edges_df(spark), iterations=5).collect()
    }
    want = _float_pagerank()
    assert set(got) == set(want)
    for node, w in want.items():
        assert got[node] / MASS == pytest.approx(w, rel=1e-6), node


def test_pagerank_conserves_mass(spark):
    ranks = [r["rank_mass"] for r in pagerank(_edges_df(spark), iterations=5).collect()]
    total = sum(ranks)
    # floor divisions only ever LOSE sub-unit remainders
    assert total <= MASS
    assert total >= int(0.9999 * MASS)


def test_pagerank_is_deterministic_across_partitionings(spark):
    df = _edges_df(spark)
    a = sorted(map(tuple, pagerank(df, iterations=3).collect()))
    b = sorted(map(tuple, pagerank(df.repartition(7), iterations=3).collect()))
    assert a == b


def test_pagerank_star_center_dominates(spark):
    leaves = [f"l{i}" for i in range(8)]
    rows = [("hub", l) for l in leaves] + [(l, "hub") for l in leaves]
    got = {
        r["node"]: r["rank_mass"]
        for r in pagerank(spark.createDataFrame(rows, ["src", "dst"]), iterations=5).collect()
    }
    assert all(got["hub"] > got[l] for l in leaves)
    # leaves are symmetric: identical ranks, and degree column is right
    assert len({got[l] for l in leaves}) == 1


def test_pagerank_rejects_dangling_nodes(spark):
    # directed graph with a sink: a->b, b has no out-edge — the integer
    # variant omits the dangling-mass term, so it must refuse loudly
    # instead of silently leaking rank mass.
    df = spark.createDataFrame([("a", "b"), ("c", "a")], ["src", "dst"])
    with pytest.raises(ValueError, match="dangling"):
        pagerank(df, iterations=2)
    # the guard is skippable when the caller guarantees the precondition
    und = spark.createDataFrame(
        [("a", "b"), ("b", "a")], ["src", "dst"]
    )
    assert pagerank(und, iterations=2, check_dangling=False).count() == 2


def test_pagerank_broadcast_state_iterations_are_shuffle_free(spark):
    """r11 plan pin (guide §2.4/§3.1): below the node-count gate the
    edge cache is dst-partitioned and BOTH node-state joins of every
    iteration broadcast, so the live plan (everything outside the
    cached subtrees) carries zero shuffle joins and zero exchanges on
    the rank-state key — the per-iteration contrib groupBy(dst) rides
    the cached dst partitioning (partial+final HashAggregate with no
    Exchange between). Guards the 2.17 s vs 3.27 s sf0.1 A/B from
    silently regressing to the planner-shaped arm."""
    from spendinganalysisetl_spark.plans import physical_plan

    df = pagerank(_edges_df(spark), iterations=5)
    plan = physical_plan(df)
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "ShuffledHashJoin" not in plan, plan[:2000]
    # 5 iterations × (edges⋈shares + nd⋈contrib), every one broadcast
    assert plan.count("BroadcastHashJoin") >= 10, plan[:2000]
    # no live exchange on the rank-state key: the only hashpartitioning
    # exchanges in the plan sit inside the cached subtrees (nd's groupBy
    # on src, the und_join repartition on dst)
    assert "hashpartitioning(node" not in plan, plan[:2000]


def test_pagerank_gate_off_arm_bit_identical(spark, monkeypatch):
    """Above the gate (forced here with the node bound at 0) the
    planner-shaped arm must produce BIT-IDENTICAL ranks — integer sums
    are order-independent, so the broadcast-state rewrite can never
    change a value, only the plan."""
    from spendinganalysisetl_spark import partitioning

    df = _edges_df(spark)
    a = sorted(map(tuple, pagerank(df, iterations=3).collect()))
    monkeypatch.setattr(partitioning, "BROADCAST_STATE_MAX_NODES", 0)
    b = sorted(map(tuple, pagerank(df, iterations=3).collect()))
    assert a == b


def test_pagerank_edge_partitions_grow_past_floor(spark, monkeypatch):
    """The edge-cache partition rule's growth arm: with the bytes per
    partition forced to 1, the cache of the broadcast-state arm
    partitions past its floor (the default parallelism), and the ranks
    stay integer-identical."""
    from spendinganalysisetl_spark import partitioning
    from spendinganalysisetl_spark.operators import graph as G

    df = _edges_df(spark)
    a = sorted(map(tuple, pagerank(df, iterations=3).collect()))
    monkeypatch.setattr(partitioning, "PARTITION_BYTES", 1)
    b = sorted(map(tuple, pagerank(df, iterations=3).collect()))
    und_join = G._LAST_CACHES["pagerank"][1][-1]
    try:
        floor = spark.sparkContext.defaultParallelism
        assert und_join.rdd.getNumPartitions() > floor
        assert a == b
    finally:
        und_join.unpersist()


def test_cache_swap_releases_only_on_graph_change(spark):
    """The r5 pin-bounding contract: repeat invocations on the SAME
    graph keep the previous call's edge cache warm (CacheManager dedups
    identical plans — releasing it would re-materialize every bench
    rep); a DIFFERENT graph releases the old pins, so at most one graph
    stays cached per operator."""
    from spendinganalysisetl_spark.operators import graph as G

    df = _edges_df(spark)
    pagerank(df, iterations=2, check_dangling=False).collect()
    und1 = G._LAST_CACHES["pagerank"][1][0]
    assert und1.storageLevel.useMemory or und1.storageLevel.useDisk

    # same graph (semantically identical plan — same frame here; in the
    # catalog path repeat `spark.read.parquet` plans compare equal too,
    # while a fresh createDataFrame is a NEW relation and would not):
    pagerank(df, iterations=2, check_dangling=False).collect()
    assert und1.storageLevel.useMemory or und1.storageLevel.useDisk

    # different graph: the old pin is released
    other = spark.createDataFrame([("a", "b"), ("b", "a")], ["src", "dst"])
    pagerank(other, iterations=2, check_dangling=False).collect()
    lvl = und1.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)


def _path_edges(spark, chain):
    rows = []
    for a, b in zip(chain, chain[1:]):
        rows += [(a, b), (b, a)]
    return spark.createDataFrame(rows, ["src", "dst"])


def test_bfs_levels_on_a_path(spark):
    from spendinganalysisetl_spark.operators.graph import bfs_levels

    edges = _path_edges(spark, ["a", "b", "c", "d", "e"])
    src = spark.createDataFrame([("a",)], "node string")
    got = {r["node"]: r["level"] for r in bfs_levels(edges, src, 4).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 3, "e": 4}
    # hop bound truncates the frontier, absent not NULL
    got2 = {r["node"]: r["level"] for r in bfs_levels(edges, src, 2).collect()}
    assert got2 == {"a": 0, "b": 1, "c": 2}


def test_bfs_levels_multi_source_takes_min(spark):
    from spendinganalysisetl_spark.operators.graph import bfs_levels

    edges = _path_edges(spark, ["a", "b", "c", "d", "e"])
    src = spark.createDataFrame([("a",), ("e",)], "node string")
    got = {r["node"]: r["level"] for r in bfs_levels(edges, src, 4).collect()}
    assert got == {"a": 0, "b": 1, "c": 2, "d": 1, "e": 0}


def test_swap_caches_skips_plan_shared_with_new_pin(spark):
    """plancache shared-plan guard (r6, ADVICE r5): when a previous
    call's cached frame is plan-identical to one of the NEW call's
    caches, the swap must NOT unpersist it — the new persist deduped
    onto the same CacheManager entry, and releasing the old handle
    would evict the new pin (the bfs_reach_report ↔ bfs_reach_deep
    alternation kept re-materializing the shared edge table)."""
    from spendinganalysisetl_spark.operators import plancache as pc

    shared_frame = spark.range(10).selectExpr("id AS src", "id + 1 AS dst")
    c1 = shared_frame.select("src", "dst").persist()
    c1.count()
    k1 = spark.createDataFrame([("a",)], "node string")
    pc.swap_caches("t_op", [c1, k1], [c1])
    # different key (fresh LocalRelation is never sameSemantics), but
    # the new cache list holds a plan-identical frame: c1 must survive
    c2 = shared_frame.select("src", "dst").persist()
    k2 = spark.createDataFrame([("b",)], "node string")
    pc.swap_caches("t_op", [c2, k2], [c2])
    lvl = c1.storageLevel
    assert lvl.useMemory or lvl.useDisk, "shared-plan cache was evicted"
    # an unrelated new input DOES release the previous pins
    c3 = spark.range(5).selectExpr("id AS src", "id AS dst").persist()
    pc.swap_caches("t_op", [c3], [c3])
    lvl = c2.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)
    c3.unpersist()
    pc._LAST_CACHES.pop("t_op", None)
