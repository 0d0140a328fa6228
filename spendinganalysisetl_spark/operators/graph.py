"""Graph analytics: PageRank over an edge table.

Joins `operators.dedup.connected_components` in the graph family (the
reference has no graph operators at all — SURVEY.md §2.3 notes nothing
beyond key-probe joins; these are north-star pipeline machinery for
entity/link analysis over warehouse facts).

Determinism contract: PageRank here runs in FIXED-POINT INTEGER
arithmetic — total rank mass is ``MASS = 10**12`` integer units, every
per-edge share and damping step is integer (floor) division, and every
aggregate is a sum of BIGINTs. Integer sums are order-independent, so
unlike a float implementation the result is bit-identical across
partitionings, retries, and engines: the DuckDB oracle
(`pagerank_customer_supplier`) reproduces every rank unit exactly with
five unrolled CTE iterations. The truncation this trades away is < 1
unit per division — relative error ~1e-12 against exact rational
PageRank, pinned by the float differential in tests/test_graph.py.

Scale shape: one iteration = one equi-join (edges ⋈ ranks on src,
shares precomputed per node so the division runs once per node, not
once per edge) plus one shuffle sum on dst — the textbook distributed
PageRank step. Edge and degree tables are cached (probed every round);
the bounded iterations stay one lazy DAG (see the in-function note; for
data-dependent iteration counts, checkpoint periodically instead). Rank
state is 16 bytes per node; the edge table never re-shuffles after the
first round under a stable partitioning. When the exact node count says
the rank state is broadcastable (at most
``partitioning.BROADCAST_STATE_MAX_NODES``), the edge cache is
hash-partitioned by dst and both node-state joins broadcast, making
every iteration shuffle-free; above the gate the edge
cache is hash-partitioned by src at the shuffle-partition count so the
edges⋈shares join is co-partitioned on both sides, and each iteration's
only live exchange is the narrow (dst, share) aggregation (join
strategy stays the planner's — see ``pagerank``'s in-function notes).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spendinganalysisetl_spark import partitioning as P
from spendinganalysisetl_spark.catalog import size_of

MASS = 10**12  # total integer rank mass

# Caches are pinned by the LAST call of each lazy-returning operator
# via operators.plancache (the generic swap registry — see that
# module's docstring for the full release/dedup contract), keyed on
# the edge frame AND, for BFS, the source frame — keying on edges
# alone orphaned the source-specific frontier caches of a seeds loop.
# The returned plans reference the cached tables, so an in-function
# unpersist would defeat the cache before the caller executes; an
# eager checkpoint instead measured 2.5× slower (it materializes the
# full rank state outside the final-stage path).
# Known sharing caveat (accepted, perf-only and self-healing): the
# canonical `edges.select("src","dst")` plan is ONE CacheManager entry
# shared across operators, so pagerank switching graphs also evicts a
# bfs_levels pin on the same edges — the next call simply re-pins and
# re-materializes.
from spendinganalysisetl_spark.operators.plancache import (
    _LAST_CACHES,
    swap_caches as _swap_caches,
)


def _edges_degrees(
    edges: DataFrame, check_dangling: bool
) -> tuple[DataFrame, DataFrame, int]:
    """PageRank setup: cache the edge table, derive the
    (node, deg) table, count nodes, and ENFORCE the no-dangling-node
    precondition (a dst with no out-edges receives mass but
    redistributes none — silently wrong on a directed sink-bearing
    graph). Raises with caches released on empty/dangling input."""
    und = edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    nd = (
        und.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    n = nd.count()  # one scalar job; the base term must be a plan literal
    if n == 0:
        und.unpersist()
        nd.unpersist()
        raise ValueError("pagerank: edge frame is empty (no nodes to rank)")
    if check_dangling:
        n_dangling = (
            und.select(F.col("dst").alias("node"))
            .distinct()
            .join(nd, "node", "left_anti")
            .count()
        )
        if n_dangling:
            und.unpersist()
            nd.unpersist()
            raise ValueError(
                f"pagerank: {n_dangling} dangling node(s) (in-edges but no "
                "out-edges) — this integer variant omits the dangling-mass "
                "term; add self-loops / reverse edges, or drop the sinks"
            )
    return und, nd, n


def _edge_partitions(und: DataFrame, floor: int) -> int:
    """Partition count for a re-partitioned edge cache: ``floor``, grown
    past it only when the edge cache's bytes ask for partitions over
    ``PARTITION_BYTES`` (guide §2.2 — fewer, larger partitions, never
    fewer than the floor)."""
    return max(floor, -(-size_of(und) // P.PARTITION_BYTES))


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    check_dangling: bool = True,
) -> DataFrame:
    """Fixed-iteration integer PageRank.

    ``edges`` is a DIRECTED edge table ``(src, dst)`` — pass both
    directions for an undirected graph. Every node must have at least
    one out-edge (true by construction for undirected graphs; dangling
    nodes would need a mass-redistribution term this deterministic
    variant deliberately omits) — ENFORCED: a dst with no out-edges
    raises ``ValueError`` rather than silently leaking rank mass
    (``check_dangling=False`` skips the one extra job when the caller
    guarantees the precondition, e.g. ``cotransaction_edges_from_pairs``).
    Multi-edges count as parallel edges (dedup upstream if unwanted).

    Update rule, all in integer units (``r`` starts at ``MASS // n``):

        share(v)   = r(v) div out_deg(v)
        contrib(u) = sum over in-edges (w -> u) of share(w)
        r'(u)      = base + (damping_pct * contrib(u)) div 100
        base       = ((MASS div n) * (100 - damping_pct)) div 100

    Returns ``(node, degree, rank_mass)`` — ``rank_mass`` is the final
    BIGINT rank in MASS units (divide by ``MASS`` for the probability).
    """
    # (node, deg) is carried WITH the rank state — one table instead of
    # separate nodes/deg lookups, which would cost an extra join every
    # iteration.
    und, nd, n = _edges_degrees(edges, check_dangling)
    # Broadcast-state arm (r11, guide §2.4/§3.1): when the NODE COUNT —
    # exact, already computed for the base term — says the rank state is
    # broadcastable (~≤2M rows → tens of MB built relation, far under
    # the 8 GB / 512M-row broadcast cap), re-cache the edges partitioned
    # by dst and broadcast both node-state sides of each iteration:
    # edges ⋈ broadcast(shares) preserves the dst partitioning, so the
    # contrib groupBy(dst) needs NO exchange, and nd ⋈ broadcast(contrib)
    # none either — ZERO shuffle exchanges per iteration vs two SMJ
    # exchanges + an agg exchange in the planner-picked shape (measured
    # 2.90 s vs 5.58 s interleaved at sf0.1, rows bit-identical: integer
    # sums are order-independent). Above the gate, the r12 arm below
    # keeps billion-node state un-collected but still deletes the
    # per-iteration edge exchange and both sorts (see the else-branch
    # note).
    small_state = n <= P.BROADCAST_STATE_MAX_NODES  # n >= 1 here
    caches = [und, nd]
    if small_state:
        # Floor: the cluster's parallelism, so the per-iteration probe
        # stays fully parallel.
        floor = und.sparkSession.sparkContext.defaultParallelism
        und_join = und.repartition(_edge_partitions(und, floor), "dst").persist(
            StorageLevel.MEMORY_AND_DISK
        )
    else:
        # ABOVE-gate arm (r12, VERDICT r11 ask #6 — guide §2.4 exchange
        # reuse): the planner-shaped loop paid two SortMergeJoin
        # EXCHANGES plus the aggregation exchange per iteration.
        # Re-cache the edges hash-partitioned by src at the SHUFFLE
        # partition count: the edges⋈shares join is then co-partitioned
        # on both sides (the rank state flows out of node-keyed shuffle
        # operators at the same count, and aliasing node→src preserves
        # the partitioning through the projection), so each iteration's
        # only live exchange is the narrow (dst, share) aggregation —
        # the edge cache never moves after its build. Join STRATEGY is
        # deliberately left to the planner: forcing SHUFFLE_HASH here
        # measured 25–28 s vs 5.1–8.4 s for the co-partitioned SMJ on a
        # 4M-node / 8M-edge graph (per-task hash-relation builds of the
        # full state slice every iteration are pure allocation churn
        # next to SMJ's streaming sort of already-clustered partitions)
        # — the r10 "hints outrank better choices" lesson again.
        # Same-session A/B, 5 iterations, warm caches:
        # planner-unpartitioned 10.2 s / co-partitioned 5.1 s.
        # Floor: the session's shuffle-partition count, NOT
        # defaultParallelism — the rank state flows out of shuffle
        # operators partitioned hashpartitioning(node,
        # spark.sql.shuffle.partitions), and the edges⋈shares join is
        # exchange-free only when the cached edge side declares the
        # SAME count. Past 128 MB partitions the shares side pays its
        # (narrow) exchange back, the right trade (guide §2.2).
        floor = int(und.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        und_join = und.repartition(_edge_partitions(und, floor), "src").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        # Materialize NOW (one pass over the edges — the first
        # iteration needed it anyway, amortized over every iteration):
        # under AQE an UNMATERIALIZED cached plan reports unknown
        # output partitioning, so the co-partition reuse below would
        # plan a per-iteration src exchange anyway — exactly the node
        # this arm exists to delete. pagerank already runs
        # construction-time jobs (the exact node count); this adds one
        # more to the same phase.
        und_join.count()
    caches.append(und_join)
    base = ((MASS // n) * (100 - damping_pct)) // 100
    ranks = nd.withColumn("r", F.lit(MASS // n).cast("long"))
    for _ in range(iterations):
        shares = ranks.select(
            F.col("node").alias("src"), F.expr("r div deg").alias("share")
        )
        if small_state:
            shares = F.broadcast(shares)
        contrib = (
            und_join.join(shares, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("m"))
        )
        if small_state:
            contrib = F.broadcast(contrib)
        ranks = nd.join(contrib, "node", "left").select(
            "node",
            "deg",
            (
                F.lit(base) + F.expr(f"({damping_pct} * coalesce(m, 0L)) div 100")
            ).alias("r"),
        )
    # The bounded iterations stay ONE lazy plan — no per-iteration
    # materialization: the edge and degree tables are cached (probed
    # every round), AQE sizes each shares join (the graph-sized rank
    # state broadcasts while it fits; at billions of nodes it degrades
    # to a hash join on src, the correct plan there too), and the whole
    # DAG executes as a single job — measured 13 s → ~1.5 s at sf0.1 vs
    # the localCheckpoint-per-round draft (11 jobs of driver/stage
    # overhead on a graph-sized state table). For LARGE or
    # data-dependent iteration counts, checkpoint every ~10 rounds to
    # bound lineage instead (the connected_components pattern).
    # The caches stay pinned until the NEXT pagerank call (the returned
    # lazy plan reads them when the caller executes) — see _swap_caches.
    _swap_caches("pagerank", [und], caches)
    return ranks.select(
        "node", F.col("deg").alias("degree"), F.col("r").alias("rank_mass")
    )


def cotransaction_pairs(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """THE distinct (custkey, suppkey) collapse: the customers and
    suppliers that share an order, one row per pair. One shuffle on the
    pair; the registry caches it once per session for its graph and
    similarity consumers."""
    return (
        orders.join(
            lineitem,
            orders["o_orderkey"] == lineitem["l_orderkey"],
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .distinct()
    )


def cotransaction_edges_from_pairs(
    pairs: DataFrame, cust_col: str = "custkey", supp_col: str = "suppkey"
) -> DataFrame:
    """Undirected customer–supplier bipartite graph from a PRECOMPUTED
    distinct (customer, supplier) pair frame (:func:`cotransaction_pairs`):
    an edge per pair, node ids typed as ``c<custkey>`` / ``s<suppkey>``,
    emitted in both directions (PageRank's undirected convention). The
    pair collapse is the expensive part (a fact–fact join + distinct
    shuffle); pagerank, both BFS reach queries, and the item-Jaccard
    similarity all consume the identical collapse, so the registry
    caches it once per (session, sf) and each consumer pays only this
    projection."""
    p = pairs.select(
        F.concat(F.lit("c"), F.col(cust_col).cast("string")).alias("a"),
        F.concat(F.lit("s"), F.col(supp_col).cast("string")).alias("b"),
    )
    return p.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        p.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


def bfs_levels(
    edges: DataFrame, sources: DataFrame, max_hops: int = 4
) -> DataFrame:
    """Bounded breadth-first search: minimum hop count from any source
    node, up to ``max_hops`` — the ego-network / reach primitive
    (PageRank answers "how central", this answers "how far").

    ``edges`` is directed ``(src, dst)`` (both directions for
    undirected); ``sources`` is a one-column ``(node)`` frame. Returns
    ``(node, level)`` for every node within ``max_hops`` — level 0 =
    the sources themselves. Unreached nodes are absent, not NULL.

    FRONTIER form: each hop joins the edges against only the nodes
    DISCOVERED LAST HOP (never the whole level table — a full
    min-propagation rejoin measured 9 s at sf0.1 where this runs ~1 s:
    the frontier is small on the way out and empty once the ego
    network saturates, so the per-hop join is frontier-sized while the
    cached edge table never re-shuffles). New nodes = hop candidates
    anti-joined against everything already levelled; first discovery ≡
    minimum hop, so results equal min-propagation — which is exactly
    what the `bfs_reach_report` oracle unrolls as CTEs. Levels are
    small integers (no sums), trivially deterministic; the hop bound
    keeps the whole search ONE lazy DAG (checkpoint per round only for
    unbounded searches)."""
    und = edges.select("src", "dst").persist(StorageLevel.MEMORY_AND_DISK)
    # Each hop's frontier is MATERIALIZED: the level table is a UNION of
    # per-hop frames each referenced twice downstream (next hop's join
    # and every later anti-join), so a fully lazy chain re-evaluates
    # earlier hops 2^h times. persist + count instead of the r4
    # localCheckpoint + isEmpty: the count IS the materializing action
    # AND the saturation check — one job per hop instead of two.
    # MEASURED DEAD END (r6, don't retry): chaining TWO hops per
    # materialization round to halve the action count made the search
    # 1.6–4× SLOWER at sf0.1 (4.3–11.9 s vs 2.7 s; 41–69 AQE jobs vs
    # ~15) — the deeper per-round plan (hop h's expand feeding hop
    # h+1's expand plus two anti-joins) adds more AQE exchange-jobs
    # than the saved driver actions, and persisting the intermediate
    # frontier doesn't win it back. The per-hop floor is exchange
    # count, not action count; the shallow one-hop plan is the fast
    # shape.
    caches: list[DataFrame] = []
    frontier = (
        sources.select(F.col("node"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    caches.append(frontier)
    frontier.count()
    hops = [frontier.withColumn("level", F.lit(0).cast("int"))]
    seen = frontier
    for hop in range(1, max_hops + 1):
        cand = (
            und.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        frontier = cand.join(seen, "node", "left_anti").persist(
            StorageLevel.MEMORY_AND_DISK
        )
        caches.append(frontier)
        if frontier.count() == 0:  # ego network saturated — no more hops
            break
        seen = seen.union(frontier)
        hops.append(frontier.withColumn("level", F.lit(hop).cast("int")))
    out = hops[0]
    for h in hops[1:]:
        out = out.union(h)
    # The frontier caches are already materialized (counted), so the
    # returned union reads InMemoryTableScans; they and the edge cache
    # stay pinned until the NEXT bfs_levels call on different inputs —
    # the key includes the SOURCES frame, so a seeds loop over one
    # graph releases each seed's frontier caches instead of orphaning
    # them (see _swap_caches).
    _swap_caches("bfs_levels", [und, sources], [und, *caches])
    return out
