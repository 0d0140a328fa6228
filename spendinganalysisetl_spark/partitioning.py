"""Partitioning and join-strategy thresholds, and the fan-out helpers.

Every size gate reads ``catalog.size_of`` (bytes, no Spark job, 0 when
unknown → never broadcast) and compares it with one of these constants;
a test that forces a gate's other arm monkeypatches the constant here.

- ``SPREAD_BYTES_PER_TASK`` (8 MB): input bytes per task for the
  Arrow/pandas partials stages ``spread_scaled`` sizes.
- ``PARTITION_BYTES`` (128 MB): bytes per partition past which a
  repartitioned cache grows beyond its floor (``graph.pagerank``'s
  edge cache).
- ``BROADCAST_DIGESTS_MAX_BYTES`` (512 MB): the shared shingle-digest
  table broadcasts into ``dedup.minhash_lsh_pairs``' hash screen at or
  below this size.
- ``BROADCAST_CANDIDATES_MAX`` (2M rows): the MinHash candidate-id set
  broadcasts into the verify semi-joins at or below this count (a row
  count: the one gate that still runs a ``count()`` job).
- ``BROADCAST_STATE_MAX_NODES`` (2M): PageRank broadcasts its rank
  state at or below this node count.

The fact⋈fact join threshold is not repeated here: it is the session's
``spark.sql.autoBroadcastJoinThreshold``, the one Catalyst's own
auto-broadcast uses (``registry._fact_join_hint``). Everything else is
left to the optimizer on purpose (SURVEY.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from spendinganalysisetl_spark.catalog import size_of

SPREAD_BYTES_PER_TASK = 8 << 20
PARTITION_BYTES = 128 << 20
BROADCAST_DIGESTS_MAX_BYTES = 512 << 20
BROADCAST_CANDIDATES_MAX = 2_000_000
BROADCAST_STATE_MAX_NODES = 2_000_000


def spread(df: DataFrame) -> DataFrame:
    """Repartition before CPU-heavy per-row work.

    Source tables often arrive in a handful of large files (locally: one
    parquet file per table), so the scan yields few input partitions and
    per-row work (shingling, hashing, vector math) serializes on a few
    cores. An explicit round-robin repartition to the cluster's default
    parallelism costs one small shuffle of the raw rows and unlocks full
    fan-out — the same move a 1000-executor job makes when upstream file
    splits are coarse relative to per-row compute cost.

    Deliberately NOT applied to scan→filter→agg pipelines: there the
    shuffle would cost more than the scan, and partial aggregation
    already parallelizes after the exchange.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def spread_scaled(df: DataFrame) -> DataFrame:
    """Size-adaptive ``spread``: fan out to ``ceil(size_of(df) /
    SPREAD_BYTES_PER_TASK)`` partitions, capped at the cluster's default
    parallelism (optimization guide §2.5 — derive partitioning from
    input size, not a constant tuned for one scale).

    ``spread`` always fans to FULL parallelism, which is right when
    per-row compute dwarfs task overhead (shingling, hashing). For
    Arrow/pandas *partials* stages (k-means Lloyd sums, Gramian moments)
    the per-task cost is dominated by the Python-worker round-trip, so a
    small input fanned to 32 partitions pays 32 Arrow task setups per
    pass for microseconds of GEMM each. On the 800 KB sf0.1 input the
    k-means fit (8 cells, 3 passes, ``local[4]``) takes 0.87 s warm at
    1 partition vs 0.97 s at 4 (medians of 5). For the (column-pruned)
    parquet scans these stages read, the size is the pruned file
    footprint; at 8 MB/task the fan-out reaches full parallelism once
    the input is executor-memory-sized and the task overhead amortizes.
    Size unknown (0) → plain spread.

    The derived count is reconciled with the input's EXISTING partition
    count so the plan never pays an exchange it doesn't need: growing
    the fan-out → ``repartition`` (the only case that requires an
    exchange); shrinking or staying → ``coalesce`` (a narrow merge;
    the downstream Arrow stage IS the work being sized, so merging the
    cheap scan into it is the point). ``coalesce`` matters twice over
    for the derived-1 case: (a) unlike an explicit ``repartition(1)``
    it plans no ``Exchange SinglePartition, REPARTITION_BY_NUM`` — a
    node indistinguishable in the plan text from a hard-coded
    single-partition sink, which the presentation-boundary plan audit
    rightly forbids in corpus-growing cores — and (b) it still
    DECLARES ``SinglePartition`` output partitioning, so every
    downstream aggregation/join skips its own exchange (the collapsed
    tiny-scale plan ``embedding_covariance_matrix`` measures; a bare
    pass-through would resurface those exchanges because a scan's
    ``UnknownPartitioning(1)`` satisfies no required distribution).

    Only used where partition count provably cannot change results
    (exact-integer or exactly-representable partials; per-row
    projections) — see each call site's note.

    Call-site contract: ``df.rdd.getNumPartitions()`` below forces a
    physical-planning pass (plus the Python RDD conversion), cheap once
    per query but a hidden cost in a loop — invoke this helper ONCE per
    pipeline, outside iteration loops (all current call sites comply).
    The pre-execution count is a heuristic that can differ from the
    runtime count under AQE; both reconcile arms are correct either
    way, only minimality is affected."""
    cap = df.sparkSession.sparkContext.defaultParallelism
    est = size_of(df)
    # Size unknown → plain-spread sizing (full parallelism); the
    # reconcile below still applies so a defaultParallelism=1 host
    # coalesces instead of planning the forbidden
    # `Exchange SinglePartition REPARTITION_BY_NUM` node.
    n = cap if est <= 0 else max(1, min(cap, -(-est // SPREAD_BYTES_PER_TASK)))
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        # Partition count unknowable: keep the exchange form for real
        # fan-outs, but shrink-to-1 is always safe as a narrow coalesce
        # (repartition(1) here would reintroduce the single-partition
        # Exchange the presentation-boundary audit forbids, silently,
        # only on hosts where df.rdd fails).
        return df.coalesce(1) if n == 1 else df.repartition(n)
    if n > cur:
        return df.repartition(n)
    return df.coalesce(n)
