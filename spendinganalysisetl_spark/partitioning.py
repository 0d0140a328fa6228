"""Partitioning helpers — the explicit knobs this engine turns where
Catalyst can't know better (SURVEY.md §4: everything else is left to the
optimizer on purpose).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


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


def spread_scaled(df: DataFrame, bytes_per_task: int = 8 << 20) -> DataFrame:
    """Size-adaptive ``spread``: fan out to ``ceil(size / bytes_per_task)``
    partitions, capped at the cluster's default parallelism (r11,
    optimization guide §2.5 — derive partitioning from input size, not a
    constant tuned for one scale).

    ``spread`` always fans to FULL parallelism, which is right when
    per-row compute dwarfs task overhead (shingling, hashing). For
    Arrow/pandas *partials* stages (k-means Lloyd sums, Gramian moments)
    the per-task cost is dominated by the Python-worker round-trip, so a
    small input fanned to 32 partitions pays 32 Arrow task setups per
    pass for microseconds of GEMM each. On the 800 KB sf0.1 input the
    k-means fit (8 cells, 3 passes, ``local[4]``) takes 0.87 s warm at
    1 partition vs 0.97 s at 4 (medians of 5). The 32-partition figures
    (10.7 s cold / 1.2 s warm vs 0.84 s at 1) predate the worker daemon
    (``pyworker``), which cut each Python task's setup from ~300 ms to
    ~100 ms on a 4-vCPU VM. Size comes from the optimizer's estimate for
    the (column-pruned) plan — for the parquet scans these stages read,
    that is the pruned file footprint; at 8 MB/task the fan-out reaches
    full parallelism once the input is executor-memory-sized and the
    task overhead amortizes. Estimate unavailable/zero → plain spread.

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

    Call-site contract (r11 ADVICE #2): ``df.rdd.getNumPartitions()``
    below forces a physical-planning pass (plus the Python RDD
    conversion), cheap once per query but a hidden cost in a loop —
    invoke this helper ONCE per pipeline, outside iteration loops (all
    current call sites comply). The pre-execution count is a heuristic
    that can differ from the runtime count under AQE; both reconcile
    arms are correct either way, only minimality is affected."""
    sc = df.sparkSession.sparkContext
    cap = sc.defaultParallelism
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        est = 0
    # est unavailable/zero → plain-spread sizing (full parallelism);
    # the reconcile below still applies so a defaultParallelism=1 host
    # (r11 ADVICE #3) coalesces instead of planning the forbidden
    # `Exchange SinglePartition REPARTITION_BY_NUM` node.
    n = cap if est <= 0 else max(1, min(cap, -(-est // bytes_per_task)))
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:
        # Partition count unknowable: keep the exchange form for real
        # fan-outs, but shrink-to-1 is always safe as a narrow coalesce
        # (r11 ADVICE #1 — repartition(1) here would reintroduce the
        # single-partition Exchange the presentation-boundary audit
        # forbids, silently, only on hosts where df.rdd fails).
        return df.coalesce(1) if n == 1 else df.repartition(n)
    if n > cur:
        return df.repartition(n)
    return df.coalesce(n)

