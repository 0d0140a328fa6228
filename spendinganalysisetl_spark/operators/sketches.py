"""Mergeable-sketch analytics (Apache DataSketches via Spark 4 built-ins).

The 100 TB pattern these enable: compute per-partition (here per-day)
sketch PARTIALS once at ingest, persist them as small binary columns,
and answer any later rollup — uniques over an arbitrary date range —
by MERGING sketches (`hll_union_agg`) without ever rescanning the raw
data. An exact `count(DISTINCT ...)` over a new date range re-shuffles
the corpus every time; the sketch rollup touches only bytes
proportional to days × sketch size (~KBs).

Estimates from the DataSketches members are engine-internal (binary
format), so their registry query is rows-only; accuracy vs the exact
answers is pinned in tests/test_sketches.py (HLL lgK=12 → ~1.6%
standard error). The Count-Min sketch at the bottom of this module is
the family's oracle-backed exception: built on the portable md5 fold,
its counters and estimates are bit-reproducible in DuckDB
(`cms_heavy_hitters`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def daily_user_sketches(events: DataFrame) -> DataFrame:
    """Per-day sketch partials: an HLL sketch of the day's user ids —
    the small mergeable state a streaming ingest would persist alongside
    (or instead of) raw events for interactive rollups."""
    return events.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("users_hll"),
        F.count(F.lit(1)).alias("n_events"),
    )


def rollup_unique_users(daily: DataFrame) -> DataFrame:
    """Merge the per-day HLL partials into range-level distinct-user
    estimates: one row per ISO week plus a grand total (day sketches →
    week unions → total union; every level is a union of the SAME
    partials — nothing rescans events)."""
    weekly = (
        daily.groupBy(F.weekofyear("day").alias("week"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("users_hll")).alias(
                "est_unique_users"
            ),
            F.sum("n_events").alias("n_events"),
        )
        .select(
            F.col("week").cast("int").alias("week"),
            "est_unique_users",
            "n_events",
        )
    )
    total = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("users_hll")).alias(
            "est_unique_users"
        ),
        F.sum("n_events").alias("n_events"),
    ).select(F.lit(-1).alias("week"), "est_unique_users", "n_events")
    return (
        weekly.unionByName(total)
        .repartition(1)
        .sortWithinPartitions("week")
    )


# --- portable Count-Min sketch (the family's oracle-backed member) ----------


def count_min_counters(
    documents: DataFrame, depth: int = 4, width: int = 512
) -> DataFrame:
    """Count-Min sketch counter table ``(j, bucket, bsum)`` over the
    corpus token stream — ``depth`` independent hash rows of ``width``
    counters each.

    Unlike the DataSketches members above (engine-internal binary
    blobs, rows-only), this sketch is built from the portable md5 fold
    (functions.text.hex_fold), so it is bit-reproducible in any engine:
    counters are SUMS over deterministic hash buckets, which makes the
    whole structure order-independent and mergeable by elementwise
    addition — the property test_sketches pins (counters(A ∪ B) =
    counters(A) + counters(B)).

    Scale shape: ONE corpus tokenize collapses to the vocab-sized word
    count table first (map-side partial aggregation absorbs the Zipf
    head before any shuffle); the ``depth`` hash rows then explode the
    VOCAB table, not the corpus, and re-aggregate to ``depth × width``
    rows — kilobytes of state per 100 TB of text, the same
    partial-persist-merge pattern as the HLL/KLL rollups.
    """
    return _counters_from_word_counts(_word_counts(documents), depth, width)


def _word_counts(documents: DataFrame) -> DataFrame:
    """One corpus tokenize collapsed to the vocab-sized (token, cnt)
    table — the shared front half of both CMS entry points."""
    from spendinganalysisetl_spark.functions.text import ws_tokens
    from spendinganalysisetl_spark.partitioning import spread as _spread

    toks = _spread(documents.select("text")).select(
        F.explode(ws_tokens(F.col("text"))).alias("token")
    )
    return toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))


def _cms_bucket(width: int) -> F.Column:
    """The CMS hash: seeded md5 fold of (j, token) — defined ONCE so
    the counter build and the heavy-hitter probe can never diverge."""
    from spendinganalysisetl_spark.functions.text import hex_fold

    return (
        hex_fold(
            F.md5(F.concat_ws(":", F.col("j").cast("string"), F.col("token"))),
            1,
            7,
        )
        % width
    )


def _counters_from_word_counts(
    wc: DataFrame, depth: int, width: int
) -> DataFrame:
    rows = wc.select(
        "token",
        "cnt",
        F.explode(F.array([F.lit(j) for j in range(depth)])).alias("j"),
    )
    return (
        rows.select("j", _cms_bucket(width).alias("bucket"), "cnt")
        .groupBy("j", "bucket")
        .agg(F.sum("cnt").alias("bsum"))
    )


def count_min_heavy_hitters(
    documents: DataFrame, k: int = 20, depth: int = 4, width: int = 512
) -> DataFrame:
    """Heavy hitters with their Count-Min estimates beside the exact
    truth: ``(token, n_occurrences, cms_est)`` for the top-``k`` corpus
    tokens (exact-count desc, lexicographic tiebreak), where
    ``cms_est = min_j counters[j][h_j(token)]``.

    The one-sided CMS guarantee — ``cms_est ≥ n_occurrences`` always,
    with overestimate bounded by collision mass — is asserted per row
    in tests and visible in the output. At 100 TB the exact column is
    what you CAN'T afford to recompute per question; the counter table
    (``depth × width`` integers, mergeable across shards/days) answers
    any point query without rescanning — this query is the calibration
    report you run once at sketch-parameter-selection time.

    Plan: the word-count table is persisted at the fork (candidates +
    counters both read it; forked branches otherwise re-execute the
    corpus scan), candidates are TakeOrderedAndProject top-k, and the
    probe joins k×depth rows against the depth×width counter table —
    both broadcast-sized.
    """
    from pyspark import StorageLevel

    wc = _word_counts(documents).persist(StorageLevel.MEMORY_AND_DISK)
    counters = _counters_from_word_counts(wc, depth, width)
    head = wc.orderBy(F.col("cnt").desc(), F.col("token").asc()).limit(k)
    probes = head.select(
        "token",
        "cnt",
        F.explode(F.array([F.lit(j) for j in range(depth)])).alias("j"),
    )
    probes = probes.select(
        "token",
        "cnt",
        "j",
        _cms_bucket(width).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("token", "cnt")
        .agg(F.min("bsum").alias("cms_est"))
    )
    return (
        est.select(
            "token",
            F.col("cnt").alias("n_occurrences"),
            "cms_est",
        )
        .repartition(1)
        .sortWithinPartitions(F.col("n_occurrences").desc(), F.col("token"))
    )
