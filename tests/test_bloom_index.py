"""Bloom skipping index (sources/bloom_index.py): one-sided guarantee
and pruning power."""

from __future__ import annotations

from spendinganalysisetl_spark.sources.bloom_index import (
    build_bloom_index,
    candidate_buckets,
)


def _base(spark):
    # 4 buckets × 50 values each, disjoint ranges: value v lives in
    # bucket v // 50 only.
    rows = [(v // 50, v) for v in range(200)]
    return spark.createDataFrame(rows, "bucket int, v bigint")


def test_candidates_contain_truth(spark):
    df = _base(spark)
    idx = build_bloom_index(df, "bucket", "v")
    probes = spark.createDataFrame([(7,), (63,), (155,)], "probe bigint")
    cand = {
        (r["probe"], r["bucket"]) for r in candidate_buckets(idx, probes).collect()
    }
    # every true (probe, bucket) pair must be a candidate
    assert {(7, 0), (63, 1), (155, 3)} <= cand


def test_absent_value_prunes_everything(spark):
    # 200 values × 4 hashes ≪ 65536 bits → false-positive rate ~1e-9;
    # an absent probe must rule out every bucket.
    df = _base(spark)
    idx = build_bloom_index(df, "bucket", "v")
    probes = spark.createDataFrame([(10**9,), (-42,)], "probe bigint")
    assert candidate_buckets(idx, probes).count() == 0


def test_one_sided_even_when_saturated(spark):
    # m=64 bits with 200 values saturates the filter — pruning power
    # collapses but containment may not.
    df = _base(spark)
    idx = build_bloom_index(df, "bucket", "v", k=4, m=64)
    probes = spark.createDataFrame([(v,) for v in (0, 49, 50, 199)], "probe bigint")
    cand = {
        (r["probe"], r["bucket"])
        for r in candidate_buckets(idx, probes, k=4, m=64).collect()
    }
    assert {(0, 0), (49, 0), (50, 1), (199, 3)} <= cand


def test_bitset_path_matches_row_path(spark):
    # the broadcast/HOF bitset probe must produce EXACTLY the row-path
    # candidate set (same filter, two physical forms)
    from spendinganalysisetl_spark.sources.bloom_index import (
        build_bloom_bitsets,
        candidate_buckets_bitset,
    )

    df = _base(spark)
    probes = spark.createDataFrame(
        [(7,), (63,), (155,), (10**9,), (-42,), (7,)], "probe bigint"
    )
    row_cand = {
        (r["probe"], r["bucket"])
        for r in candidate_buckets(build_bloom_index(df, "bucket", "v"), probes).collect()
    }
    bit_cand = {
        (r["probe"], r["bucket"])
        for r in candidate_buckets_bitset(
            build_bloom_bitsets(df, "bucket", "v"), probes
        ).collect()
    }
    assert bit_cand == row_cand
    assert {(7, 0), (63, 1), (155, 3)} <= bit_cand


def test_bitset_build_two_exchanges_probe_zero(spark):
    """Pin the r5 plan shape. Build: exactly TWO exchanges (the spread
    repartition + the per-bucket set aggregate) and NO md5-fold filter
    pushed into the source — an INNER explode regressing to
    InferFiltersFromGenerate would re-expand the positions array into a
    per-row interpreted filter at the scan (8 s of the 9.6 s draft).
    Probe: ZERO exchanges — broadcast + HOF only."""
    from spendinganalysisetl_spark.sources.bloom_index import (
        build_bloom_bitsets,
        candidate_buckets_bitset,
    )

    df = _base(spark)
    bits = build_bloom_bitsets(df, "bucket", "v")
    # executedPlan BEFORE execution = the single adaptive initial tree
    # (sparkPlan() is pre-EnsureRequirements and misses the agg exchange)
    build_plan = bits._jdf.queryExecution().executedPlan().toString()
    assert build_plan.count("Exchange") == 2, build_plan[:2000]
    # the fold must not reconstitute as a filter below the projection
    assert "Filter (size(" not in build_plan, build_plan[:2000]

    probes = spark.createDataFrame([(7,), (63,)], "probe bigint")
    cand = candidate_buckets_bitset(bits, probes)
    cand_plan = cand._jdf.queryExecution().executedPlan().toString()
    # the probe side adds ONLY its broadcast — no shuffle exchange
    assert cand_plan.count("Exchange hashpartitioning") == build_plan.count(
        "Exchange hashpartitioning"
    ), cand_plan[:2000]
    assert "BroadcastExchange" in cand_plan  # hashed probe list broadcasts


def test_duplicate_probes_keep_containment(spark):
    # A duplicated probe value must not double its (j, pos) rows and
    # trip the all-k-positions filter — containment holds regardless.
    df = _base(spark)
    idx = build_bloom_index(df, "bucket", "v")
    probes = spark.createDataFrame([(7,), (7,), (7,)], "probe bigint")
    cand = {
        (r["probe"], r["bucket"]) for r in candidate_buckets(idx, probes).collect()
    }
    assert (7, 0) in cand
