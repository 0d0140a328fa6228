"""Mergeable-sketch rollups (operators/sketches.py): estimates from
merged per-day partials must track the exact answers computed from raw
events (HLL lgK=12 ≈ 1.6% standard error)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spendinganalysisetl_spark.catalog import load_table
from spendinganalysisetl_spark.operators.sketches import (
    daily_user_sketches,
    rollup_unique_users,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF, "events")


@pytest.fixture(scope="module")
def daily(spark, events):
    return daily_user_sketches(events).persist()


def test_hll_rollup_tracks_exact_uniques(spark, events, daily):
    out = {r["week"]: r for r in rollup_unique_users(daily).collect()}
    exact_total = events.select("user_id").distinct().count()
    est_total = out[-1]["est_unique_users"]
    assert abs(est_total - exact_total) / exact_total < 0.05
    exact_weekly = {
        r["week"]: r["n"]
        for r in events.groupBy(F.weekofyear(F.to_date("ts")).alias("week"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for wk, exact in exact_weekly.items():
        assert abs(out[wk]["est_unique_users"] - exact) / exact < 0.05
    # event counts carried exactly (not estimated)
    assert out[-1]["n_events"] == events.count()


# --- portable Count-Min sketch ------------------------------------------------


@pytest.fixture(scope="module")
def cms_docs(spark):
    """Zipf-ish planted corpus: 'alpha' dominates, long tail of rare
    tokens to supply collision mass at narrow widths."""
    rows = []
    for i in range(40):
        toks = ["alpha"] * 5 + ["beta"] * 3 + ["gamma"] * 2 + [f"rare{i}_{j}" for j in range(4)]
        rows.append((i, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cms_one_sided_guarantee_all_tokens(spark, cms_docs):
    """est ≥ exact for EVERY token (not just the head) at a narrow,
    collision-rich width."""
    from spendinganalysisetl_spark.functions.text import ws_tokens
    from spendinganalysisetl_spark.operators.sketches import (
        count_min_heavy_hitters,
    )

    out = count_min_heavy_hitters(cms_docs, k=1000, depth=4, width=32).collect()
    exact = {
        r["token"]: r["cnt"]
        for r in cms_docs.select(F.explode(ws_tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert len(out) == len(exact)
    over = 0
    for r in out:
        assert r["cms_est"] >= r["n_occurrences"], r
        assert r["n_occurrences"] == exact[r["token"]]
        over += r["cms_est"] > r["n_occurrences"]
    # a 160+-token vocab in 32 buckets MUST collide somewhere
    assert over > 0


def test_cms_exact_when_width_dominates_vocab(spark, cms_docs):
    """With width ≫ vocab and depth 4 the min over rows is exact for
    every token (P[all four rows collide] ~ 0 at this size — asserted,
    not hoped: the test fails loudly if the constants ever change)."""
    from spendinganalysisetl_spark.operators.sketches import (
        count_min_heavy_hitters,
    )

    out = count_min_heavy_hitters(cms_docs, k=1000, depth=4, width=1 << 16).collect()
    for r in out:
        assert r["cms_est"] == r["n_occurrences"], r


def test_cms_counters_merge_by_addition(spark, cms_docs):
    """The 100 TB property: counters over A ∪ B equal the elementwise
    sum of counters over A and counters over B — sketch partials from
    shards/days merge without rescanning anything."""
    from spendinganalysisetl_spark.operators.sketches import count_min_counters

    a = cms_docs.filter(F.col("doc_id") < 20)
    b = cms_docs.filter(F.col("doc_id") >= 20)
    whole = {
        (r["j"], r["bucket"]): r["bsum"]
        for r in count_min_counters(cms_docs, depth=4, width=64).collect()
    }
    pa = {
        (r["j"], r["bucket"]): r["bsum"]
        for r in count_min_counters(a, depth=4, width=64).collect()
    }
    pb = {
        (r["j"], r["bucket"]): r["bsum"]
        for r in count_min_counters(b, depth=4, width=64).collect()
    }
    merged = dict(pa)
    for k_, v in pb.items():
        merged[k_] = merged.get(k_, 0) + v
    assert merged == whole


def test_cms_head_ordering_and_k(spark, cms_docs):
    from spendinganalysisetl_spark.operators.sketches import (
        count_min_heavy_hitters,
    )

    out = count_min_heavy_hitters(cms_docs, k=3, depth=4, width=512).collect()
    assert [r["token"] for r in out] == ["alpha", "beta", "gamma"]
    assert out[0]["n_occurrences"] == 200
