"""Bucketed co-located join: the write-once-shuffle-never join path
(sources.bucketing). Verifies BOTH properties that matter at scale:
(1) the co-bucketed join plans with zero Exchange nodes, (2) results
are value-identical to the plain shuffled join."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from spendinganalysisetl_spark.catalog import load_table
from spendinganalysisetl_spark.plans import node_counts
from spendinganalysisetl_spark.sources.bucketing import write_bucketed


@pytest.fixture(scope="module")
def bucket_dir():
    d = tempfile.mkdtemp(prefix="buckets_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_cobucketed_join_no_shuffle_and_equal(spark, sf_dir, bucket_dir):
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")

    write_bucketed(
        orders, "orders_b", f"{bucket_dir}/orders", "o_orderkey", 4,
        sort_cols=("o_orderkey",),
    )
    write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b", f"{bucket_dir}/lineitem", "o_orderkey", 4,
        sort_cols=("o_orderkey",),
    )

    # Force the sort-merge path: a broadcast join would hide the
    # exchange question entirely.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
        agg = joined.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        # The join itself must not shuffle — bucket metadata satisfies
        # the distribution requirement from storage.
        assert node_counts(joined, "Exchange") == {"Exchange": 0}, (
            "co-bucketed join should plan with zero Exchange nodes"
        )

        expected = (
            orders.join(
                lineitem, orders.o_orderkey == lineitem.l_orderkey
            )
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("l_quantity"), 2).alias("qty"),
            )
        )
        assert sorted(map(tuple, agg.collect())) == sorted(
            map(tuple, expected.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_band_index_bucketed_probe(spark, tmp_path):
    """The stored near-dup band index as a bucketed table: the batch's
    band keys probe it with NO exchange on the index side — the
    per-batch shape incremental_near_dup documents (the index paid its
    shuffle once, at write)."""
    from pyspark.sql import functions as F

    # a toy band table: (doc_id, band, band_key) — band_key the join key
    bands = spark.createDataFrame(
        [(d, b, (d * 7 + b) % 13) for d in range(200) for b in range(4)],
        "doc_id long, band int, band_key long",
    )
    write_bucketed(
        bands, "band_index", str(tmp_path / "band_index"), "band_key",
        n_buckets=4, sort_cols=("band_key",),
    )
    index = spark.table("band_index")
    probe = spark.table("band_index").filter(F.col("doc_id") % 10 == 7)
    joined = probe.alias("p").join(
        index.alias("x"),
        (F.col("p.band") == F.col("x.band"))
        & (F.col("p.band_key") == F.col("x.band_key"))
        & (F.col("p.doc_id") != F.col("x.doc_id")),
    )
    plan = joined._jdf.queryExecution().sparkPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    assert joined.count() > 0
    spark.sql("DROP TABLE IF EXISTS band_index")
