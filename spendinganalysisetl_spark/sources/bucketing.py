"""Bucketed tables: pre-shuffled, co-located storage for repeated joins
(SURVEY.md §4 / 100 TB design note).

At scale the dominant cost of ``orders ⋈ lineitem``-shaped joins is the
shuffle of both fact tables on the join key — every query, every time.
Writing both sides bucketed by that key (``bucketBy(n, key)`` +
``sortBy``) pays the shuffle ONCE at write time; every later join of two
co-bucketed tables is planned as a zero-exchange sort-merge join: each
task reads bucket *i* of both sides, already hash-partitioned (and
pre-sorted) identically. The reference has no analogue (single-process,
one row per run); this is the Spark-native answer to its Snowflake-side
storage doing the heavy lifting.

Bucketed output is metastore-backed (``saveAsTable`` — bucket metadata
lives in the catalog, plain ``parquet(path)`` cannot carry it), written
as EXTERNAL tables so callers control the storage location.

Verification that the exchange disappears: tests/test_bucketing.py
asserts no ``Exchange`` node in the joined plan and value-equality with
the unbucketed join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_cols: tuple[str, ...] = (),
) -> None:
    """Write ``df`` as an external bucketed table at ``path``.

    ``n_buckets`` is the unit of join parallelism for every future
    co-bucketed join — size it to the cluster (e.g. 2-4× executor
    count), not the data: more buckets = smaller files but more tasks.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, bucket_col)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)

