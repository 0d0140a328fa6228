"""Catalog: load the driver-generated star schema as named views.

Replaces the reference's two data sources — the REST extractor
(/root/reference/extractor.py:21-42, an N+1 HTTP fetch loop) and the
Snowflake sink (/root/reference/loader.py:7-15) — with one distributed
parquet scan per table (SURVEY.md S1/S2: the id-list + N point fetches
collapse into a single scan with pushdown).

Tables (TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Relation cache: `spark.read.parquet` resolves the file listing and
# schema (a footer read through the JVM) on EVERY call — measured
# ~85 ms per call, which dominated the floor of sub-second queries
# (each catalog query re-resolved its 1–4 input tables per execution).
# A real warehouse session resolves a table's relation metadata once
# at registration (spark.table on a catalog table, Hive metastore,
# Unity/Glue) — this dict is that catalog. DataFrames are immutable
# plans, so sharing the object across queries is safe; the testdata
# under one (session, dir) never changes within a process (the driver
# regenerates it between rounds = between processes).
_RELATIONS: dict[tuple, DataFrame] = {}


def _context_key(spark: SparkSession) -> tuple:
    sc = spark.sparkContext
    return (sc.applicationId, sc.startTime)


def session_memo(store: dict, spark: SparkSession, key: tuple, build):
    """``store[(context, *key)]``, calling ``build()`` only on a miss.

    The one lifetime rule for everything the package reuses within a
    session (relations, shared intermediates, trained weights, samples,
    child sessions):

    - The context is the SparkContext's applicationId + startTime, not
      ``id()``: a recycled CPython address after a stopped context is
      garbage-collected would serve values bound to the dead session.
    - A miss first drops the entries of other (stopped) contexts, so
      pytest fixtures that rebuild sessions don't pin dead plan objects
      for the life of the process.
    - A DataFrame is bound to the SparkSession that created it, not just
      the context: ``spark.newSession()`` shares the context but owns its
      conf and temp-view catalog, so a frame made by another session
      would run under that session's conf. It is rebuilt for the caller,
      and the blocks it pinned are released first (``release``). Any
      other value is returned as it is.
    """
    live = _context_key(spark)
    hit = store.get((live, *key))
    if hit is not None:
        if not isinstance(hit, DataFrame) or hit.sparkSession is spark:
            return hit
        release(hit)
    for k in [k for k in store if k[0] != live]:
        del store[k]
    value = store[(live, *key)] = build()
    return value


def release(df: DataFrame) -> None:
    """Drop the blocks ``df`` pinned, by the kind of frame it is.

    - Persisted: unpersisted only if this frame was persisted
      (``unpersist`` matches cached plans by result, so a never-persisted
      frame is left alone rather than uncaching someone else's identical
      plan).
    - Checkpointed: a ``LogicalRDD`` over a checkpointed RDD that no
      other frame shares, so that RDD's blocks go. A local checkpoint
      cannot be recomputed: a query still built over ``df`` fails after
      this rather than re-deriving it.
    """
    if df.is_cached:
        df.unpersist()
        return
    rdd = _checkpointed_rdd(df)
    if rdd is not None:
        rdd.unpersist(False)


def _checkpointed_rdd(df: DataFrame):
    """The checkpointed RDD ``df`` is a ``LogicalRDD`` over (every
    ``registry.shared`` entry), or None."""
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD" and plan.rdd().isCheckpointed():
        return plan.rdd()
    return None


def size_of(df: DataFrame) -> int:
    """``df``'s size in bytes, read without running a Spark job; 0 when
    unknown (every gate then declines to broadcast).

    - Checkpointed: the bytes its pinned blocks hold in memory and on
      disk. A checkpoint's plan statistics are the estimate made before
      the build, wrong by orders of magnitude either way (sf0.1:
      ``minhash_shingled_5`` 226,500 B planned against 8.5 MB of blocks).
    - Any other frame: the optimized plan's size statistic. For a
      parquet scan that is the files' bytes; for a materialized
      persisted frame, the cached bytes.
    """
    try:
        rdd = _checkpointed_rdd(df)
        if rdd is None:
            return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        infos = df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos if i.id() == rdd.id())
    except (AttributeError, Py4JError):  # no JVM plan (Spark Connect) / no stats
        return 0


def local_table(spark: SparkSession, rows, schema) -> DataFrame:
    """Literal driver-side rows as an Arrow-backed ``LocalTableScan``.

    ``createDataFrame(list, ...)`` in classic PySpark plans as
    ``Scan ExistingRDD`` — the rows live in a pickled Python RDD that a
    PYTHON WORKER STAGE re-evaluates on EVERY action over the frame
    (one Python task per slice, defaultParallelism slices), and it
    re-prices every round of an iterative query that joins such a
    frame. Measured against the same 32 rows as a LocalRelation
    (0.1 s/action): ~0.5 s/action on a quiet host, amplifying to
    5-7 s/action under load (Python task setup multiplies under
    scheduling pressure — the r9 sf0.1 bench carried ~30 s of this
    across the fixture queries). Routing the rows through pandas takes
    the Arrow conversion path, which lands them in a JVM
    ``LocalRelation`` ONCE at creation — every later action is a plain
    in-JVM scan, load-independent. Falls back to the list path if the
    Arrow conversion rejects the rows (exotic types), so behavior
    never changes, only speed."""
    import pandas as pd
    from pyspark.sql.types import StructType

    st = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], st)
    try:
        pdf = pd.DataFrame(rows, columns=[f.name for f in st.fields])
        return spark.createDataFrame(pdf, st)
    except Exception:  # pragma: no cover - exotic-type fallback
        return spark.createDataFrame(rows, st)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One parquet scan; Catalyst handles column pruning + filter pushdown.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS), which Spark has
    no native type for; with ``spark.sql.legacy.parquet.nanosAsLong`` it
    arrives as long nanoseconds and is converted here to a microsecond
    timestamp via exact integer division (``div`` — no double rounding),
    matching DuckDB's internal ns→µs timestamp handling.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        # Runtime-settable SQL conf — set here (not only in the session
        # factory) because the grading driver builds its own session;
        # outside the memo because a second SparkSession sharing the
        # context (spark.newSession) has its own conf.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def build() -> DataFrame:
        df = spark.read.parquet(table_path(sf_dir, name))
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df

    return session_memo(
        _RELATIONS, spark, (os.path.abspath(sf_dir), name), build
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view so SQL and DataFrame code can
    address the same catalog (equivalent plans either way)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
