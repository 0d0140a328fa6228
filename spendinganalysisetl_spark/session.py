"""SparkSession factory.

Config rationale (SURVEY.md §4 "Config defaults for the port"):

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  sort-merge→broadcast conversion) — the scale path for 100 TB inputs.
- ``spark.sql.session.timeZone=UTC`` pinned so timestamp semantics match
  the DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for every pandas interchange (pandas_udf / mapInPandas /
  toPandas) — batch transfer instead of per-row pickling.
- ``spark.sql.shuffle.partitions`` sized to local cores; on a real
  cluster AQE's coalescePartitions makes the static value mostly a cap.
- Python workers fork from ``pyworker`` (no per-task re-read of
  ``pyspark.zip``) and get this package's parent directory on their
  ``PYTHONPATH``, so they import it whatever the JVM's cwd.
- Python workers talk to the JVM over Unix domain sockets, not loopback
  TCP, where each task waited ~40 ms for its first input batch (a
  delayed ACK). The sockets live in one owner-only (0700) directory
  under ``/tmp`` per process, removed at exit: a UDS worker skips the
  auth-secret handshake, so the directory's permissions are the guard,
  and Spark's default (``java.io.tmpdir``) can be too long for an
  ``AF_UNIX`` path.

The reference has no session concept (eager single-process pandas,
/root/reference/transformer.py throughout); this factory is the port's
single entry to configured execution.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# The directory that holds this package: Python workers import it by
# reference (UDF closures over module functions), whatever the JVM's cwd.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# PySpark names each socket ``<dir>/.<uuid4>.sock``: 43 bytes past the
# directory, and an AF_UNIX path holds at most 107.
_SOCKET_NAME_LEN = 43
_AF_UNIX_PATH_MAX = 107


@functools.cache
def _socket_dir() -> str:
    """This process's directory for the Python workers' Unix sockets:
    made 0700 by ``mkdtemp``, removed at exit."""
    path = tempfile.mkdtemp(prefix="spark-uds-", dir="/tmp")
    atexit.register(shutil.rmtree, path, True)
    if len(path) + _SOCKET_NAME_LEN > _AF_UNIX_PATH_MAX:
        raise RuntimeError(
            f"socket directory {path!r} is too long for an AF_UNIX path: "
            f"{len(path)} + {_SOCKET_NAME_LEN} > {_AF_UNIX_PATH_MAX} bytes"
        )
    return path


def _default_heap() -> str:
    """``min(24g, half of physical memory)``, in megabytes."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(24 << 10, phys // 2 >> 20)}m"


def get_spark(
    app_name: str = "spendinganalysisetl_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Local-mode only knobs (driver memory) are set defensively; on a real
    cluster the same conf is valid and the resource manager overrides
    sizing.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.python.daemon.module", "spendinganalysisetl_spark.pyworker")
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", _socket_dir())
        # Heap: 24g on a 128 GiB box, where at 8g a long 100+-query
        # session spends a measurable share of wall-clock in GC (the
        # full sf0.1 bench dropped 55.9s → 48.3s from this one change),
        # but never past half of physical memory: a heap allowed to grow
        # past the host's memory gets the JVM killed by the kernel in a
        # plan-heavy burst. Local mode puts all executor threads in the
        # driver JVM, so this is executor sizing too; a real cluster sets
        # spark.executor.memory instead.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_heap()),
        )
        # Wide-expression plans (pivot, minhash signatures) generate a lot
        # of whole-stage-codegen classes; the JVM default 240m code cache
        # fills after a few dozen distinct plans and JIT flushing then
        # de-optimizes hot loops. Size it for a resident analytics server.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        # Auto-broadcast stays at the 10 MB default: the earlier 64 MB
        # setting made Catalyst broadcast a 6M-row LINEITEM projection
        # as the build side of Q3/Q4/Q21 at the 10× bench scale (a
        # fact-table broadcast — the exact plan that dies at 100 TB;
        # caught by the sf1 bench, round 4). Dimensions are broadcast
        # via explicit F.broadcast() hints throughout, and AQE still
        # upgrades shuffle joins to broadcast from RUNTIME sizes, which
        # is the safe direction — estimates can only defer a broadcast,
        # never commit to an oversized one.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # ObjectHashAggregate (collect_list/collect_set/percentile/map
        # aggs) falls back to SORT-based aggregation once a task's hash
        # map exceeds this many keys — and the Spark default is 128,
        # so any object aggregation with more than 128 groups per task
        # silently becomes a full sort of its input stream: the exact
        # SortAggregate trap of guide §2/§5, but invisible in the plan
        # (the node still prints ObjectHashAggregate). Measured r12 on
        # the minhash shingle-digest build (collect_list over a
        # 35M-row exploded stream into 50k groups, sf1): 47 s at the
        # default vs 7.3 s cold / 2.1 s warm at 128Ki. 128Ki keys/task
        # is an executor-memory bound, not a data-scale bound: past it
        # the sort fallback still protects memory exactly as before.
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            str(128 * 1024),
        )
        # The driver-generated events.parquet stores TIMESTAMP(NANOS),
        # which Spark's parquet converter rejects natively; read nanos as
        # long and convert in catalog.load_table (exact integer ns→µs).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Stateful streaming state lives in RocksDB, not the default
        # in-heap HDFSBackedStateStore: at 100× the session-window /
        # running-distinct / interval-join topologies the per-executor
        # state exceeds heap, and RocksDB keeps it on local SSD with
        # bounded memory (the §2.9 scale answer). Changelog
        # checkpointing uploads per-batch deltas instead of full
        # SST snapshots — the restart-fast setting for long-lived
        # production streams. Batch plans ignore both keys.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
