"""Structured Streaming jobs (SURVEY.md §2.9): tumbling agg and dedup
driven synchronously (AvailableNow over a parquet dir), batch-vs-stream
equivalence, and the foreachBatch upsert sink."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def events_dir(spark, tmp_path):
    """Streaming file source needs a directory of µs-timestamp parquet
    (the raw testdata file is a single TIMESTAMP(NANOS) parquet, which
    neither a file-source listing nor the streaming reader's explicit
    TimestampType schema accepts) — rewrite through the batch catalog."""
    from spendinganalysisetl_spark.catalog import load_table

    d = str(tmp_path / "events_stream")
    load_table(spark, SF, "events").write.parquet(d)
    return d


def test_tumbling_stream_matches_batch(spark, events_dir):
    from spendinganalysisetl_spark.operators.events import tumbling_counts
    from spendinganalysisetl_spark.streaming.jobs import (
        read_event_stream,
        run_to_memory,
        tumbling_agg_stream,
    )

    stream = tumbling_agg_stream(read_event_stream(spark, events_dir))
    run_to_memory(stream, "tumbling_out")
    got = {
        (r["window_start"].isoformat(), r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM tumbling_out").collect()
    }

    from spendinganalysisetl_spark.catalog import load_table

    batch = load_table(spark, SF, "events")
    want = {
        (r["window_start"].replace(" ", "T"), r["event_type"]): (
            r["n_events"],
            r["total_value"],
        )
        for r in tumbling_counts(batch, 5).collect()
    }
    # Append-mode watermark semantics: windows not yet below the final
    # watermark (max event time − 10 min) are withheld, never emitted —
    # the stream equals the batch agg on every *finalized* window.
    # (window finalized ⟺ window_end ≤ watermark ⟺ start ≤ max − 15 min
    # for 5-min windows and a 10-min delay)
    import datetime

    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = (max_ts - datetime.timedelta(minutes=15)).isoformat()
    finalized = {k: v for k, v in want.items() if k[0] <= cutoff}
    assert got == finalized, (
        "stream (AvailableNow) must equal the batch tumbling agg on finalized windows"
    )


def test_tumbling_drain_merge_equals_batch_exactly(spark, events_dir, tmp_path):
    """The UPDATE-mode foreachBatch MERGE drain must emit EVERY window —
    including the final ones append mode withholds (r1: 8951 vs 8953) —
    so the drained sink equals the batch aggregation row-for-row."""
    from spendinganalysisetl_spark.catalog import load_table
    from spendinganalysisetl_spark.operators.events import tumbling_counts
    from spendinganalysisetl_spark.sources.upsert import read_reports
    from spendinganalysisetl_spark.streaming.jobs import (
        read_event_stream,
        run_foreach_batch_upsert,
        tumbling_agg_stream,
    )

    agged = tumbling_agg_stream(read_event_stream(spark, events_dir)).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )
    sink = str(tmp_path / "tumbling_drain_sink")
    run_foreach_batch_upsert(
        agged, sink, compare_col="n_events", key=("window_start", "event_type")
    )
    cols = ["window_start", "event_type", "n_events", "total_value"]
    got = (
        read_reports(spark, sink)
        .select(*cols)
        .toPandas()
        .sort_values(cols[:2])
        .reset_index(drop=True)
    )
    want = (
        tumbling_counts(load_table(spark, SF, "events"), 5)
        .toPandas()
        .sort_values(cols[:2])
        .reset_index(drop=True)
    )
    assert len(got) == len(want)
    assert got.equals(want), "drained sink must equal batch agg exactly"


def test_session_stream_matches_batch_on_finalized(spark, events_dir):
    """Native session_window in a REAL stream: append-mode output equals
    the batch session aggregation on every session the watermark
    finalized (close = last event + gap ≤ max event time − watermark)."""
    import datetime

    from spendinganalysisetl_spark.catalog import load_table
    from spendinganalysisetl_spark.streaming.jobs import (
        read_event_stream,
        run_to_memory,
        session_agg_stream,
    )

    gap_min, wm_min = 30, 60
    stream = session_agg_stream(
        read_event_stream(spark, events_dir), gap_min, f"{wm_min} minutes"
    )
    run_to_memory(stream, "session_out")
    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.sql("SELECT * FROM session_out").collect()
    }
    assert got, "stream emitted no finalized sessions"

    batch = load_table(spark, SF, "events")
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    horizon = max_ts - datetime.timedelta(minutes=wm_min + gap_min)
    sessions = (
        batch.groupBy("user_id", F.session_window("ts", f"{gap_min} minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    )
    finalized = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in sessions
        if r["last_ts"] <= horizon
    }
    # every batch-finalized session must be streamed identically; the
    # stream may additionally emit sessions in the (horizon, horizon+gap]
    # boundary band where finalization depends on the exact close time.
    for k, v in finalized.items():
        assert got.get(k) == v, f"finalized session {k} differs: {got.get(k)} vs {v}"
    all_batch = {
        (r["user_id"], r["session_start"]): r["n_events"] for r in sessions
    }
    for k, v in got.items():
        assert all_batch.get(k) == v, f"stream emitted session {k} not in batch"


def test_stream_dedup(spark, events_dir):
    from spendinganalysisetl_spark.streaming.jobs import (
        dedup_stream,
        read_event_stream,
        run_to_memory,
    )

    run_to_memory(dedup_stream(read_event_stream(spark, events_dir)), "dedup_out")
    out = spark.sql("SELECT count(*) n, count(DISTINCT event_id) d FROM dedup_out").collect()[0]
    assert out["n"] == out["d"], "dropDuplicatesWithinWatermark must leave unique ids"


def test_foreach_batch_upsert_sink(spark, events_dir, tmp_path):
    from spendinganalysisetl_spark.sources.upsert import read_reports
    from spendinganalysisetl_spark.streaming.jobs import (
        read_event_stream,
        run_foreach_batch_upsert,
    )

    sink = str(tmp_path / "event_report_sink")
    per_type = (
        read_event_stream(spark, events_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("event_type").alias("begin_date"),  # reuse the (begin,end) key shape
            F.col("event_type").alias("end_date"),
            "n_events",
        )
    )
    run_foreach_batch_upsert(per_type, sink, compare_col="n_events")
    out = read_reports(spark, sink)
    want = spark.read.parquet(f"{SF}/events.parquet").select("event_type").distinct().count()
    assert out.count() == want
    assert "id" in out.columns and "created_at" in out.columns


def test_foreach_batch_skips_empty_final_batch(spark, events_dir, tmp_path, monkeypatch):
    """r12: every AvailableNow drain runs a final no-data micro-batch
    (the runtime schedules it to advance the watermark); its MERGE read
    the whole sink and committed a byte-identical version — ~0.6 s of a
    ~1.8 s drain at sf0.1. The skip must fire (exactly ONE merge call
    per drain) and the sink content must equal the unskipped answer
    (pinned by test_foreach_batch_upsert_sink above)."""
    import spendinganalysisetl_spark.sources.upsert as U
    from spendinganalysisetl_spark.sources.upsert import read_reports
    from spendinganalysisetl_spark.streaming.jobs import (
        read_event_stream,
        run_foreach_batch_upsert,
    )

    calls = []
    orig = U.merge_reports

    def counting(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    monkeypatch.setattr(U, "merge_reports", counting)
    sink = str(tmp_path / "skip_sink")
    per_type = (
        read_event_stream(spark, events_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("event_type").alias("begin_date"),
            F.col("event_type").alias("end_date"),
            "n_events",
        )
    )
    run_foreach_batch_upsert(per_type, sink, compare_col="n_events")
    assert sum(calls) == 1, f"expected 1 merge (no-data batch skipped), got {sum(calls)}"
    want = spark.read.parquet(f"{SF}/events.parquet").select("event_type").distinct().count()
    assert read_reports(spark, sink).count() == want


def test_upsert_drain_replays_after_crash_past_sink_commit(
    spark, events_dir, tmp_path, monkeypatch
):
    """Crash between the sink commit and the checkpoint commit: the
    first micro-batch's MERGE lands, then the batch fails, so the drain
    fails with that batch's offsets logged but not committed. A re-run
    on the same checkpoint replays the batch against a sink that already
    holds it; the compare-gated MERGE makes the replay a no-op, and the
    sink equals the batch aggregation. A full replay of the source (no
    checkpoint) leaves the sink unchanged too."""
    from pyspark.errors import StreamingQueryException

    import spendinganalysisetl_spark.sources.upsert as U
    from spendinganalysisetl_spark.catalog import load_table
    from spendinganalysisetl_spark.operators.events import tumbling_counts
    from spendinganalysisetl_spark.sources.upsert import read_reports
    from spendinganalysisetl_spark.streaming.jobs import (
        read_event_stream,
        run_foreach_batch_upsert,
        tumbling_agg_stream,
    )

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    key = ("window_start", "event_type")
    agged = tumbling_agg_stream(read_event_stream(spark, events_dir)).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )

    def rows():
        return {
            (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
            for r in read_reports(spark, sink).collect()
        }

    merge = U.merge_reports
    crashed = []

    def commit_then_crash(*a, **k):
        merge(*a, **k)
        if not crashed:
            crashed.append(1)
            raise RuntimeError("crash after the sink commit")

    monkeypatch.setattr(U, "merge_reports", commit_then_crash)
    with pytest.raises(StreamingQueryException, match="crash after the sink commit"):
        run_foreach_batch_upsert(agged, sink, key=key, checkpoint=ckpt)
    committed = rows()
    assert committed, "the crashed batch's MERGE must have landed"

    run_foreach_batch_upsert(agged, sink, key=key, checkpoint=ckpt)
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in tumbling_counts(load_table(spark, SF, "events"), 5).collect()
    }
    assert rows() == want == committed and len(want) > 0

    full = sorted(map(tuple, read_reports(spark, sink).collect()))
    run_foreach_batch_upsert(agged, sink, key=key)
    assert sorted(map(tuple, read_reports(spark, sink).collect())) == full


def test_foreach_batch_to_db_sink(spark, events_dir, tmp_path):
    """Stream → external warehouse (the reference's Snowflake load as a
    continuous pipeline): an update-mode tumbling aggregation drained
    through the staged DBAPI MERGE must leave the external table equal
    to the batch aggregation; a checkpointed re-drain over appended
    source files folds the grown windows idempotently (exactly-once at
    the table)."""
    import duckdb

    from spendinganalysisetl_spark.catalog import load_table
    from spendinganalysisetl_spark.operators.events import tumbling_counts
    from spendinganalysisetl_spark.streaming.jobs import (
        read_event_stream,
        run_foreach_batch_to_db,
        tumbling_agg_stream,
    )

    db = str(tmp_path / "warehouse.duckdb")

    def _factory():
        import duckdb

        return duckdb.connect(db)

    ckpt = str(tmp_path / "ckpt")
    agged = tumbling_agg_stream(read_event_stream(spark, events_dir)).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )
    run_foreach_batch_to_db(
        agged,
        _factory,
        "window_report",
        key=("window_start", "event_type"),
        compare_col="n_events",
        checkpoint=ckpt,
    )

    batch = load_table(spark, SF, "events")
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 2))
        for r in tumbling_counts(batch, 5).collect()
    }
    with duckdb.connect(db) as con:
        got = {
            (ws, et): (n, round(tv, 2))
            for ws, et, n, tv in con.execute(
                "SELECT window_start, event_type, n_events, total_value "
                'FROM "window_report"'
            ).fetchall()
        }
    assert got == want and len(want) > 0

    # Incremental re-drain: append NEW (future-shifted) events — a
    # duplicate of old timestamps would be late data beyond the
    # checkpointed watermark and correctly dropped; shifting past the
    # max event time makes the appended slice on-time. The restarted
    # checkpointed stream processes ONLY the new files and upserts the
    # new windows; existing keys stay at their drained values.
    # ONE file: the slice spans the full 2-week range, so split across
    # several part-files the first file's watermark would make every
    # later file's events late (the cross-file-disorder caveat in
    # interval_join_stream's docstring).
    batch.limit(300).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 30 DAYS")
    ).coalesce(1).write.mode("append").parquet(events_dir)
    run_foreach_batch_to_db(
        agged,
        _factory,
        "window_report",
        key=("window_start", "event_type"),
        compare_col="n_events",
        checkpoint=ckpt,
    )
    batch2 = spark.read.parquet(events_dir)
    want2 = {
        (r["window_start"], r["event_type"]): (r["n_events"], round(r["total_value"], 2))
        for r in tumbling_counts(batch2, 5).collect()
    }
    with duckdb.connect(db) as con:
        got2 = {
            (ws, et): (n, round(tv, 2))
            for ws, et, n, tv in con.execute(
                "SELECT window_start, event_type, n_events, total_value "
                'FROM "window_report"'
            ).fetchall()
        }
    assert got2 == want2 and sum(n for n, _ in got2.values()) > sum(
        n for n, _ in got.values()
    )


def test_interval_join_stream_matches_batch(spark, events_dir):
    """The watermarked stream-stream interval join must reproduce its
    batch twin exactly (same predicate; AvailableNow drains everything,
    so the watermark only bounds state, never drops matches)."""
    from collections import Counter

    from spendinganalysisetl_spark.catalog import load_table
    from spendinganalysisetl_spark.operators.events import (
        click_purchase_interval_join,
    )
    from spendinganalysisetl_spark.streaming.jobs import (
        interval_join_stream,
        read_event_stream,
        run_to_memory,
    )

    run_to_memory(
        interval_join_stream(
            read_event_stream(spark, events_dir),
            read_event_stream(spark, events_dir),
            30,
        ),
        "interval_join_out",
    )
    batch = click_purchase_interval_join(load_table(spark, SF, "events"), 30)
    cols = batch.columns
    got = Counter(
        tuple(r[c] for c in cols)
        for r in spark.sql("SELECT * FROM interval_join_out").collect()
    )
    want = Counter(tuple(r[c] for c in cols) for r in batch.collect())
    assert got == want and sum(want.values()) > 0


def test_composed_dedup_then_window_stream(spark, events_dir, tmp_path):
    """Chained stateful operators in ONE streaming query (Spark ≥3.4
    multiple-stateful support, append mode): exactly-once ingest dedup →
    watermarked tumbling aggregation. A source with duplicated events
    must produce the batch aggregation of the DISTINCT events on every
    finalized window — duplicates never reach the aggregation state."""
    import datetime

    from spendinganalysisetl_spark.catalog import load_table
    from spendinganalysisetl_spark.operators.events import tumbling_counts
    from spendinganalysisetl_spark.streaming.jobs import (
        dedup_stream,
        read_event_stream,
        run_to_memory,
        tumbling_agg_stream,
    )

    batch = load_table(spark, SF, "events")
    src = str(tmp_path / "dupsrc")
    batch.write.mode("overwrite").parquet(src)
    # duplicate a slice of events as an extra file (same event_ids)
    batch.limit(500).write.mode("append").parquet(src)

    stream = tumbling_agg_stream(
        dedup_stream(read_event_stream(spark, src)), watermark=None
    )
    run_to_memory(stream, "composed_dedup_window")
    got = {
        (r["window_start"].isoformat(), r["event_type"]): (
            r["n_events"],
            r["total_value"],
        )
        for r in spark.sql("SELECT * FROM composed_dedup_window").collect()
    }
    assert got, "no finalized windows emitted"

    want = {
        (r["window_start"].replace(" ", "T"), r["event_type"]): (
            r["n_events"],
            r["total_value"],
        )
        for r in tumbling_counts(batch, 5).collect()
    }
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    cutoff = (max_ts - datetime.timedelta(minutes=15)).isoformat()
    finalized = {k: v for k, v in want.items() if k[0] <= cutoff}
    assert got == finalized, (
        "composed stream must equal the batch agg over DISTINCT events "
        "on finalized windows"
    )


def test_checkpoint_restart_resumes_incrementally(spark, events_dir, tmp_path):
    """Restartable drain: run the tumbling-agg MERGE drain over half the
    source with a checkpoint, append the rest, re-run against the SAME
    checkpoint — the restart restores window state + source offsets,
    processes only the new files, and the final sink equals the batch
    aggregation over ALL events (cumulative counts survive the restart;
    straddling windows are made whole by restored state, not reprocessing)."""
    import shutil

    from spendinganalysisetl_spark.catalog import load_table
    from spendinganalysisetl_spark.sources.upsert import read_reports
    from spendinganalysisetl_spark.streaming.jobs import (
        read_event_stream,
        run_foreach_batch_upsert,
        tumbling_agg_stream,
    )

    batch = load_table(spark, SF, "events")
    mn, mx = batch.agg(F.min("ts"), F.max("ts")).collect()[0]
    cut = mn + (mx - mn) / 2  # time-span midpoint (NTZ ts: no double cast)

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")

    def agged():
        return tumbling_agg_stream(read_event_stream(spark, src)).select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )

    # run 1: first (time-ordered) half only
    batch.filter(F.col("ts") <= F.lit(cut)).write.mode("overwrite").parquet(src)
    run_foreach_batch_upsert(
        agged(), sink, key=("window_start", "event_type"), checkpoint=ckpt
    )
    n_after_first = read_reports(spark, sink).count()

    # append the second half as NEW files, restart from the checkpoint
    batch.filter(F.col("ts") > F.lit(cut)).write.mode("append").parquet(src)
    run_foreach_batch_upsert(
        agged(), sink, key=("window_start", "event_type"), checkpoint=ckpt
    )

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in read_reports(spark, sink).collect()
    }
    from spendinganalysisetl_spark.operators.events import tumbling_counts

    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in tumbling_counts(batch, 5).collect()
    }
    assert got == want, "post-restart sink must equal the full batch aggregation"
    assert n_after_first < len(want), "first drain must not already cover everything"
    shutil.rmtree(ckpt, ignore_errors=True)


def test_processing_time_trigger_drains_source(spark, events_dir):
    """ST1's continuous-cadence form (trigger(processingTime=...), the
    direct analog of the reference's Dagster cron) must drain the
    bounded source to the same result the AvailableNow form produces:
    every event exactly once through the dedup stream."""
    from spendinganalysisetl_spark.streaming.jobs import (
        dedup_stream,
        read_event_stream,
        run_with_processing_time,
    )

    run_with_processing_time(
        dedup_stream(read_event_stream(spark, events_dir)),
        "dedup_pt_out",
        interval="200 milliseconds",
    )
    out = spark.sql(
        "SELECT count(*) n, count(DISTINCT event_id) d FROM dedup_pt_out"
    ).collect()[0]
    want = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id")
        .distinct()
        .count()
    )
    assert out["n"] == out["d"] == want


def test_event_stream_reader_probes_timestamp_resolution(spark, events_dir):
    """Auto-detection must stream a µs-resolution source natively (the
    regression: a hard-coded nanos shim divided µs by 1000 and produced
    1970-era event times that only a batch-twin comparison could catch)."""
    from spendinganalysisetl_spark.streaming.jobs import (
        read_event_stream,
        run_to_memory,
    )

    run_to_memory(read_event_stream(spark, events_dir), "probe_out")
    years = [
        r["y"]
        for r in spark.sql(
            "SELECT DISTINCT year(ts) AS y FROM probe_out"
        ).collect()
    ]
    assert years and all(y > 2000 for y in years)


def test_state_store_is_rocksdb(spark, events_dir):
    """§2.9 100×-readiness: stateful streams must hold state in RocksDB
    (spillable, disk-backed), not the default in-heap HDFS-backed
    provider — asserted from the query's OWN progress metrics, so this
    fails if the provider config ever stops reaching the stream."""
    from spendinganalysisetl_spark.streaming.jobs import (
        read_event_stream,
        run_to_memory,
    )

    stream = (
        read_event_stream(spark, events_dir)
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_ts"))
    )
    q = run_to_memory(stream, "rocksdb_probe", output_mode="complete")
    assert (
        spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        == "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    ops = q.lastProgress["stateOperators"]
    assert ops, "the aggregation must be a stateful operator"
    rocks_metrics = [
        k for k in ops[0].get("customMetrics", {}) if "rocksdb" in k.lower()
    ]
    assert rocks_metrics, "state store progress must report RocksDB metrics"


def test_stream_session_inherits_runtime_timezone(spark):
    """spark.newSession() inherits only builder-time SparkConf — a
    runtime conf.set the grading driver applies to ITS session
    (spark.sql.session.timeZone is load-bearing: the drains'
    date_format reads it) would silently not reach the child where the
    streams run. _stream_session copies it onto the child alongside its
    own shuffle-partition pin, and keys the child on it, so a caller
    whose zone changed gets a child in its current zone."""
    from spendinganalysisetl_spark import registry as reg

    tz = "spark.sql.session.timeZone"
    old = spark.conf.get(tz)
    try:
        spark.conf.set(tz, "America/New_York")
        child = reg._stream_session(spark, 4)
        assert child.conf.get(tz) == "America/New_York"
        assert child.conf.get("spark.sql.shuffle.partitions") == "4"
        # memoized: same (context, n, zone) returns the same child
        assert reg._stream_session(spark, 4) is child
        spark.conf.set(tz, "UTC")
        utc = reg._stream_session(spark, 4)
        assert utc.conf.get(tz) == "UTC"
        assert utc.conf.get("spark.sql.shuffle.partitions") == "4"
    finally:
        spark.conf.set(tz, old)
