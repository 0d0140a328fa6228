"""S5-S7 conditional upsert over parquet (SURVEY.md §2.1): insert leg,
conditional-update leg, no-op leg, idempotence, and the per-row uuid fix
for the reference's process-constant-uuid bug (S5)."""

from __future__ import annotations

import pytest

from spendinganalysisetl_spark.sources.upsert import merge_reports, read_reports, write_reports

SCHEMA = "begin_date string, end_date string, total_transactions long, total_spent double"


def _batch(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def sink(tmp_path):
    return str(tmp_path / "file_details")


def test_initial_write_and_per_row_uuid(spark, sink):
    write_reports(
        _batch(spark, [("2024-01-01", "2024-01-31", 10, 100.0),
                       ("2024-02-01", "2024-02-29", 20, 200.0)]),
        sink,
        mode="overwrite",
    )
    out = read_reports(spark, sink).collect()
    assert len(out) == 2
    ids = {r["id"] for r in out}
    assert len(ids) == 2, "uuids must be per-row (reference bug S5: one uuid per process)"


def test_merge_update_insert_noop(spark, sink):
    write_reports(
        _batch(spark, [("2024-01-01", "2024-01-31", 10, 100.0)]), sink, mode="overwrite"
    )
    old_id = read_reports(spark, sink).collect()[0]["id"]

    # one winner (greater count), one loser (equal), one new key
    merge_reports(
        spark,
        sink,
        _batch(
            spark,
            [
                ("2024-01-01", "2024-01-31", 15, 150.0),  # update: 15 > 10
                ("2024-02-01", "2024-02-29", 5, 50.0),    # insert: new key
            ],
        ),
    )
    rows = {(r["begin_date"], r["end_date"]): r for r in read_reports(spark, sink).collect()}
    assert len(rows) == 2
    jan = rows[("2024-01-01", "2024-01-31")]
    assert jan["total_transactions"] == 15, "greater count must update (transformer.py:60)"
    assert jan["id"] == old_id, "update keeps the stable PK"

    # equal count → no-op (transformer.py:64-65)
    merge_reports(
        spark, sink, _batch(spark, [("2024-01-01", "2024-01-31", 15, 999.0)])
    )
    jan2 = {
        (r["begin_date"], r["end_date"]): r for r in read_reports(spark, sink).collect()
    }[("2024-01-01", "2024-01-31")]
    assert jan2["total_spent"] == 150.0, "equal count must not update"


def test_merge_idempotent(spark, sink):
    batch = _batch(spark, [("2024-01-01", "2024-01-31", 10, 100.0)])
    write_reports(batch, sink, mode="overwrite")
    for _ in range(2):
        merge_reports(spark, sink, batch)
        assert read_reports(spark, sink).count() == 1


def test_versioned_commit_always_resolvable(spark, sink):
    """The pointer-flip commit: after every merge the sink has a
    _CURRENT pointer naming an existing version dir, the previous
    version is retained one generation (in-flight readers), and older
    generations are GC'd."""
    import os

    write_reports(
        _batch(spark, [("2024-01-01", "2024-01-31", 10, 100.0)]), sink, mode="overwrite"
    )
    seen_versions = []
    for n in (15, 20, 25):
        merge_reports(
            spark, sink, _batch(spark, [("2024-01-01", "2024-01-31", n, float(n))])
        )
        with open(os.path.join(sink, "_CURRENT")) as fh:
            current = fh.read().strip()
        assert os.path.isdir(os.path.join(sink, current))
        seen_versions.append(current)
        live = sorted(d for d in os.listdir(sink) if d.startswith("v_"))
        assert current in live and len(live) <= 2
    assert read_reports(spark, sink).collect()[0]["total_transactions"] == 25


def test_time_travel_snapshots(spark, sink):
    """retain=N keeps N previous generations readable; history() orders
    commits oldest-first and marks GC'd versions dead; read_reports with
    an int index time-travels through the log."""
    import os

    from spendinganalysisetl_spark.sources.upsert import history

    write_reports(
        _batch(spark, [("2024-01-01", "2024-01-31", 10, 100.0)]),
        sink,
        mode="overwrite",
        retain=2,
    )
    for n in (15, 20):
        merge_reports(
            spark,
            sink,
            _batch(spark, [("2024-01-01", "2024-01-31", n, float(n))]),
            retain=2,
        )
    log = history(sink)
    assert [rec["op"] for rec in log] == ["overwrite", "merge", "merge"]
    assert all(rec["live"] for rec in log), "retain=2 keeps all three"
    # snapshot reads: index 0 = initial write, -1 = live table
    assert read_reports(spark, sink, version=0).collect()[0]["total_transactions"] == 10
    assert read_reports(spark, sink, version=1).collect()[0]["total_transactions"] == 15
    assert read_reports(spark, sink, version=-1).collect()[0]["total_transactions"] == 20
    # one more merge at retain=1 GCs the two oldest; reading them raises
    merge_reports(
        spark, sink, _batch(spark, [("2024-01-01", "2024-01-31", 30, 30.0)]), retain=1
    )
    log = history(sink)
    assert len(log) == 4 and not log[0]["live"] and not log[1]["live"]
    assert log[2]["live"] and log[3]["live"]
    with pytest.raises(FileNotFoundError):
        read_reports(spark, sink, version=0)
    live_dirs = [d for d in os.listdir(sink) if d.startswith("v_")]
    assert len(live_dirs) == 2


def test_merge_delete_leg(spark, sink):
    """WHEN MATCHED AND <cond> THEN DELETE: retention purge removes
    matched rows the predicate selects, never insert-leg rows."""
    from pyspark.sql import functions as F

    write_reports(
        _batch(
            spark,
            [
                ("2023-01-01", "2023-01-31", 10, 100.0),  # old: purged
                ("2024-01-01", "2024-01-31", 10, 100.0),  # recent: kept
            ],
        ),
        sink,
        mode="overwrite",
    )
    merge_reports(
        spark,
        sink,
        _batch(
            spark,
            [
                ("2023-01-01", "2023-01-31", 10, 999.0),  # matched+old → deleted
                ("2024-01-01", "2024-01-31", 15, 150.0),  # matched, grew → updated
                ("2024-02-01", "2024-02-29", 5, 50.0),    # new key → inserted
            ],
        ),
        delete_where=F.col("t.begin_date") < F.lit("2024-01-01"),
    )
    rows = {r["begin_date"]: r for r in read_reports(spark, sink).collect()}
    assert set(rows) == {"2024-01-01", "2024-02-01"}
    assert rows["2024-01-01"]["total_transactions"] == 15


def test_merge_frames_delete_action(spark):
    """Relational form tags the delete leg with action='deleted' and
    carries the TARGET's values for those rows."""
    from pyspark.sql import functions as F

    from spendinganalysisetl_spark.sources.upsert import merge_frames

    target = _batch(
        spark,
        [("2023-01-01", "2023-01-31", 10, 100.0), ("2024-01-01", "2024-01-31", 10, 100.0)],
    )
    batch = _batch(
        spark,
        [("2023-01-01", "2023-01-31", 99, 999.0), ("2024-02-01", "2024-02-29", 5, 50.0)],
    )
    out = {
        r["begin_date"]: r
        for r in merge_frames(
            target,
            batch,
            delete_where=F.col("t.begin_date") < F.lit("2024-01-01"),
        ).collect()
    }
    assert out["2023-01-01"]["action"] == "deleted"
    # delete takes precedence over the (otherwise firing) update leg and
    # keeps the target's values
    assert out["2023-01-01"]["total_spent"] == 100.0
    assert out["2024-01-01"]["action"] == "kept"
    assert out["2024-02-01"]["action"] == "inserted"


def test_merge_delete_null_predicate_keeps_row(spark, sink):
    """3VL regression: a delete_where that evaluates NULL (nullable
    retention column) must mean KEEP, in both the relational form and
    the file-backed sink — an un-coalesced ``filter(~NULL)`` silently
    dropped the row while merge_frames labeled it kept/updated."""
    from pyspark.sql import functions as F

    from spendinganalysisetl_spark.sources.upsert import merge_frames

    target = _batch(
        spark,
        [
            ("2024-01-01", "2024-01-31", 10, None),   # NULL spent → NULL predicate
            ("2024-02-01", "2024-02-29", 10, 10.0),   # predicate true → deleted
            ("2024-03-01", "2024-03-31", 10, 500.0),  # predicate false → kept/updated
        ],
    )
    batch = _batch(
        spark,
        [
            ("2024-01-01", "2024-01-31", 15, 150.0),
            ("2024-02-01", "2024-02-29", 15, 150.0),
            ("2024-03-01", "2024-03-31", 15, 550.0),
        ],
    )
    pred = F.col("t.total_spent") < F.lit(50.0)  # NULL on the NULL-spent row

    out = {
        r["begin_date"]: r
        for r in merge_frames(target, batch, delete_where=pred).collect()
    }
    assert out["2024-01-01"]["action"] == "updated"
    # the 'updated' label must actually carry the BATCH values
    assert out["2024-01-01"]["total_spent"] == 150.0
    assert out["2024-02-01"]["action"] == "deleted"
    assert out["2024-03-01"]["action"] == "updated"

    write_reports(target, sink, mode="overwrite")
    merge_reports(spark, sink, batch, delete_where=pred)
    rows = {r["begin_date"]: r for r in read_reports(spark, sink).collect()}
    assert set(rows) == {"2024-01-01", "2024-03-01"}, (
        "NULL predicate row must survive the sink MERGE"
    )
    assert rows["2024-01-01"]["total_spent"] == 150.0


def test_merge_additive_folds_partials(spark):
    """Incremental view maintenance: overlapping keys sum, disjoint keys
    pass through from either side."""
    from spendinganalysisetl_spark.sources.upsert import merge_additive

    view = _batch(
        spark,
        [("2024-01-01", "2024-01-31", 10, 100.0), ("2024-02-01", "2024-02-29", 5, 50.0)],
    )
    delta = _batch(
        spark,
        [("2024-02-01", "2024-02-29", 3, 30.0), ("2024-03-01", "2024-03-31", 7, 70.0)],
    )
    out = {
        r["begin_date"]: r
        for r in merge_additive(
            view, delta, sum_cols=("total_transactions", "total_spent")
        ).collect()
    }
    assert len(out) == 3
    assert out["2024-01-01"]["total_transactions"] == 10  # view-only key
    assert out["2024-02-01"]["total_transactions"] == 8   # folded
    assert out["2024-02-01"]["total_spent"] == 80.0
    assert out["2024-03-01"]["total_transactions"] == 7   # delta-only key


def test_gc_keeps_unlogged_pointer_target(spark, sink):
    """Crash-window guarantee: if a previous commit flipped the pointer
    but crashed before appending to the log, the next commit must still
    retain the (unlogged) live version one generation for in-flight
    readers — the keep-set includes the pre-flip pointer target
    unconditionally, not via the log."""
    import json
    import os

    write_reports(
        _batch(spark, [("2024-01-01", "2024-01-31", 10, 100.0)]), sink, mode="overwrite"
    )
    merge_reports(
        spark, sink, _batch(spark, [("2024-01-01", "2024-01-31", 20, 20.0)])
    )
    # simulate the crash: drop the latest commit from the log so the
    # live pointer target is unlogged
    with open(os.path.join(sink, "_LOG")) as fh:
        lines = [ln for ln in fh.read().splitlines() if ln.strip()]
    unlogged_live = json.loads(lines[-1])["version"]
    with open(os.path.join(sink, "_LOG"), "w") as fh:
        fh.write("\n".join(lines[:-1]) + "\n")

    merge_reports(
        spark, sink, _batch(spark, [("2024-01-01", "2024-01-31", 30, 30.0)])
    )
    assert os.path.isdir(os.path.join(sink, unlogged_live)), (
        "pre-flip pointer target must survive one generation even when unlogged"
    )
    assert read_reports(spark, sink).collect()[0]["total_transactions"] == 30


def test_merge_migrates_plain_layout(spark, sink):
    """The first MERGE into a plain-layout sink (append-mode writes, no
    pointer) migrates it to the versioned layout and sweeps the
    now-unreachable top-level data files, keeping every row."""
    import os

    from spendinganalysisetl_spark.sources.upsert import history

    df = _batch(
        spark, [(f"2024-{m:02d}-01", f"2024-{m:02d}-28", m, float(m)) for m in range(1, 7)]
    ).repartition(4)
    write_reports(df, sink, mode="append")  # plain layout: files at top level
    assert not os.path.isfile(os.path.join(sink, "_CURRENT"))
    assert any(f.startswith("part-") for f in os.listdir(sink))
    before = {r["begin_date"] for r in read_reports(spark, sink).collect()}

    merge_reports(
        spark, sink, _batch(spark, [("2024-07-01", "2024-07-28", 7, 7.0)])
    )
    assert os.path.isfile(os.path.join(sink, "_CURRENT"))
    after = {r["begin_date"] for r in read_reports(spark, sink).collect()}
    assert after == before | {"2024-07-01"}
    # pre-migration top-level part files are gone (only version dirs + metadata)
    top_parts = [f for f in os.listdir(sink) if f.startswith("part-")]
    assert top_parts == []
    assert history(sink)[-1]["op"] == "merge"


def test_scd2_apply_versions_and_idempotence(spark):
    """SCD Type-2: a changed attribute closes the old version and opens
    a new one; re-applying the SAME batch is a no-op (idempotent); new
    keys insert as first versions; closed history is never rewritten."""
    from pyspark.sql import functions as F

    from spendinganalysisetl_spark.sources.upsert import scd2_apply

    schema = (
        "cust_id long, segment string, acctbal double, effective_from string, "
        "effective_to string, is_current int"
    )
    current = spark.createDataFrame(
        [
            (1, "AUTO", 10.0, "2023-01-01", None, 1),
            (1, "AUTO", 5.0, "2022-01-01", "2023-01-01", 0),  # closed history
            (2, "HOUSE", 20.0, "2023-01-01", None, 1),
        ],
        schema,
    )
    batch = spark.createDataFrame(
        [
            (1, "AUTO", 11.0, "2024-06-01"),   # change -> close + new
            (2, "HOUSE", 20.0, "2024-06-01"),  # identical -> no-op
            (3, "SHIP", 30.0, "2024-06-01"),   # new key -> first version
        ],
        "cust_id long, segment string, acctbal double, effective_from string",
    )
    out = scd2_apply(current, batch, key=("cust_id",), tracked=("segment", "acctbal"))
    rows = {
        (r["cust_id"], r["effective_from"]): (
            r["acctbal"], r["effective_to"], r["is_current"]
        )
        for r in out.collect()
    }
    assert rows == {
        (1, "2022-01-01"): (5.0, "2023-01-01", 0),   # history untouched
        (1, "2023-01-01"): (10.0, "2024-06-01", 0),  # closed at change time
        (1, "2024-06-01"): (11.0, None, 1),          # new open version
        (2, "2023-01-01"): (20.0, None, 1),          # no-op kept open
        (3, "2024-06-01"): (30.0, None, 1),          # first version
    }
    # idempotence: applying the same batch to the result changes nothing
    again = scd2_apply(out, batch, key=("cust_id",), tracked=("segment", "acctbal"))
    r2 = {
        (r["cust_id"], r["effective_from"]): (
            r["acctbal"], r["effective_to"], r["is_current"]
        )
        for r in again.collect()
    }
    assert r2 == rows


def test_merge_schema_evolution_frames(spark):
    """Delta mergeSchema parity on the relational form: a batch-only
    column appends (NULL for pre-existing rows), a target-only column
    survives updates (UPDATE SET * by name never nulls it)."""
    from pyspark.sql import functions as F

    from spendinganalysisetl_spark.sources.upsert import merge_frames

    target = spark.createDataFrame(
        [("2024-01-01", "2024-01-31", 10, 100.0, "legacy")],
        "begin_date string, end_date string, total_transactions long, "
        "total_spent double, old_note string",
    )
    batch = spark.createDataFrame(
        [
            ("2024-01-01", "2024-01-31", 15, 150.0, "EUR"),
            ("2024-02-01", "2024-02-29", 5, 50.0, "USD"),
        ],
        "begin_date string, end_date string, total_transactions long, "
        "total_spent double, currency string",
    )
    out = {
        r["begin_date"]: r
        for r in merge_frames(target, batch, evolve_schema=True).collect()
    }
    jan, feb = out["2024-01-01"], out["2024-02-01"]
    assert jan["action"] == "updated" and jan["total_spent"] == 150.0
    assert jan["currency"] == "EUR", "new column takes batch value on update"
    assert jan["old_note"] == "legacy", "target-only column survives the update"
    assert feb["action"] == "inserted" and feb["currency"] == "USD"
    assert feb["old_note"] is None, "inserted rows NULL the target-only column"


def test_merge_schema_evolution_sink(spark, sink):
    from spendinganalysisetl_spark.sources.upsert import merge_reports

    write_reports(
        _batch(spark, [("2024-01-01", "2024-01-31", 10, 100.0),
                       ("2024-03-01", "2024-03-31", 7, 70.0)]),
        sink,
        mode="overwrite",
    )
    wide = spark.createDataFrame(
        [("2024-01-01", "2024-01-31", 15, 150.0, "EUR")],
        SCHEMA + ", currency string",
    )
    # without opting in, a schema change is an error, not silent data loss
    import pytest as _pytest

    narrow = _batch(spark, [("2024-01-01", "2024-01-31", 20, 160.0)]).drop(
        "total_spent"
    )
    with _pytest.raises(ValueError, match="total_spent"):
        merge_reports(spark, sink, narrow)

    merge_reports(spark, sink, wide, evolve_schema=True)
    rows = {r["begin_date"]: r for r in read_reports(spark, sink).collect()}
    assert rows["2024-01-01"]["currency"] == "EUR"
    assert rows["2024-01-01"]["total_transactions"] == 15
    assert rows["2024-03-01"]["currency"] is None, "pre-existing rows backfill NULL"
