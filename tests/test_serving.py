"""Query-serving layer (SURVEY.md §3 EP2/EP3 — reference main.py):
real localhost HTTP against the report sink — list ranges, fetch one
summary (hit + miss), and the plan property that makes serving viable
at scale (keyed point read pushes both predicates to the scan)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from spendinganalysisetl_spark.serving import (
    list_date_ranges,
    range_summary,
    serve_reports,
)
from spendinganalysisetl_spark.sources.upsert import write_reports

SCHEMA = (
    "begin_date string, end_date string, total_transactions long, "
    "total_spent double, fi_summary string"
)


@pytest.fixture()
def sink(spark, tmp_path):
    path = str(tmp_path / "file_details")
    write_reports(
        spark.createDataFrame(
            [
                ("2024-01-01", "2024-01-31", 10, 100.0, "Jan summary"),
                ("2024-02-01", "2024-02-29", 20, 200.0, "Feb summary"),
            ],
            SCHEMA,
        ),
        path,
        mode="overwrite",
    )
    return path


def _get(url):
    with urllib.request.urlopen(url) as r:
        return json.loads(r.read())


def _post(url, obj):
    req = urllib.request.Request(
        url,
        data=json.dumps(obj).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        return json.loads(r.read())


def test_endpoints_over_real_http(spark, sink):
    srv = serve_reports(spark, sink)
    try:
        dates = _get(srv.base_url + "/dates")
        assert sorted(d["begin_date"] for d in dates["dates"]) == [
            "2024-01-01",
            "2024-02-01",
        ]

        hit = _post(
            srv.base_url + "/dates/summary",
            {"begin_date": "2024-01-01", "end_date": "2024-01-31"},
        )
        assert hit["begin_date"] == "2024-01-01"
        assert hit["fi_summary"] == "Jan summary"
        assert hit["details"]["total_transactions"] == 10
        assert hit["details"]["total_spent"] == 100.0

        miss = _post(
            srv.base_url + "/dates/summary",
            {"begin_date": "1999-01-01", "end_date": "1999-01-31"},
        )
        assert miss == {
            "msg": "No financial details found with these date range..."
        }, "miss shape mirrors the reference (main.py:73-76)"
    finally:
        srv.stop()


@pytest.mark.parametrize("length", ["-1", "abc"])
def test_summary_rejects_bad_content_length(spark, sink, length):
    """A malformed Content-Length gets a 400 at once; a negative one
    used to make the handler read until the client hung up."""
    import socket
    from urllib.parse import urlsplit

    srv = serve_reports(spark, sink)
    try:
        url = urlsplit(srv.base_url)
        with socket.create_connection((url.hostname, url.port), timeout=10) as s:
            s.sendall(
                b"POST /dates/summary HTTP/1.1\r\nHost: x\r\n"
                + f"Content-Length: {length}\r\n\r\n".encode()
            )
            status = s.makefile("rb").readline()
        assert status.split()[1] == b"400", status
    finally:
        srv.stop()


def test_summary_predicates_push_to_scan(spark, sink):
    """The serving query must be a keyed point read: both equality
    predicates appear as PushedFilters on the parquet scan, so a
    partitioned sink prunes instead of scanning."""
    df = range_summary(spark, sink, "2024-01-01", "2024-01-31")
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "begin_date" in pushed[0] and "end_date" in pushed[0]


def test_dates_projection_prunes_columns(spark, sink):
    df = list_date_ranges(spark, sink)
    plan = df._jdf.queryExecution().executedPlan().toString()
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas
    assert "begin_date" in schemas[0] and "end_date" in schemas[0]
    assert "fi_summary" not in schemas[0], "projection must prune payload columns"


def test_plan_cache_compiles_once_per_version(spark, sink):
    """N requests at one sink version plan the scan ONCE; a MERGE that
    moves the _CURRENT pointer triggers exactly one re-plan, and the
    very next request serves the new version (pointer-fresh)."""
    from spendinganalysisetl_spark.sources.upsert import merge_reports

    srv = serve_reports(spark, sink)
    try:
        for _ in range(4):
            _get(srv.base_url + "/dates")
            _post(
                srv.base_url + "/dates/summary",
                {"begin_date": "2024-01-01", "end_date": "2024-01-31"},
            )
        assert srv.plan_cache.plan_count == 1, "one version → one compile"

        merge_reports(
            spark,
            sink,
            spark.createDataFrame(
                [("2024-01-01", "2024-01-31", 25, 250.0, "Jan grew")], SCHEMA
            ),
        )
        hit = _post(
            srv.base_url + "/dates/summary",
            {"begin_date": "2024-01-01", "end_date": "2024-01-31"},
        )
        assert hit["details"]["total_transactions"] == 25, (
            "request after the MERGE serves the NEW version"
        )
        assert srv.plan_cache.plan_count == 2, "pointer moved → one re-plan"
        _get(srv.base_url + "/dates")
        assert srv.plan_cache.plan_count == 2, "same version again → cached"
    finally:
        srv.stop()


def test_summary_short_body_times_out(spark, sink):
    """A body shorter than its Content-Length no longer holds a handler
    thread: the server gives up on the read within its socket timeout,
    and the next request is served."""
    import socket
    import time
    from urllib.parse import urlsplit

    srv = serve_reports(spark, sink)
    try:
        url = urlsplit(srv.base_url)
        with socket.create_connection((url.hostname, url.port), timeout=15) as s:
            s.sendall(
                b"POST /dates/summary HTTP/1.1\r\nHost: x\r\n"
                b"Content-Length: 100\r\n\r\n{}  "
            )
            t0 = time.monotonic()
            status = s.makefile("rb").readline()
            waited = time.monotonic() - t0
        assert status == b"" or status.split()[1].startswith(b"4"), status
        assert waited < 10, waited
        hit = _post(
            srv.base_url + "/dates/summary",
            {"begin_date": "2024-01-01", "end_date": "2024-01-31"},
        )
        assert hit["fi_summary"] == "Jan summary"
    finally:
        srv.stop()
