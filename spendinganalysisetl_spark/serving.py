"""Query-serving layer over the report sink (SURVEY.md §3 EP2/EP3).

The reference serves its warehouse with two FastAPI endpoints
(/root/reference/main.py:15-44 ``GET /dates`` and :46-84
``POST /dates/summary``): list the report key ranges, and fetch one
report row by (begin_date, end_date). This module is the engine-native
analog over the versioned parquet sink (sources/upsert.py), built on
the stdlib HTTP server so the serving path adds no dependency.

Query mapping (same as SURVEY's endpoint analysis):
- ``GET /dates``          → the 2-column projection ``proj`` family
  (S3): a column-pruned scan of only the key columns.
- ``POST /dates/summary`` → the keyed point read (S2/S4): both key
  predicates reach the parquet scan as PushedFilters, so a partitioned
  100 TB sink prunes to one partition / row group.

Scale notes: each request is a keyed point read against the CURRENT
sink version (readers resolve the ``_CURRENT`` pointer, so a MERGE
committing mid-request can't serve a half-written table). The report
table has one row per (begin,end) range — tiny by construction — so
the driver-side collect is bounded at one row (summary) or the range
count (dates). The HTTP handlers compile the sink scan ONCE PER SINK
VERSION (``VersionedPlanCache``): every request still re-reads the
``_CURRENT`` pointer (one tiny file read — pointer-fresh), but the
expensive part of planning a point read — file listing + parquet
schema resolution for the scan relation — reruns only when a MERGE
moves the pointer. Against a 100 TB partitioned sink that listing is
the dominant per-request cost, so caching it is what makes a
Spark-backed endpoint answer in scan-prune time rather than
metadata time.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spendinganalysisetl_spark.sources.upsert import (
    KEY,
    _resolve_data_dir,
    read_reports,
)


class VersionedPlanCache:
    """The compiled scan relation for the live sink version.

    ``frame()`` re-resolves the ``_CURRENT`` pointer on every call (so
    a MERGE committing between requests is visible immediately — the
    pointer-fresh contract) but rebuilds the DataFrame only when the
    pointer names a NEW version directory. ``plan_count`` counts those
    rebuilds; tests pin "N requests at one version plan once"."""

    def __init__(self, spark: SparkSession, sink: str):
        self._spark = spark
        self._sink = sink
        self._lock = threading.Lock()
        self._live_dir: str | None = None
        self._frame: DataFrame | None = None
        self.plan_count = 0

    def frame(self) -> DataFrame:
        # Resolve the pointer INSIDE the lock: two concurrent requests
        # straddling a MERGE commit could otherwise race — the thread
        # holding the older pointer enters the lock last and overwrites
        # the newer cached frame, serving the stale version (and
        # inflating plan_count) until a later request flips it back.
        with self._lock:
            live = _resolve_data_dir(self._sink)
            if live != self._live_dir:
                self._frame = self._spark.read.parquet(live)
                self._live_dir = live
                self.plan_count += 1
            return self._frame


def list_date_ranges(
    spark: SparkSession, sink: str, reports: DataFrame | None = None
) -> DataFrame:
    """EP2 (``GET /dates``, reference main.py:15-44): every report key
    range in the sink — a key-columns-only projection (column pruning
    reaches the scan; see test_plan_audit for the projection family)."""
    if reports is None:
        reports = read_reports(spark, sink)
    return reports.select(*KEY)


def range_summary(
    spark: SparkSession,
    sink: str,
    begin_date: str,
    end_date: str,
    reports: DataFrame | None = None,
) -> DataFrame:
    """EP3 (``POST /dates/summary``, reference main.py:46-84): the one
    report row for a key range — both equality predicates push down to
    the parquet scan."""
    if reports is None:
        reports = read_reports(spark, sink)
    return reports.filter(
        (F.col("begin_date") == begin_date) & (F.col("end_date") == end_date)
    )


def _row_to_json(row) -> dict:
    d = row.asDict(recursive=True)
    begin, end = d.pop("begin_date"), d.pop("end_date")
    fi_summary = d.pop("fi_summary", None)
    # Mirror the reference's response shape (main.py:64-71): key fields
    # top-level, everything else under 'details'.
    out = {"begin_date": begin, "end_date": end, "details": d}
    if fi_summary is not None:
        out["fi_summary"] = fi_summary
    return out


class ReportServer:
    """Tiny threaded HTTP front-end for the two report endpoints.

    Start with ``serve_reports``; ``base_url`` gives the bound address
    (port 0 → ephemeral). Handlers run Spark point reads per request
    against the version-cached scan (``VersionedPlanCache``) — the
    session is thread-safe for read-only queries."""

    def __init__(self, spark: SparkSession, sink: str, port: int = 0):
        self._spark = spark
        self._sink = sink
        self.plan_cache = VersionedPlanCache(spark, sink)
        outer = self

        class Handler(BaseHTTPRequestHandler):
            # Socket timeout (s): a client that stalls mid-request, such
            # as a body shorter than its Content-Length, gets its
            # connection closed instead of holding a handler thread.
            timeout = 5

            def log_message(self, *a):  # silence per-request stderr noise
                pass

            def _reply(self, code: int, obj) -> None:
                body = json.dumps(obj, default=str).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                if self.path.rstrip("/") != "/dates":
                    self._reply(404, {"msg": "unknown endpoint"})
                    return
                try:
                    rows = list_date_ranges(
                        outer._spark, outer._sink, reports=outer.plan_cache.frame()
                    ).collect()
                    self._reply(
                        200, {"dates": [r.asDict() for r in rows]}
                    )
                except Exception:
                    # reference behavior: errors collapse to a message
                    # (main.py:38-41)
                    self._reply(200, {"msg": "Error with date ranges"})

            def do_POST(self):
                if self.path.rstrip("/") != "/dates/summary":
                    self._reply(404, {"msg": "unknown endpoint"})
                    return
                try:
                    n = int(self.headers.get("Content-Length", "0"))
                    if n < 0:
                        # rfile.read(-1) would block until the client
                        # closes the connection.
                        raise ValueError("negative Content-Length")
                    req = json.loads(self.rfile.read(n) or b"{}")
                    # TypeError covers valid-JSON non-objects ('null',
                    # '[1]', '"x"') where subscripting isn't indexable.
                    begin, end = req["begin_date"], req["end_date"]
                except (ValueError, KeyError, TypeError):
                    self._reply(400, {"msg": "begin_date and end_date required"})
                    return
                try:
                    rows = range_summary(
                        outer._spark,
                        outer._sink,
                        begin,
                        end,
                        reports=outer.plan_cache.frame(),
                    ).collect()
                    if rows:
                        self._reply(200, _row_to_json(rows[0]))
                    else:
                        # reference miss message (main.py:73-76)
                        self._reply(
                            200,
                            {"msg": "No financial details found with these date range..."},
                        )
                except Exception as e:
                    self._reply(200, {"err": str(e)})

        self._httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )

    @property
    def base_url(self) -> str:
        return f"http://127.0.0.1:{self._httpd.server_port}"

    def start(self) -> "ReportServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()


def serve_reports(
    spark: SparkSession, sink: str, port: int = 0
) -> ReportServer:
    """Start the report-serving HTTP front-end; returns the running
    server (call ``.stop()`` when done)."""
    return ReportServer(spark, sink, port).start()
