"""``bench.py`` end to end: its closing stdout line parses as JSON, and
it benches the product's planner mode."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

from conftest import SF_SMOKE

from spendinganalysisetl_spark import registry

ROOT = Path(__file__).resolve().parents[1]


def test_bench_closing_line_parses(tmp_path):
    """One rep of every query at the smoke scale, warm-up skipped. The
    script runs from a copy in ``tmp_path``, so its sidecars land there
    and not over the repository's own ``bench_queries*.json``."""
    for name in ("bench.py", "__spark_entry__.py"):
        shutil.copy(ROOT / name, tmp_path / name)
    env = dict(
        os.environ,
        PYTHONPATH=str(ROOT),
        SPARK_GRAFT_SF_DIR=SF_SMOKE,
        SPARK_GRAFT_BENCH_REPS="1",
        SPARK_GRAFT_WARM_DIR=str(tmp_path / "no-warm-up"),
        # The test session's JVM is still alive next to this one.
        SPARK_GRAFT_DRIVER_MEM="2g",
    )
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    proc = subprocess.run(
        [sys.executable, str(tmp_path / "bench.py")],
        cwd=tmp_path,
        env=env,
        stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT,
        text=True,
        timeout=1200,
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, "\n".join(lines[-40:])
    last = json.loads(lines[-1])
    assert last["metric"] == "total_query_wall_clock"
    assert last["n_queries"] == len(registry.QUERIES)
    sidecar = json.loads((tmp_path / last["queries_file"]).read_text())
    assert sidecar["aqe_enabled"] == "true"
    assert len(sidecar["queries"]) == len(registry.QUERIES)
