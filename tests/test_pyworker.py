"""The Python worker daemon (``spendinganalysisetl_spark.pyworker``) and the
worker environment ``session.get_spark`` sets up for it."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from spendinganalysisetl_spark import pyworker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"VALUE = {name!r}\n")


@pytest.fixture
def reads(monkeypatch):
    """Archives read by ``zipimport._read_directory`` while the daemon's
    ``invalidate_caches`` is installed."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches
    )
    return seen


def test_unchanged_archive_is_read_once(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["pyworker_probe_a"])
    importer = zipimport.zipimporter(archive)
    reads.clear()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [archive]


def test_rewritten_archive_is_reread(tmp_path, reads):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["pyworker_probe_a"])
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("pyworker_probe_a").VALUE == "pyworker_probe_a"
        importlib.invalidate_caches()
        reads.clear()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0
        _write_zip(archive, ["pyworker_probe_a", "pyworker_probe_b"])
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("pyworker_probe_b").VALUE == "pyworker_probe_b"
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)
        for name in ("pyworker_probe_a", "pyworker_probe_b"):
            sys.modules.pop(name, None)


def test_worker_skips_rereading_unchanged_archives(spark):
    """In a real worker: the daemon module is loaded, the worker holds zip
    importers, and a second ``invalidate_caches()`` reads no archive."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        importers = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        ]
        seen = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: seen.append(a) or real(a)
        try:
            importlib.invalidate_caches()
            first = len(seen)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        yield pa.RecordBatch.from_pydict({
            "daemon": ["spendinganalysisetl_spark.pyworker" in sys.modules],
            "zip_importers": [len(importers)],
            "second_reads": [len(seen) - first],
        })

    row = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "daemon boolean, zip_importers long, second_reads long")
        .first()
    )
    assert row.daemon
    assert row.zip_importers > 0
    assert row.second_reads == 0


def test_workers_import_package_from_any_cwd(tmp_path):
    """A session started outside the repo with no PYTHONPATH still runs a
    query whose UDF closures import the package by reference."""
    script = (
        "import sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from spendinganalysisetl_spark.registry import QUERIES\n"
        "from spendinganalysisetl_spark.session import get_spark\n"
        "spark = get_spark(app_name='cwd-probe', cpus=1)\n"
        "print('ROWS', QUERIES['bpe_encode_fixture'](spark, '/unused').count())\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ROWS 4" in out.stdout, out.stderr[-3000:]


def test_socket_dir_is_owner_only():
    """Python workers skip the auth handshake over a Unix socket, so the
    socket directory admits only its owner."""
    import stat

    from spendinganalysisetl_spark import session

    mode = os.stat(session._socket_dir()).st_mode
    assert stat.S_IMODE(mode) == 0o700


def test_workers_run_under_a_long_tmpdir(tmp_path):
    """A session whose TMPDIR and ``java.io.tmpdir`` are too long to hold
    an AF_UNIX socket path still runs Python tasks."""
    tmp = tmp_path / ("t" * max(1, 100 - len(str(tmp_path))))
    tmp.mkdir()
    script = (
        "import sys\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from spendinganalysisetl_spark.session import get_spark\n"
        "spark = get_spark(app_name='tmpdir-probe', cpus=1, extra_conf={\n"
        f"    'spark.driver.defaultJavaOptions': '-Djava.io.tmpdir={tmp}'}})\n"
        "df = spark.range(4, numPartitions=1).mapInPandas(lambda b: b, 'id long')\n"
        "print('ROWS', df.count())\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp), SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert len(str(tmp)) >= 100
    assert "ROWS 4" in out.stdout, out.stderr[-3000:]
