"""The worker daemon ``get_spark`` sessions run: its zip-directory cache
contract, that forked workers carry it, and that the session's workers
import the package from any working directory."""

from __future__ import annotations

import importlib
import os
import re
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from tests.conftest import SF_SMOKE
from kafka_streams_common_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PATCHES = sys.version_info < (3, 12)


@pytest.fixture
def patched(monkeypatch):
    # record the stock method so the fixture's teardown restores it
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    worker_daemon.install()


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    _write_zip(path, {"wd_probe_a": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(path)
    importlib.import_module("wd_probe_a")
    yield path
    for name in ("wd_probe_a", "wd_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_install_patches_only_before_312(patched):
    installed = zipimport.zipimporter.invalidate_caches is worker_daemon._invalidate_caches
    assert installed == PATCHES


@pytest.mark.skipif(not PATCHES, reason="CPython 3.12 defers the re-read itself")
def test_unchanged_archive_keeps_its_directory(patched, archive):
    importlib.invalidate_caches()  # the first call in a process reads and stamps
    files = zipimport._zip_directory_cache[archive]
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is files
    assert sys.path_importer_cache[archive]._files is files


@pytest.mark.skipif(not PATCHES, reason="CPython 3.12 defers the re-read itself")
def test_rewritten_archive_is_reread(patched, archive):
    importlib.invalidate_caches()
    files = zipimport._zip_directory_cache[archive]
    _write_zip(archive, {"wd_probe_a": "VALUE = 1\n", "wd_probe_b": "VALUE = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert zipimport._zip_directory_cache[archive] is not files
    assert importlib.import_module("wd_probe_b").VALUE == 2


@pytest.mark.skipif(not PATCHES, reason="CPython 3.12 defers the re-read itself")
def test_deleted_archive_drops_its_entry_like_stock(patched, archive):
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert archive not in zipimport._zip_directory_cache
    assert sys.path_importer_cache[archive]._files == {}


@pytest.mark.skipif(not PATCHES, reason="CPython 3.12 defers the re-read itself")
def test_workers_run_the_patch_and_keep_zip_directories(spark):
    # nested, so the closure ships by value: workers cannot import this file
    def cache_report(batches):
        import importlib
        import zipimport

        import pandas as pd

        method = zipimport.zipimporter.invalidate_caches
        before = dict(zipimport._zip_directory_cache)
        importlib.invalidate_caches()
        kept = all(zipimport._zip_directory_cache.get(a) is f for a, f in before.items())
        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "method": [f"{method.__module__}.{method.__qualname__}"],
                "archives": [len(before)],
                "kept": [kept],
            }
        )

    rows = (
        spark.range(4)
        .repartition(2)
        .mapInPandas(cache_report, "method string, archives long, kept boolean")
        .collect()
    )
    assert rows
    for r in rows:
        assert r.method == "kafka_streams_common_spark.worker_daemon._invalidate_caches"
        assert r.archives >= 1  # pyspark.zip at least
        assert r.kept


def test_get_spark_runs_kernels_from_any_cwd(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from kafka_streams_common_spark.session import get_spark
        from kafka_streams_common_spark.queries.registry import QUERIES
        spark = get_spark("cwd-check")
        print("ROWS", QUERIES["kafka_thrift_decode"](spark, {SF_SMOKE!r}).count())
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    errors = [line for line in proc.stderr.splitlines() if re.match(r"\w+Error: ", line)]
    assert proc.returncode == 0, "\n".join(errors[-5:]) or proc.stderr[-2000:]
    assert "ROWS 1000" in proc.stdout.splitlines()
