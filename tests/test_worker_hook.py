"""The once-per-worker hook (igd_spark.session.init_worker): the zipimport
stat check keeps an unchanged archive's directory across
importlib.invalidate_caches(), still re-reads a rewritten archive, installs
once, does nothing on CPython 3.12+, and reaches the executor workers that
run igd_spark kernels."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from igd_spark import IndexConf, build_index, search
from igd_spark import session

needs_311 = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="the stat check only installs below 3.12"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def pristine(monkeypatch):
    """The interpreter's own invalidate_caches for the test's duration (an
    in-process kernel test may have installed the hook already); monkeypatch
    puts back whatever was there before."""
    cls = zipimport.zipimporter
    current = cls.invalidate_caches
    original = getattr(current, "__wrapped__", current)
    monkeypatch.setattr(cls, "invalidate_caches", original)
    monkeypatch.setattr(session, "_ZIP_READS", {})
    monkeypatch.setattr(session, "_WORKER_READY", False)
    return original


@pytest.fixture
def zipped_pkg(tmp_path, monkeypatch):
    """A package imported from a zip on sys.path; its modules and importer
    cache entries are dropped afterwards."""
    z = str(tmp_path / "pkgs.zip")
    _write_zip(z, {"igdzpkg/__init__.py": "", "igdzpkg/a.py": "X = 1\n"})
    monkeypatch.syspath_prepend(z)
    assert importlib.import_module("igdzpkg.a").X == 1
    yield z
    for name in [m for m in sys.modules if m.split(".")[0] == "igdzpkg"]:
        del sys.modules[name]
    for p in [p for p in sys.path_importer_cache if p.startswith(z)]:
        del sys.path_importer_cache[p]


@needs_311
def test_stat_check_skips_unchanged_zip_and_rereads_rewritten(
    pristine, zipped_pkg, monkeypatch
):
    z = zipped_pkg
    importers = [
        imp
        for imp in sys.path_importer_cache.values()
        if isinstance(imp, zipimport.zipimporter) and imp.archive == z
    ]
    assert len(importers) >= 2  # the archive root and the igdzpkg/ prefix
    reads: list[str] = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(
        zipimport,
        "_read_directory",
        lambda path: reads.append(path) or read_directory(path),
    )

    importlib.invalidate_caches()  # unpatched: every importer re-reads
    assert reads.count(z) == len(importers)

    assert session.install_zip_stat_check()
    reads.clear()
    importlib.invalidate_caches()  # first check: one read, shared
    assert reads.count(z) == 1
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert z not in reads

    _write_zip(
        z, {"igdzpkg/__init__.py": "", "igdzpkg/a.py": "X = 1\n", "igdzpkg/b.py": "Y = 2\n"}
    )
    importlib.invalidate_caches()
    assert reads.count(z) == 1
    assert importlib.import_module("igdzpkg.b").Y == 2


@needs_311
def test_hook_installs_once(pristine):
    cls = zipimport.zipimporter
    session.init_worker()
    assert session.worker_ready()
    wrapped = cls.invalidate_caches
    assert wrapped is not pristine and wrapped.__wrapped__ is pristine
    session.init_worker()
    assert session.install_zip_stat_check()
    assert cls.invalidate_caches is wrapped


def test_hook_is_a_noop_from_312(pristine, monkeypatch):
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert session.install_zip_stat_check() is False
    assert zipimport.zipimporter.invalidate_caches is pristine


def test_hook_reaches_executor_workers(spark, tmp_path):
    """After a distributed search batch, a Python task on a worker that ran
    an igd_spark kernel sees the hook installed. Probe tasks are spread over
    many partitions so they cycle through the reused worker pool."""
    conf = IndexConf(block_size=8, n_shards=2)
    texts = ["alpha beta", "beta gamma", "gamma delta", "alpha delta", "beta"]
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    idx = build_index(spark, docs, str(tmp_path / "idx"), conf=conf)
    q = spark.createDataFrame(
        [(0, "alpha"), (1, "beta gamma")], "query_id long, query_text string"
    )
    tel: dict = {}
    assert search(spark, idx, q, k=3, engine="spark", telemetry=tel).count() > 0
    assert tel["engine"].startswith("spark"), tel

    def probe(batches):
        import os
        import zipimport

        from igd_spark.session import worker_ready

        for _ in batches:
            pass
        checked = getattr(zipimport.zipimporter.invalidate_caches, "_igd_stat_checked", False)
        yield pd.DataFrame(
            {"pid": [os.getpid()], "ready": [worker_ready()], "checked": [checked]}
        )

    n = 4 * spark.sparkContext.defaultParallelism
    rows = (
        spark.range(n, numPartitions=n)
        .mapInPandas(probe, "pid long, ready boolean, checked boolean")
        .collect()
    )
    assert any(r["ready"] for r in rows), rows
    for r in rows:
        if r["ready"]:
            assert r["checked"] == (sys.version_info < (3, 12)), r
