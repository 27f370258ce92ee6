"""The engine's Python worker daemon (eventsgateway_spark/worker_daemon.py):
a zip importer re-reads its archive only when the archive changed, and
engine sessions on a local master run their Python workers under it."""

from __future__ import annotations

import functools
import importlib
import os
import sys
import zipfile
import zipimport
from types import SimpleNamespace

import pytest


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


def test_zip_reread_only_when_archive_changed(tmp_path, monkeypatch):
    from eventsgateway_spark import worker_daemon

    archive = str(tmp_path / "probe_mods.zip")
    _write_zip(archive, {"wd_probe_a": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wd_probe_a").X == 1
        importer = sys.path_importer_cache[archive]
        assert isinstance(importer, zipimport.zipimporter)

        # control: the stock method re-reads an unchanged archive
        reads.clear()
        zipimport.zipimporter.invalidate_caches(importer)
        assert len(reads) == 1

        importer.invalidate_caches = functools.partial(
            worker_daemon.invalidate_if_changed, importer
        )
        importlib.invalidate_caches()  # first call stamps the importer
        reads.clear()
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads == [], "an unchanged archive was re-read"

        _write_zip(archive, {"wd_probe_a": "X = 1\n", "wd_probe_b": "Y = 2\n"})
        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
        importlib.invalidate_caches()
        assert len(reads) == 1, "a rewritten archive was not re-read"
        assert importlib.import_module("wd_probe_b").Y == 2
        importlib.invalidate_caches()
        assert len(reads) == 1
    finally:
        sys.path_importer_cache.pop(archive, None)
        for name in ("wd_probe_a", "wd_probe_b"):
            sys.modules.pop(name, None)


def test_get_spark_sets_daemon_only_for_local_masters(monkeypatch):
    """Spark-free: the conf get_spark hands the builder, per master."""
    from eventsgateway_spark import session

    seen = {}

    class Builder:
        def master(self, m):
            seen.clear()
            seen["master"] = m
            return self

        def appName(self, _name):
            return self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            return SimpleNamespace(
                sparkContext=SimpleNamespace(setLogLevel=lambda _lvl: None)
            )

    monkeypatch.setattr(session.SparkSession, "builder", Builder())
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    key = "spark.python.daemon.module"
    for master in ("local", "local[4]", "local[*]"):
        monkeypatch.setenv("SPARK_GRAFT_MASTER", master)
        session.get_spark()
        assert seen[key] == "eventsgateway_spark.worker_daemon", master
    for master in ("spark://host:7077", "yarn", "local-cluster[2,1,1024]"):
        monkeypatch.setenv("SPARK_GRAFT_MASTER", master)
        session.get_spark()
        assert key not in seen, master
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local[2]")
    session.get_spark(**{key: "pyspark.daemon"})
    assert seen[key] == "pyspark.daemon"


def test_engine_session_workers_run_under_engine_daemon(spark):
    """A pandas UDF reports, from inside its worker, which module owns
    zipimporter.invalidate_caches and how many archive reads one more
    importlib.invalidate_caches() makes. Under Spark's default daemon
    that is zipimport's method and about one read of pyspark.zip per
    importer."""
    if sys.version_info >= (3, 12):
        pytest.skip("the daemon installs nothing on CPython >= 3.12")
    import pandas as pd
    from pyspark.sql import functions as F

    def probe(ids):
        import importlib as il
        import zipimport as zi

        reads = []
        read_directory = zi._read_directory
        zi._read_directory = lambda path: (reads.append(path), read_directory(path))[1]
        try:
            il.invalidate_caches()
        finally:
            zi._read_directory = read_directory
        owner = zi.zipimporter.invalidate_caches.__module__
        return pd.Series([f"{owner} {len(reads)}"] * len(ids))

    # real types: under postponed annotations pandas_udf could not resolve "pd"
    probe.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(probe, "string")
    got = spark.range(1).select(udf("id").alias("p")).first()["p"]
    assert got == "eventsgateway_spark.worker_daemon 0"
