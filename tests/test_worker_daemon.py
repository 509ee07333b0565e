"""The Python worker daemon: zip caches re-read only when the archive
changes, and the session's workers fork from it."""

from __future__ import annotations

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
from pyspark.sql.functions import pandas_udf

import sfs3_kinesis_spark
from sfs3_kinesis_spark import session, worker_daemon


def test_unchanged_archive_is_not_reread_and_a_changed_one_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    first, second = (f"zmod_{uuid.uuid4().hex}" for _ in range(2))
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{first}.py", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    # restore the original method when the test ends
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    try:
        assert importlib.import_module(first).VALUE == 1
        worker_daemon.install()

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 0

        with zipfile.ZipFile(archive, "a") as z:
            z.writestr(f"{second}.py", "VALUE = 2\n")
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module(second).VALUE == 2
    finally:
        for name in (first, second):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)


def test_pandas_udf_workers_run_the_stamped_invalidate(spark):
    @pandas_udf("string")
    def invalidate_source(s: pd.Series) -> pd.Series:
        import zipimport

        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__code__.co_filename)

    got = {r[0] for r in spark.range(4, numPartitions=2).select(invalidate_source("id")).collect()}
    assert {os.path.realpath(p) for p in got} == {os.path.realpath(worker_daemon.__file__)}


def test_workers_get_the_package_root_on_pythonpath(spark):
    root = os.path.dirname(os.path.dirname(os.path.abspath(sfs3_kinesis_spark.__file__)))
    assert session.PACKAGE_ROOT == root
    assert spark.conf.get("spark.executorEnv.PYTHONPATH") == root
    assert spark.sparkContext.environment["PYTHONPATH"] == root
