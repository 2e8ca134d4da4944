"""The stat-guarded zip-import invalidation that PySpark workers install
(``opengxt_spark.pyworker``): one directory read per archive until the
archive changes, and present in every engine worker but not the driver."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from opengxt_spark import pyworker

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython >= 3.12 invalidates zip importers lazily; no guard",
)

MOD = "_pyworker_probe_mod"


def _write_zip(path, source: str) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        z.writestr(f"{MOD}.py", source)
    os.replace(tmp, path)


def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, "X = 1\n")
    monkeypatch.syspath_prepend(archive)

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pyworker._guarded_invalidate
    )
    monkeypatch.setattr(pyworker, "_DIRS", {})
    try:
        m = importlib.import_module(MOD)
        assert m.X == 1
        importlib.invalidate_caches()
        n = len(reads)
        for _ in range(5):
            importlib.invalidate_caches()
        assert len(reads) == n

        _write_zip(archive, "X = 2  # rewritten\n")
        importlib.invalidate_caches()
        assert len(reads) == n + 1
        importlib.invalidate_caches()
        assert len(reads) == n + 1
        assert importlib.reload(m).X == 2
    finally:
        sys.modules.pop(MOD, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_engine_python_workers_run_the_guard(spark):
    assert not pyworker.installed()  # the driver never installs it

    @F.pandas_udf("boolean")
    def guarded(s: pd.Series) -> pd.Series:
        from opengxt_spark import pyworker as pw

        return pd.Series([pw.installed()] * len(s))

    rows = (
        spark.range(0, 8, numPartitions=2)
        .select(guarded("id").alias("g"))
        .collect()
    )
    assert len(rows) == 8
    assert all(r["g"] for r in rows)
