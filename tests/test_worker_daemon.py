"""The engine's Python worker daemon (genome_deduplication_spark.worker_daemon).

Its zipimport hooks must keep ``importlib.invalidate_caches()``'s meaning:
an unchanged archive is not re-read, a rewritten one is. The hooks are
installed with ``monkeypatch`` only, so nothing leaks into other tests.
"""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql.functions import pandas_udf

from genome_deduplication_spark import worker_daemon


@pytest.fixture
def reads(monkeypatch):
    """Install the daemon's hooks; return the archives read since then."""
    seen = []

    def counting(archive):
        seen.append(archive)
        return worker_daemon.read_directory(archive)

    monkeypatch.setattr(worker_daemon, "_keys", {})
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    return seen


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, value in modules.items():
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_unchanged_archive_is_not_reread_and_rewritten_one_is(
    tmp_path, monkeypatch, reads
):
    archive = str(tmp_path / "pyfiles.zip")
    _write_zip(archive, {"wd_first": 1})
    monkeypatch.syspath_prepend(archive)
    for name in ("wd_first", "wd_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("wd_first").VALUE == 1
    assert reads.count(archive) == 1  # the importer's own first read

    del reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == 0

    _write_zip(archive, {"wd_first": 1, "wd_second": 2})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("wd_second").VALUE == 2


def test_python_workers_run_under_the_engine_daemon(spark):
    """Pins ``spark.python.daemon.module``: a worker's zipimporter carries
    the daemon's ``invalidate_caches`` (stock workers report ``zipimport``)."""

    @pandas_udf("string")
    def owner(x: pd.Series) -> pd.Series:
        import zipimport

        return pd.Series([zipimport.zipimporter.invalidate_caches.__module__] * len(x))

    got = {r[0] for r in spark.range(4).repartition(2).select(owner("id")).collect()}
    assert got == {"genome_deduplication_spark.worker_daemon"}
