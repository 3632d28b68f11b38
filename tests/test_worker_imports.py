"""The zip-directory guard installed by ``import dsm2dtm_spark``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every Python
task; before CPython 3.13 that re-read the directory of every zip on the
path (``pyspark.zip``, a ``--py-files`` engine zip) once per importer. The
guard re-reads an archive only after it changed on disk."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import dsm2dtm_spark  # noqa: F401  (installs the guard)


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="3.13+ zipimport invalidates lazily; no guard"
)
def test_unchanged_zip_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zg_mod_a": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("zg_mod_a").X == 1

        importlib.invalidate_caches()
        after_first = len(reads)
        importlib.invalidate_caches()
        assert len(reads) == after_first, "unchanged archive was re-read"

        _write_zip(archive, {"zg_mod_a": "X = 1\n", "zg_mod_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert len(reads) > after_first, "changed archive was not re-read"
        assert importlib.import_module("zg_mod_b").Y == 2
    finally:
        for name in ("zg_mod_a", "zg_mod_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


def test_spark_worker_runs_the_guard(spark):
    def probe(batches):
        import sys
        import zipimport

        import dsm2dtm_spark  # noqa: F401

        fn = zipimport.zipimporter.invalidate_caches
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "n": [len(pdf)],
                    "py313": [sys.version_info >= (3, 13)],
                    "guarded": [bool(getattr(fn, "_zip_directory_guard", False))],
                    "module": [fn.__module__],
                }
            )

    out = (
        spark.range(0, 8, numPartitions=2)
        .mapInPandas(probe, "n long, py313 boolean, guarded boolean, module string")
        .toPandas()
    )
    assert out["n"].sum() == 8
    if out["py313"].all():
        pytest.skip("workers run 3.13+: zipimport invalidates lazily; no guard")
    assert out["guarded"].all(), out
    assert (out["module"] == "dsm2dtm_spark").all(), out
