"""The zip-importer cache gate that importing flod_spark installs
(``flod_spark._gate_zip_cache_invalidation``): an unchanged archive is not
re-read by ``importlib.invalidate_caches()``, a replaced one is, and a
Python worker running a flod stage has the gate in place."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd

import flod_spark  # noqa: F401  (installs the gate)
from flod_spark.io import load

GATED = "flod_spark._gate_zip_cache_invalidation.<locals>.invalidate_caches"


def _write_zip(path: str, modules: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


def test_unchanged_zip_not_reread_replaced_zip_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zipgate_first": "X = 1\n"})
    monkeypatch.setattr(sys, "path", [archive, *sys.path])
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    try:
        assert importlib.import_module("zipgate_first").X == 1
        importlib.invalidate_caches()  # the importer's first stamp

        reads = []
        read_directory = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert archive not in reads

        _write_zip(archive, {"zipgate_first": "X = 1\n", "zipgate_second": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("zipgate_second").Y == 2
    finally:
        sys.modules.pop("zipgate_first", None)
        sys.modules.pop("zipgate_second", None)


def test_python_stage_worker_runs_gated_invalidation(spark, sf_dir):
    """A worker that unpickles a flod stage function (``_charge_stage``,
    by reference) imports the package and so runs the gate: its
    invalidate_caches is the gated one, and two calls on its warm zip
    importers (pyspark.zip, py4j, ...) re-read no archive."""
    from flod_spark.catalog.udf import _charge_stage

    def report(batches):
        for _ in _charge_stage(batches):
            pass
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        fn = zipimport.zipimporter.invalidate_caches
        finders = sys.path_importer_cache.values()
        yield pd.DataFrame(
            {
                "fn": [f"{fn.__module__}.{fn.__qualname__}"],
                "zips": [sum(isinstance(f, zipimport.zipimporter) for f in finders)],
                "reads": [len(reads)],
            }
        )

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_tax"
    )
    rows = li.mapInPandas(report, schema="fn string, zips long, reads long").collect()
    assert rows
    assert {r.fn for r in rows} == {GATED}
    assert all(r.zips > 0 for r in rows)
    assert sum(r.reads for r in rows) == 0
