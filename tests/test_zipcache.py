"""zipcache: unchanged archives are not re-read on invalidate_caches(),
changed ones are, and the fix reaches Spark's Python workers."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from knowledge_graph_etl_spark import zipcache

MOD = "kg_zipcache_probe_mod"


def _write_zip(path, source):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{MOD}.py", source)


@pytest.fixture
def archive(tmp_path):
    path = str(tmp_path / "probe.zip")
    _write_zip(path, "VALUE = 1\n")
    sys.path.insert(0, path)
    yield path
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    sys.modules.pop(MOD, None)
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_not_reread(archive, monkeypatch):
    assert zipcache.state() in ("active", "lazy")
    assert importlib.import_module(MOD).VALUE == 1
    # the first call after the archive was opened records its stamp
    importlib.invalidate_caches()

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads

    # a rewrite to a new size is picked up by the next import
    _write_zip(archive, "VALUE = 22222  # rewritten\n")
    sys.modules.pop(MOD)
    importlib.invalidate_caches()
    assert importlib.import_module(MOD).VALUE == 22222
    assert archive in reads


def test_install_is_idempotent():
    before = zipimport.zipimporter.invalidate_caches
    assert zipcache.install() == zipcache.state()
    assert zipimport.zipimporter.invalidate_caches is before


def test_fix_is_active_in_spark_workers(spark):
    from knowledge_graph_etl_spark import json_to_quads

    def _worker_state(batches):
        """Runs in a Python worker (defined here so it is pickled by
        value); it must not import the engine itself."""
        import zipimport

        import pandas as pd

        fn = zipimport.zipimporter.invalidate_caches
        if hasattr(zipimport.zipimporter, "_get_files"):
            state = "lazy"
        elif getattr(fn, "__module__", "") == "knowledge_graph_etl_spark.zipcache":
            state = "active"
        else:
            state = "off"
        for _ in batches:
            yield pd.DataFrame({"pid": [os.getpid()], "state": [state]})

    docs = spark.createDataFrame(
        [(f"d{i}", f'{{"name": "n{i}"}}') for i in range(64)],
        "doc_id string, json string",
    ).repartition(32)  # many tasks: every idle worker runs one
    assert json_to_quads(docs, "urn:g:z").count() > 0
    probe = spark.range(0, 8, numPartitions=8).mapInPandas(
        _worker_state, schema="pid long, state string"
    )
    rows = probe.collect()
    assert len(rows) == 8
    assert {r["state"] for r in rows} <= {"active", "lazy"}, rows
