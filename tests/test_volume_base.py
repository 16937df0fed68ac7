"""Pins the r13 pristine-restore contract of ensure_volume_base: the
timed incremental apply mutates the shared volume store (appends quad +
ledger files), so every call must restore the seeded snapshot before the
next timed run — otherwise successive runs measure a progressively
degraded store (measured 38 s seeded -> 104 s by the ~20th apply on
identical code). Filesystem-only: exercises the restore branch with a
stub session, no Spark needed."""

import os
import shutil

import pytest
from test_pipeline import REF_SPARQL_DIR


class _Conf:
    def __init__(self, wh):
        self._wh = wh

    def get(self, key):
        assert key == "spark.sql.warehouse.dir"
        return "file:" + self._wh


class _StubSpark:
    def __init__(self, wh):
        self.conf = _Conf(wh)


def _seed(tmp_path):
    import __spark_entry__ as entry

    path = tmp_path / "kg_vol_base_v1_n10000"
    (path / "_ledger").mkdir(parents=True)
    (path / "_ledger" / "bucket0.parquet").write_bytes(b"seeded")
    (path / "_PIPELINE_DONE_V2").write_bytes(b"")
    shutil.copytree(path, tmp_path / "kg_vol_base_v1_n10000__pristine")
    return entry, path, _StubSpark(str(tmp_path))


def test_untouched_store_is_left_alone(tmp_path):
    entry, path, spark = _seed(tmp_path)
    assert entry.ensure_volume_base(spark, "unused") == str(path)
    assert (path / "_ledger" / "bucket0.parquet").read_bytes() == b"seeded"
    assert (path / "_PIPELINE_DONE_V2").exists()


def test_mutated_store_is_restored_from_pristine(tmp_path):
    entry, path, spark = _seed(tmp_path)
    # what an incremental apply does: append ledger/quad files
    (path / "_ledger" / "bucket1.parquet").write_bytes(b"applied delta")
    assert entry.ensure_volume_base(spark, "unused") == str(path)
    assert not (path / "_ledger" / "bucket1.parquet").exists()
    assert (path / "_ledger" / "bucket0.parquet").read_bytes() == b"seeded"
    # restore is repeatable: a second mutation restores again
    (path / "_ledger" / "bucket0.parquet").write_bytes(b"rewritten")
    entry.ensure_volume_base(spark, "unused")
    assert (path / "_ledger" / "bucket0.parquet").read_bytes() == b"seeded"


def test_inventory_fingerprint_sees_count_and_bytes(tmp_path):
    import __spark_entry__ as entry

    d = tmp_path / "s"
    d.mkdir()
    (d / "a").write_bytes(b"xx")
    base = entry._store_inventory(str(d))
    assert base == (1, 2)
    (d / "b").write_bytes(b"y")
    assert entry._store_inventory(str(d)) == (2, 3)


def test_unseeded_store_without_mapping_files_raises_runtime_error(tmp_path):
    # bench.py's setup step skips exactly RuntimeError; any other error
    # would abort the whole bench run on a host without the mapping files
    import __spark_entry__ as entry

    if os.path.isdir(REF_SPARQL_DIR):
        pytest.skip("mapping files present: the call would build the store")
    with pytest.raises(RuntimeError, match="reference sparql dir"):
        entry.ensure_volume_base(_StubSpark(str(tmp_path)), "unused")
