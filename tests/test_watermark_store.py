"""The synctimes control table read and written on the driver.

``WatermarkStore.get``/``put`` go through ``pyarrow.parquet`` and
``committer.fs`` instead of Spark jobs. The files stay plain parquet in
``SYNCTIMES_SCHEMA``, so a store written either way reads back both ways.
"""

from __future__ import annotations

import os

import pytest

from sri2db_spark.model.schema import SYNCTIMES_SCHEMA
from sri2db_spark.operators.watermark import WatermarkStore
from sri2db_spark.sinks.committer import ManifestCommitter, RenameCommitter
from sri2db_spark.sinks.fs import FsspecFS

from .fake_fsspec import FakeFsspecFileSystem

ROWS = [
    ("resources", "https://a.api", "/a", "FULL", 1000, 2000),
    ("resources", "https://a.api", "/a", "DELTA", 1500, 2500),
    ("persons", None, "/p", "DELTA", 7000, 8000),
    ("persons", "https://b.api", None, "SAFEDELTA", None, 9000),
]

COMMITTERS = {
    "rename": RenameCommitter,
    "manifest": ManifestCommitter,
    "fsspec": lambda: ManifestCommitter(
        fs=FsspecFS(FakeFsspecFileSystem(), allow_weak_cas=True)
    ),
}


def _spark_write(spark, store: WatermarkStore, rows) -> None:
    """The store as the Spark-job implementation wrote it: a
    ``coalesce(1)`` parquet write (``_SUCCESS`` and ``.crc`` files beside
    the part file) into a staged directory, then the commit."""
    tmp = store.committer.stage(store.location)
    spark.createDataFrame(rows, SYNCTIMES_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(tmp)
    store.committer.commit(tmp, store.location)


def _spark_rows(spark, store: WatermarkStore) -> list[tuple]:
    physical = store.committer.resolve(store.location)
    df = spark.read.schema(SYNCTIMES_SCHEMA).parquet(
        store.committer.fs.spark_path(physical)
    )
    return sorted((tuple(r) for r in df.collect()), key=str)


def test_get_and_put_start_no_spark_job(spark, tmp_path):
    sc = spark.sparkContext
    store = WatermarkStore(spark, str(tmp_path / "synctimes"))
    group = "watermark-store-no-jobs"
    sc.setJobGroup(group, "watermark get/put")
    try:
        assert store.get("resources", None, "/a", "DELTA") == (None, None)
        store.put("resources", None, "/a", "DELTA", 10, 20)
        store.put("resources", None, "/b", "DELTA", 30, 40)
        assert store.get("resources", None, "/a", "DELTA") == (10, 20)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
        # the probe sees jobs when there are some
        spark.range(3).count()
        assert sc.statusTracker().getJobIdsForGroup(group) != []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize("kind", ["rename", "manifest"])
def test_store_written_by_spark_reads_back(spark, tmp_path, kind):
    store = WatermarkStore(spark, str(tmp_path / "synctimes"), committer=COMMITTERS[kind]())
    _spark_write(spark, store, ROWS)
    physical = store.committer.resolve(store.location)
    names = os.listdir(physical)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    for table, base, path, synctype, last, start in ROWS:
        assert store.get(table, base, path, synctype) == (last, start)
    assert store.get("resources", None, "/a", "FULL") == (None, None)
    # an upsert into the Spark-written store keeps every other row
    store.put("resources", "https://a.api", "/a", "DELTA", 1600, 2600)
    want = ROWS[:1] + ROWS[2:] + [("resources", "https://a.api", "/a", "DELTA", 1600, 2600)]
    assert _spark_rows(spark, store) == sorted(want, key=str)


@pytest.mark.parametrize("kind", sorted(COMMITTERS))
def test_store_written_by_put_reads_through_spark(spark, tmp_path, kind):
    store = WatermarkStore(spark, str(tmp_path / "synctimes"), committer=COMMITTERS[kind]())
    store.put(*ROWS[0][:4], 1, 2)
    for row in ROWS:  # the first upsert replaces the row above
        store.put(*row)
    assert _spark_rows(spark, store) == sorted(ROWS, key=str)
    for table, base, path, synctype, last, start in ROWS:
        assert store.get(table, base, path, synctype) == (last, start)
