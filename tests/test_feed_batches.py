"""Plan guards for the feed reader's page batches.

``SriApiReader._page_batch_df`` builds each batch as an Arrow-backed JVM
``LocalTableScan`` behind a ``coalesce`` barrier (``localframe.scan_df``).
These tests pin the three properties that construction exists for: no
Python-RDD scan in the plan, staging projections that stay above the
barrier (not folded into the local relation at plan time), and rows equal
to those of the pickled-list construction it replaced.
"""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from sri2db_spark.localframe import empty_df
from sri2db_spark.model.schema import LAYOUT_LARGE
from sri2db_spark.operators.normalize import project_to_row, repair_resources
from sri2db_spark.sources.sri_api import PAGE_SCHEMA, SriApiReader

from .fake_api import FakeSriApi, seq_ts

BASEURL = "https://fake.api"
INGEST = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def _stage(df):
    return project_to_row(repair_resources(df, F.lit(INGEST)), LAYOUT_LARGE, BASEURL, "/a")


def _pickled_reader(spark, api) -> SriApiReader:
    """The same reader with the former pickled-list batch construction."""
    reader = SriApiReader(spark, BASEURL, fetch_json=api.fetch_json, limit=3)
    reader._page_batch_df = lambda buf: (  # noqa: SLF001
        spark.createDataFrame(buf, PAGE_SCHEMA) if buf else empty_df(spark, PAGE_SCHEMA)
    )
    return reader


def _sorted_rows(df) -> list[tuple]:
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple("" if v is None else str(v) for v in t),
    )


def test_read_collection_scans_a_jvm_local_table(spark):
    api = FakeSriApi(n=10)
    reader = SriApiReader(spark, BASEURL, fetch_json=api.fetch_json, limit=3)
    for rows_per_batch in (100_000, 4):
        plan = _executed(reader.read_collection("/a", rows_per_batch=rows_per_batch))
        assert "LocalTableScan" in plan
        assert "ExistingRDD" not in plan
        assert "Coalesce" in plan


def test_staging_projection_stays_above_the_barrier(spark):
    """``ConvertToLocalRelation`` must not fold the staging chain into the
    local relation: the executed plan keeps a Project over the Coalesce,
    and the scan carries only the raw (href, resource) columns."""
    api = FakeSriApi(n=10)
    reader = SriApiReader(spark, BASEURL, fetch_json=api.fetch_json, limit=3)
    plan = _executed(_stage(reader.read_collection("/a")))
    lines = [ln.strip() for ln in plan.splitlines()]
    assert re.match(r"(\*\(\d+\) )?Project ", lines[0]), plan
    assert any("Coalesce" in ln for ln in lines), plan
    scans = re.findall(r"LocalTableScan \[([^\]]*)\]", plan)
    assert scans, plan
    for cols in scans:
        names = {c.split("#")[0].strip() for c in cols.split(",")}
        assert names == {"href", "resource"}, plan


def _api_null_resource():
    return FakeSriApi(n=7), {"expand": "NONE"}


def _api_non_ascii():
    api = FakeSriApi(path="/résumé-東京", n=5)
    api.update(2, modified=seq_ts(600), name="Ærøskøbing – 東京 ✓")
    return api, {}


def _api_empty():
    return FakeSriApi(n=0), {}


def _api_multi_batch():
    return FakeSriApi(n=10), {"rows_per_batch": 4}


@pytest.mark.parametrize(
    "make",
    [_api_null_resource, _api_non_ascii, _api_empty, _api_multi_batch],
    ids=["null_resource", "non_ascii", "empty", "multi_batch"],
)
def test_rows_equal_the_pickled_list_construction(spark, make):
    api, kw = make()
    arrow = SriApiReader(spark, BASEURL, fetch_json=api.fetch_json, limit=3)
    pickled = _pickled_reader(spark, api)
    got = arrow.read_collection(api.path, **kw)
    want = pickled.read_collection(api.path, **kw)
    assert got.schema == want.schema
    assert _sorted_rows(got) == _sorted_rows(want)
    assert _sorted_rows(_stage(got)) == _sorted_rows(_stage(want))
    assert got.count() == len(api.resources)
