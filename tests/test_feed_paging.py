"""The SRI reader's request sequences, pinned per read path, and the feed
reads that must neither lose nor repeat a page.

Every read path pages through one loop (A1 next links, A2 offset
addressing, A3 keyIn batches, the offset shards of the scale path). The
pins below list the exact URLs each path requests, recorded through
``RequestRecorder`` because shard and keyIn fetches run in executor
Python workers.
"""

from __future__ import annotations

import urllib.parse
from collections import Counter

from sri2db_spark.sources.sri_api import SriApiReader

from .fake_api import FakeSriApi, RequestRecorder, seq_ts
from .test_sync_engine import BASEURL, _ms, make_sync

SINCE = seq_ts(60)
Q_SINCE = "2019-07-16T07%3A01%3A00.000Z"  # SINCE, URL-quoted


def _api_with_tombstones() -> FakeSriApi:
    """Six live resources (/a/1../a/6) and two tombstones (/a/7, /a/8)."""
    api = FakeSriApi(n=8, page_size=3)
    api.delete(7, "2020-01-01T00:00:00.000Z")
    api.delete(8, "2020-01-02T00:00:00.000Z")
    return api


def _recorded_reader(spark, tmp_path, api, **kw) -> tuple[SriApiReader, RequestRecorder]:
    rec = RequestRecorder(api.fetch_json, tmp_path / "requests.log")
    return SriApiReader(spark, BASEURL, fetch_json=rec, limit=3, **kw), rec


def test_driver_scan_request_sequences(spark, tmp_path):
    """Next-link scan (A1/A4), tombstone scan (A5: stripped filters) and
    broken-links scan (A2: offsets synthesized after every full page)."""
    api = _api_with_tombstones()
    reader, rec = _recorded_reader(spark, tmp_path, api)

    assert reader.read_collection("/a?x=1", modified_since=SINCE).count() == 5
    assert rec.urls() == [
        f"{BASEURL}/a?x=1&limit=3&modifiedSince={Q_SINCE}&expand=FULL",
        f"{BASEURL}/a?x=1&limit=3&modifiedSince={Q_SINCE}&expand=FULL&offset=3",
    ]
    rec.clear()

    tombstones = reader.read_collection(
        "/a?x=1", modified_since=SINCE, expand="NONE", deleted=True
    )
    assert tombstones.count() == 2
    assert rec.urls() == [
        f"{BASEURL}/a?limit=3&$$meta.deleted=true&modifiedSince={Q_SINCE}&expand=NONE",
    ]
    rec.clear()

    api.broken_next_links = True
    reader, rec = _recorded_reader(spark, tmp_path, api, next_links_broken=True)
    assert reader.read_collection("/a").count() == 6
    assert rec.urls() == [
        f"{BASEURL}/a?limit=3&expand=FULL",
        f"{BASEURL}/a?limit=3&expand=FULL&offset=3",
        f"{BASEURL}/a?limit=3&expand=FULL&offset=6",
    ]


def test_sharded_delta_request_sequence(spark, tmp_path):
    """A plain delta with ``delta_sync_shard_size``: the sequential
    tombstone scan, one count probe carrying the delta predicate, then
    each shard's offset pages (page size capped at the shard's end), each
    requested once."""
    api = FakeSriApi(n=12, page_size=3)
    sync = make_sync(spark, tmp_path, api, delta_sync_shard_size=5)
    sync.full_sync()
    rec = RequestRecorder(api.fetch_json, tmp_path / "requests.log")
    sync.reader.fetch_json = rec

    res = sync.delta_sync(modified_since=SINCE)
    assert (res.resources_synced, res.rows_after) == (11, 12)
    urls = rec.urls()
    assert urls[:2] == [
        f"{BASEURL}/a?limit=3&$$meta.deleted=true&modifiedSince={Q_SINCE}&expand=NONE",
        f"{BASEURL}/a?modifiedSince={Q_SINCE}&limit=1",
    ]
    shard = f"{BASEURL}/a?modifiedSince={Q_SINCE}&expand=FULL"
    assert sorted(urls[2:]) == sorted(
        f"{shard}&limit={lim}&offset={off}"
        for lim, off in ((3, 0), (2, 3), (3, 5), (2, 8), (3, 10))
    )


def test_keyin_batch_request_sequence(spark, tmp_path):
    """A3: one task's hrefs split into keyIn batches of at most 500 keys
    (filters stripped, ``limit`` at least the batch size, ``expand=FULL``),
    each batch following its next links."""
    api = _api_with_tombstones()
    reader, rec = _recorded_reader(spark, tmp_path, api)
    hrefs = spark.createDataFrame(
        [(f"/a/{i}",) for i in range(1, 502)], "href string"
    ).coalesce(1)

    got = reader.get_hrefs_distributed("/a?x=1", hrefs)
    assert sorted(r["href"] for r in got.collect()) == [f"/a/{i}" for i in range(1, 7)]
    keys = ",".join(str(i) for i in range(1, 501))
    next_q = urllib.parse.urlencode(
        {"keyIn": keys, "limit": "500", "expand": "FULL", "offset": "3"}
    )
    assert rec.urls() == [
        f"{BASEURL}/a?keyIn={keys}&limit=500&expand=FULL",
        f"{BASEURL}/a?{next_q}",
        f"{BASEURL}/a?keyIn=501&limit=3&expand=FULL",
    ]


def test_safe_delta_keyin_gap_fetch_with_broken_next_links(spark, tmp_path):
    """With broken next links, the keyIn gap fetch pages by offset like
    every other read: 60 gap resources (older than the watermark, so only
    membership reconciliation sees them) all land, not one page per
    keyIn batch."""
    api = FakeSriApi(n=5, page_size=3)
    api.broken_next_links = True
    sync = make_sync(spark, tmp_path, api)
    sync.reader.next_links_broken = True
    assert sync.safe_delta_sync().rows_after == 5
    for i in range(100, 160):
        api.add(i, "2019-01-01T00:00:00.000Z")

    res = sync.safe_delta_sync()
    assert res.synctype == "SAFEDELTA"
    assert res.rows_after == 65
    assert sync.table.count() == 65


def test_sharded_safe_delta_reads_its_feed_once(spark, tmp_path):
    """A safe delta with ``delta_sync_shard_size`` requests each feed shard
    page once: gap detection and the target's write share one staged
    read instead of each re-running the executor-side shard fetch."""
    api = FakeSriApi(n=40, page_size=5)
    sync = make_sync(spark, tmp_path, api, delta_sync_shard_size=10)
    sync.reader.limit = 5
    sync.full_sync()
    newest = _ms(seq_ts(60 * 40))
    sync.watermarks.put("resources", BASEURL, api.path, "SAFEDELTA", newest, newest)
    for i in range(1, 13):
        api.update(i, f"2020-01-01T00:00:{i:02d}.000Z", name=f"renamed {i}")
    api.add(41, "2020-01-02T00:00:00.000Z")  # enters through the feed
    api.add(42, "2019-01-01T00:00:00.000Z")  # older than the mark: a gap
    rec = RequestRecorder(api.fetch_json, tmp_path / "requests.log")
    sync.reader.fetch_json = rec

    res = sync.safe_delta_sync()
    assert (res.resources_synced, res.rows_after) == (14, 42)
    assert sync.table.count() == 42
    shard_urls = [u for u in rec.urls() if "&offset=" in u and "modifiedSince" in u]
    assert len(set(shard_urls)) == 3, shard_urls
    repeated = {u: n for u, n in Counter(rec.urls()).items() if n > 1}
    assert repeated == {}
