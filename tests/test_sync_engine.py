"""End-to-end sync tests mirroring the reference suite + FIXTURES.md §5.

Reference golden: 10 resources, 3/page, fullSync → 10 target rows and 1
synctimes row (``/root/reference/test/index.mjs:195-206``). Extended with the
delta/safe-delta scenarios the reference leaves untested.
"""

from __future__ import annotations

import itertools
import json

import pytest
from pyspark.sql import functions as F

from sri2db_spark.model.schema import LAYOUT_LARGE, LAYOUT_MEDIUM, LAYOUT_SMALL
from sri2db_spark.operators.watermark import WatermarkStore
from sri2db_spark.sinks.lake import LakeTable
from sri2db_spark.sources.sri_api import SriApiReader
from sri2db_spark.sync.engine import Sri2DbSync
from sri2db_spark.sync.multi import Sri2DbMulti, merge_patch

from .fake_api import FakeSriApi

BASEURL = "https://fake.api"


def make_sync(spark, tmp_path, api: FakeSriApi, layout=LAYOUT_LARGE, **kw) -> Sri2DbSync:
    reader = SriApiReader(spark, BASEURL, fetch_json=api.fetch_json, limit=3)
    table = LakeTable(spark, str(tmp_path / "table"), layout)
    wm = WatermarkStore(spark, str(tmp_path / "synctimes"))
    return Sri2DbSync(
        reader=reader,
        table=table,
        path=api.path,
        baseurl=BASEURL if layout.has_baseurl else None,
        layout=layout,
        watermarks=wm,
        **kw,
    )


DERBY_COLUMNS = [
    ("href", "VARCHAR(200)"), ("key", "VARCHAR(64)"), ("modified", "TIMESTAMP"),
    ("jsondata", "VARCHAR(4000)"), ("resourcetype", "VARCHAR(32)"),
    ("path", "VARCHAR(200)"), ("baseurl", "VARCHAR(200)"),
]
_derby_dbs = itertools.count()


def make_jdbc_sync(spark, tmp_path, api: FakeSriApi, **kw):
    """The same endpoint as ``make_sync``, targeting a fresh embedded Derby
    table (quoted lowercase columns; VARCHAR staging, which Derby can
    compare, instead of the default CLOB)."""
    from sri2db_spark.sinks.jdbc import JdbcResourceSink  # noqa: PLC0415
    from sri2db_spark.sync.jdbc_engine import Sri2DbJdbcSync  # noqa: PLC0415

    sink = JdbcResourceSink(
        spark=spark, url=f"jdbc:derby:memory:se{next(_derby_dbs)};create=true",
        target_table="resources", layout=LAYOUT_LARGE, properties={},
        dialect="ansi",
    )
    conn = sink._connection()
    try:
        cols = ", ".join(f'"{c}" {t}' for c, t in DERBY_COLUMNS)
        conn.createStatement().executeUpdate(f"CREATE TABLE resources ({cols})")
    finally:
        conn.close()
    return Sri2DbJdbcSync(
        reader=SriApiReader(spark, BASEURL, fetch_json=api.fetch_json, limit=3),
        sink=sink,
        path=api.path,
        baseurl=BASEURL,
        layout=LAYOUT_LARGE,
        watermarks=WatermarkStore(spark, str(tmp_path / "synctimes")),
        staging_column_types=", ".join(f"{c} {t}" for c, t in DERBY_COLUMNS),
        **kw,
    )


MAKE_SYNC = {"lake": make_sync, "jdbc": make_jdbc_sync}


def synced_rows(spark, sync) -> list[tuple[str, str]]:
    """(href, jsondata) of every target row, sorted — lake or JDBC."""
    if isinstance(sync, Sri2DbSync):
        df = sync.table.read()
    else:
        df = spark.read.jdbc(sync.sink.url, sync.sink.target_table, properties={})
    return sorted((r["href"], r["jsondata"]) for r in df.collect())


def test_full_sync_reference_golden(spark, tmp_path):
    api = FakeSriApi(n=10, page_size=3)
    sync = make_sync(spark, tmp_path, api)
    res = sync.full_sync()
    assert res.resources_synced == 10
    assert res.rows_after == 10
    rows = {r["href"]: r for r in sync.table.read().collect()}
    assert set(rows) == {f"/a/{i}" for i in range(1, 11)}
    r = rows["/a/7"]
    assert r["key"] == "7"
    assert r["baseurl"] == BASEURL and r["path"] == "/a"
    assert r["resourcetype"] == "_A"
    doc = json.loads(r["jsondata"])
    assert doc["name"] == "Name of resource /a"
    # 1 synctimes row with an advanced watermark
    wm, start = sync.watermarks.get("resources", BASEURL, "/a", "FULL")
    assert wm is not None and start is not None


def test_full_sync_idempotent(spark, tmp_path):
    api = FakeSriApi(n=10)
    sync = make_sync(spark, tmp_path, api)
    sync.full_sync()
    res2 = sync.full_sync()
    assert res2.rows_after == 10
    assert sync.table.count() == 10


@pytest.mark.parametrize("layout", [LAYOUT_LARGE, LAYOUT_MEDIUM, LAYOUT_SMALL])
def test_optional_column_matrix(spark, tmp_path, layout):
    api = FakeSriApi(n=5)
    sync = make_sync(spark, tmp_path, api, layout=layout)
    res = sync.full_sync()
    assert res.rows_after == 5
    df = sync.table.read()
    assert set(df.columns) == set(layout.columns)


@pytest.mark.parametrize("prefer_updates", [False, True])
def test_full_sync_both_merge_modes(spark, tmp_path, prefer_updates):
    api = FakeSriApi(n=10)
    sync = make_sync(
        spark, tmp_path, api, prefer_updates_over_inserts=prefer_updates
    )
    sync.full_sync()
    api.update(3, "2020-01-01T00:00:00.000Z", name="renamed")
    api.drop_silently(9)  # stale row must vanish in full sync (C2/C3)
    res = sync.full_sync()
    assert res.rows_after == 9
    rows = {r["href"]: r for r in sync.table.read().collect()}
    assert "/a/9" not in rows
    assert json.loads(rows["/a/3"]["jsondata"])["name"] == "renamed"


def test_delta_sync_update_and_delete(spark, tmp_path):
    api = FakeSriApi(n=10)
    sync = make_sync(spark, tmp_path, api)
    sync.full_sync()
    api.update(2, "2020-06-01T00:00:00.000Z", name="v2")
    api.delete(5, "2020-06-01T00:00:01.000Z")
    res = sync.delta_sync()
    assert res.deletes_synced == 1
    assert res.rows_after == 9
    rows = {r["href"]: r for r in sync.table.read().collect()}
    assert "/a/5" not in rows
    assert json.loads(rows["/a/2"]["jsondata"])["name"] == "v2"


def test_delta_sync_uses_watermark_pushdown(spark, tmp_path):
    api = FakeSriApi(n=10)
    sync = make_sync(spark, tmp_path, api)
    sync.delta_sync()  # cold start: watermark 1900 → full scan via modifiedSince
    assert sync.table.count() == 10
    api.update(1, "2030-01-01T00:00:00.000Z")
    api.request_log.clear()
    res = sync.delta_sync()
    # Only resources past the watermark cross the wire (pushdown A4). The
    # conservative mark re-reads a small overlap window by design
    # (client.js:1826-1834), so the newest pre-existing resource may ride
    # along with the one real change — but never the whole collection.
    assert 1 <= res.resources_synced <= 2
    assert all("modifiedSince=" in u for u in api.request_log if "deleted" not in u)
    assert sync.table.count() == 10


def test_delta_explicit_since_skips_watermark_write(spark, tmp_path):
    api = FakeSriApi(n=10)
    sync = make_sync(spark, tmp_path, api)
    res = sync.delta_sync("2000-01-01T00:00:00.000Z")
    assert res.watermark_ms is None
    wm, _ = sync.watermarks.get("resources", BASEURL, "/a", "DELTA")
    assert wm is None  # README.md:174: explicit modifiedSince → no advance


def test_safe_delta_membership_exit_and_entry(spark, tmp_path):
    api = FakeSriApi(n=10)
    sync = make_sync(spark, tmp_path, api)
    sync.full_sync()
    # exit without tombstone + entry with old modified (invisible to delta)
    api.drop_silently(4)
    api.add(11, "2019-01-01T00:00:00.000Z")
    res = sync.safe_delta_sync()
    rows = {r["href"] for r in sync.table.read().collect()}
    assert "/a/4" not in rows  # C7 set-difference delete
    assert "/a/11" in rows  # C8 detect + A3 keyIn fetch + C9 gap insert
    assert res.rows_after == 10


def test_dry_run_leaves_table_unchanged(spark, tmp_path):
    api = FakeSriApi(n=10)
    sync = make_sync(spark, tmp_path, api, dry_run=True)
    res = sync.full_sync()
    assert res.rows_after == 10  # counts reported
    assert sync.table.count() == 0  # nothing committed (client.js:1808-1813)


def test_page_shift_duplicate_dedup(spark, tmp_path):
    """Same href on two pages with different modified → newest wins (C1)."""
    api = FakeSriApi(n=10)
    orig = api.fetch_json

    def dup_fetch(url):
        page = orig(url)
        if "offset" not in url and page["results"] and "$$expanded" in page["results"][0]:
            dup = json.loads(json.dumps(page["results"][0]))
            if dup["$$expanded"] is not None:
                dup["$$expanded"]["$$meta"]["modified"] = "2025-01-01T00:00:00.000Z"
                dup["$$expanded"]["name"] = "newest"
                page["results"].append(dup)
        return page

    sync = make_sync(spark, tmp_path, FakeSriApi(n=10))
    sync.reader.fetch_json = dup_fetch
    sync.full_sync()
    rows = {r["href"]: r for r in sync.table.read().collect()}
    assert len(rows) == 10
    assert json.loads(rows["/a/1"]["jsondata"])["name"] == "newest"


def test_multi_endpoint_shared_table_scoped_by_path(spark, tmp_path):
    api_a = FakeSriApi(path="/a", n=10)
    api_b = FakeSriApi(path="/b", n=4)
    table = LakeTable(spark, str(tmp_path / "table"), LAYOUT_LARGE)
    wm = WatermarkStore(spark, str(tmp_path / "synctimes"))
    syncs = [
        Sri2DbSync(
            reader=SriApiReader(spark, BASEURL, fetch_json=api.fetch_json, limit=3),
            table=table,
            path=api.path,
            baseurl=BASEURL,
            watermarks=wm,
        )
        for api in (api_a, api_b)
    ]
    multi = Sri2DbMulti(syncs, concurrency=2)
    settled = multi.full_sync()
    assert all(s.is_fulfilled for s in settled)
    assert table.count() == 14
    # syncing /a again never touches /b rows
    api_a.drop_silently(1)
    syncs[0].full_sync()
    df = table.read()
    assert df.filter(F.col("path") == "/b").count() == 4
    assert df.filter(F.col("path") == "/a").count() == 9


def test_merge_patch_rfc7386():
    base = {"api": {"baseUrl": "x", "limit": 3}, "db": {"table": "t"}}
    patch = {"api": {"path": "/a", "limit": None}}
    out = merge_patch(base, patch)
    assert out == {"api": {"baseUrl": "x", "path": "/a"}, "db": {"table": "t"}}


def test_expand_none_rows_href_only(spark, tmp_path):
    """expand=NONE rows: NULL modified/jsondata, key derived from href
    (client.js:322-332)."""
    api = FakeSriApi(n=3)
    reader = SriApiReader(spark, BASEURL, fetch_json=api.fetch_json, limit=3)
    df = reader.read_collection("/a", expand="NONE")
    from sri2db_spark.operators.normalize import repair_resources

    out = repair_resources(df).collect()
    assert all(r["resource"] is None and r["modified"] is None for r in out)
    assert {r["key"] for r in out} == {"1", "2", "3"}


def test_layout_discovery_from_existing_dataset(spark, tmp_path):
    """A9 parity: layout inferred from the dataset, not configuration."""
    from sri2db_spark.sinks.lake import LakeTable

    api = FakeSriApi(n=4)
    sync = make_sync(spark, tmp_path, api, layout=LAYOUT_MEDIUM)
    sync.full_sync()
    discovered = LakeTable.discover(spark, str(tmp_path / "table"))
    assert discovered.layout.has_path is True
    assert discovered.layout.has_baseurl is False
    assert discovered.layout.has_resourcetype is True
    assert discovered.count() == 4


def test_layout_discovery_on_manifest_backend(spark, tmp_path):
    """A9 on the versioned backend: the probe walks hive segments, resolves
    the leaf through its manifest, and reads the committed footer."""
    from sri2db_spark.sinks.committer import ManifestCommitter
    from sri2db_spark.sinks.lake import LakeTable

    api = FakeSriApi(n=4)
    reader = SriApiReader(spark, BASEURL, fetch_json=api.fetch_json, limit=3)
    table = LakeTable(
        spark, str(tmp_path / "table"), LAYOUT_LARGE,
        committer=ManifestCommitter(),
    )
    sync = Sri2DbSync(
        reader=reader, table=table, path=api.path, baseurl=BASEURL,
        layout=LAYOUT_LARGE,
        watermarks=WatermarkStore(spark, str(tmp_path / "wm")),
    )
    sync.full_sync()
    discovered = LakeTable.discover(
        spark, str(tmp_path / "table"), committer=ManifestCommitter()
    )
    assert discovered.layout.has_path is True
    assert discovered.layout.has_baseurl is True
    assert discovered.layout.has_resourcetype is True
    assert discovered.count() == 4


def make_null_baseurl_sync(spark, tmp_path, api: FakeSriApi, **kw) -> Sri2DbSync:
    """The engine's *default* constructor shape: LAYOUT_LARGE with
    baseurl=None — every scoping join sees a NULL key column."""
    reader = SriApiReader(spark, BASEURL, fetch_json=api.fetch_json, limit=3)
    table = LakeTable(spark, str(tmp_path / "table"), LAYOUT_LARGE)
    wm = WatermarkStore(spark, str(tmp_path / "synctimes"))
    return Sri2DbSync(
        reader=reader, table=table, path=api.path, baseurl=None,
        layout=LAYOUT_LARGE, watermarks=wm, **kw,
    )


@pytest.mark.parametrize("prefer_updates", [False, True])
def test_null_baseurl_full_delta_safe_reconcile(spark, tmp_path, prefer_updates):
    """Regression (ADVICE r1 / VERDICT r2 #1): NULL scoping keys must behave
    as values in every merge join (IS NOT DISTINCT FROM semantics, like the
    JDBC path) — plain == joins silently corrupted all three sync flavors."""
    api = FakeSriApi(n=10)
    sync = make_null_baseurl_sync(
        spark, tmp_path, api, prefer_updates_over_inserts=prefer_updates
    )
    res = sync.full_sync()
    assert res.rows_after == 10
    rows = {r["href"]: r for r in sync.table.read().collect()}
    assert set(rows) == {f"/a/{i}" for i in range(1, 11)}
    assert all(r["baseurl"] is None for r in rows.values())
    # no all-NULL phantom rows from a broken insert sentinel
    assert sync.table.read().filter(F.col("href").isNull()).count() == 0

    # delta: update + tombstone delete must both land
    api.update(2, "2020-06-01T00:00:00.000Z", name="v2")
    api.delete(5, "2020-06-01T00:00:01.000Z")
    res = sync.delta_sync()
    assert res.rows_after == 9
    rows = {r["href"]: r for r in sync.table.read().collect()}
    assert "/a/5" not in rows
    assert json.loads(rows["/a/2"]["jsondata"])["name"] == "v2"

    # safe delta: silent exit + old-modified entry; C7 must NOT empty the
    # partition on NULL keys
    api.drop_silently(4)
    api.add(11, "2019-01-01T00:00:00.000Z")
    res = sync.safe_delta_sync()
    rows = {r["href"] for r in sync.table.read().collect()}
    assert "/a/4" not in rows
    assert "/a/11" in rows
    assert res.rows_after == 9


def test_safe_delta_skips_tombstone_scan(spark, tmp_path):
    """Reference skips the deleted-feed scan on safeDeltaSync
    (client.js:1726) — membership reconciliation covers deletions."""
    api = FakeSriApi(n=5)
    sync = make_sync(spark, tmp_path, api)
    sync.full_sync()
    api.delete(3, "2020-06-01T00:00:00.000Z")
    api.request_log.clear()
    res = sync.safe_delta_sync()
    assert not any("$$meta.deleted=true" in u for u in api.request_log)
    assert res.deletes_synced == 0  # reported like the reference
    assert "/a/3" not in {r["href"] for r in sync.table.read().collect()}


def test_safe_delta_gap_exceeds_one_keyin_batch(spark, tmp_path):
    """Gap list > one keyIn batch (≤500 keys / ≤2048 URL chars): the
    executor-side fetch must batch correctly and insert every gap row without
    materializing the href list on the driver."""
    api = FakeSriApi(n=5)
    sync = make_sync(spark, tmp_path, api)
    sync.full_sync()
    # 520 resources entering with an old modified — invisible to the delta
    # scan, only membership reconciliation sees them
    for i in range(100, 620):
        api.add(i, "2019-01-01T00:00:00.000Z")
    res = sync.safe_delta_sync()
    assert res.rows_after == 525
    assert sync.table.count() == 525
    row = sync.table.read().filter(F.col("href") == "/a/300").first()
    assert row is not None and row["jsondata"] is not None


def test_repair_ingest_timestamp_fixed_across_jobs(spark, tmp_path):
    """ADVICE r1 item 2: the default-modified repair timestamp must be one
    fixed driver-side value per sync, not a per-job current_timestamp() —
    the watermark-stats job and the write job must agree."""
    api = FakeSriApi(n=3)
    for r in api.resources.values():
        del r["$$meta"]["modified"]
    sync = make_sync(spark, tmp_path, api)
    res = sync.full_sync()
    ms_vals = {
        r["ms"]
        for r in sync.table.read().select(F.unix_millis("modified").alias("ms")).collect()
    }
    assert len(ms_vals) == 1  # one ingest instant for the whole batch
    m_ms = ms_vals.pop()
    # first sync: watermark = lastSeen − 1.01·duration (client.js:1826-1834);
    # lastSeen comes from the stats job, the stored modified from the write
    # job — they must be the same instant for this identity to hold.
    assert res.watermark_ms == int(m_ms - 1.01 * res.elapsed_ms)


def test_watermark_store_concurrent_puts(spark, tmp_path):
    """ADVICE r1 item 4: concurrent puts to one shared store location must
    not lose writes (read-modify-replace is serialized per location)."""
    import threading

    store = WatermarkStore(spark, str(tmp_path / "wm"))
    errs: list[Exception] = []

    def put(i: int) -> None:
        try:
            store.put("t", None, f"/p{i}", "DELTA", 1000 + i, 2000 + i)
        except Exception as e:  # surfaced after join
            errs.append(e)

    threads = [threading.Thread(target=put, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    for i in range(6):
        wm, ss = store.get("t", None, f"/p{i}", "DELTA")
        assert (wm, ss) == (1000 + i, 2000 + i)


def _plan_fingerprint(out: str) -> list[str]:
    """Operator-shape fingerprint of an explain('formatted') dump: the
    ordered operator names, stripped of ids/arguments."""
    ops = []
    for line in out.splitlines():
        s = line.strip()
        if s.startswith(("+-", "*(")) or (s and s[0] == ":"):
            name = s.lstrip("+-*: (").split("(")[0].split()[0]
            if name and name[0].isupper():
                ops.append(name)
    return ops


def test_synthetic_api_full_delta_and_dup_echo_merge(spark, tmp_path):
    """The generated scale API (SyntheticSriApi, the 2M-bench source)
    drives the REAL engine correctly at small n: sharded full sync lands
    every resource; an explicit-watermark delta applies spread updates,
    hot duplicate echoes (the C1 dedup case) and tombstones; and the
    staged-merge physical plan has the identical operator shape as the
    FakeSriApi-driven sync — the 2M bench exercises the same plan."""
    from .fake_api import SyntheticSriApi, seq_ts

    n, upd, tomb, echoes = 200, 40, 10, 60
    api = SyntheticSriApi(
        n=n, page_size=25, n_updates=upd, n_hot_echoes=echoes, n_hot=5,
        n_tombstones=tomb,
    )
    reader = SriApiReader(spark, BASEURL, fetch_json=api.fetch_json, limit=25)
    table = LakeTable(spark, str(tmp_path / "t"), LAYOUT_LARGE)
    wm = WatermarkStore(spark, str(tmp_path / "w"))
    sync = Sri2DbSync(
        reader=reader, table=table, path="/a", baseurl=BASEURL,
        layout=LAYOUT_LARGE, watermarks=wm, full_sync_shard_size=50,
    )
    res = sync.full_sync()
    assert res.rows_after == n
    res2 = sync.delta_sync(modified_since=seq_ts(60 * n))
    assert res2.rows_after == n - tomb
    assert res2.deletes_synced == tomb
    rows = {r["href"]: r for r in table.read().collect()}
    assert len(rows) == n - tomb
    # every updated (non-tombstoned) href carries its update timestamp —
    # the hot echoes (exact duplicates) were deduped, not double-applied
    upd_hrefs = {
        f"/a/{api._upd_idx(k)}": api._upd_ts(k)
        for k in range(upd)
        if api._upd_idx(k) <= n - tomb
    }
    for href, ts in upd_hrefs.items():
        assert json.loads(rows[href]["jsondata"])["$$meta"]["modified"] == ts


def test_synthetic_and_fake_api_merge_plans_match(spark, tmp_path, capsys):
    """Plan golden for the scale bench: the merge plan driven by the
    synthetic 2M-bench API is operator-for-operator the one the 20k
    FakeSriApi bench (and production) runs — scaling the bench changed
    the data source, not the plan."""
    from .fake_api import SyntheticSriApi

    fake = FakeSriApi(n=20)
    s1 = make_sync(spark, tmp_path / "f", fake, explain=True)
    s1.full_sync()
    fp_fake = _plan_fingerprint(capsys.readouterr().out)

    api = SyntheticSriApi(n=20, page_size=10)
    reader = SriApiReader(spark, BASEURL, fetch_json=api.fetch_json, limit=10)
    s2 = Sri2DbSync(
        reader=reader,
        table=LakeTable(spark, str(tmp_path / "s"), LAYOUT_LARGE),
        path="/a",
        baseurl=BASEURL,
        layout=LAYOUT_LARGE,
        watermarks=WatermarkStore(spark, str(tmp_path / "ws")),
        explain=True,
    )
    s2.full_sync()
    fp_syn = _plan_fingerprint(capsys.readouterr().out)
    assert fp_fake and fp_syn == fp_fake


def test_explain_hook_prints_plan(spark, tmp_path, capsys):
    api = FakeSriApi(n=3)
    sync = make_sync(spark, tmp_path, api, explain=True)
    sync.full_sync()
    out = capsys.readouterr().out
    assert "Physical Plan" in out


def test_compact_partition_shrinks_files_keeps_data(spark, tmp_path):
    """Thousands of delta syncs leave a partition as many tiny files;
    compaction must rewrite the layout (fewer files) without changing a
    single value, via the same atomic-swap protocol as replace_partition."""
    api = FakeSriApi(n=40, page_size=7)
    sync = make_sync(spark, tmp_path, api)
    sync.full_sync()
    table = sync.table
    # fragment the partition: rewrite it from a deliberately over-split plan
    frag = table.read_partition(BASEURL, api.path).repartition(16)
    table.replace_partition(frag, BASEURL, api.path)
    before_rows = sorted(
        (r["href"], r["jsondata"]) for r in table.read().collect()
    )
    n_before, n_after = table.compact_partition(BASEURL, api.path)
    assert n_before > 1 and n_after < n_before
    assert n_after == 1  # tiny data → one target-sized file
    after_rows = sorted(
        (r["href"], r["jsondata"]) for r in table.read().collect()
    )
    assert after_rows == before_rows


def test_compact_partition_missing_is_noop(spark, tmp_path):
    table = LakeTable(spark, str(tmp_path / "table"), LAYOUT_LARGE)
    assert table.compact_partition("https://x", "/nope") == (0, 0)


@pytest.mark.parametrize("target", ["lake", "jdbc"])
def test_full_sync_offset_sharded_matches_sequential(spark, tmp_path, target):
    """The A2 offset-sharded full sync (executor-side disjoint ranges) must
    produce byte-identical table contents to sequential next-link paging,
    and must actually fan out offset requests instead of walking next
    links — into the lake and into a live database alike (the feed read is
    the shared lifecycle's)."""
    make = MAKE_SYNC[target]
    api_seq = FakeSriApi(n=50, page_size=7)
    seq = make(spark, tmp_path / "seq", api_seq)
    seq.full_sync()
    want = synced_rows(spark, seq)
    assert len(want) == 50

    api_sh = FakeSriApi(n=50, page_size=7)
    sharded = make(spark, tmp_path / "sh", api_sh, full_sync_shard_size=10)
    res = sharded.full_sync()
    assert res.resources_synced == 50
    got = synced_rows(spark, sharded)
    assert got == want
    # fetches ran executor-side: the driver-process request log saw ONLY the
    # count probe (the sharded page reads hit the pickled copy inside the
    # Python workers), whereas sequential paging logs every page here
    driver_pages = [u for u in api_sh.request_log if "offset=" not in u]
    assert len(api_sh.request_log) == 1, api_sh.request_log
    assert "limit=1" in driver_pages[0]


def test_sharded_full_sync_falls_back_without_count(spark, tmp_path):
    """A server that doesn't report $$meta.count must silently get the
    sequential path — same results, no crash."""
    api = FakeSriApi(n=12, page_size=5)
    orig = api.fetch_json

    def no_count(url):
        payload = orig(url)
        payload.get("$$meta", {}).pop("count", None)
        return payload

    api.fetch_json = no_count
    reader = SriApiReader(spark, BASEURL, fetch_json=api.fetch_json, limit=5)
    table = LakeTable(spark, str(tmp_path / "table"), LAYOUT_LARGE)
    sync = Sri2DbSync(
        reader=reader, table=table, path=api.path, baseurl=BASEURL,
        layout=LAYOUT_LARGE, full_sync_shard_size=4,
    )
    res = sync.full_sync()
    assert res.rows_after == 12


def test_delta_sync_sharded_matches_sequential(spark, tmp_path, capsys):
    """r13: the A2 offset-sharded DELTA feed (delta_sync_shard_size) lands
    the identical table state and SyncResult counts as the driver-sequential
    A4 next-link scan, with an operator-identical merge plan — the sharding
    changes how the feed is paged, never what the sync computes."""
    from .fake_api import SyntheticSriApi, seq_ts

    n, upd, tomb, echoes = 200, 40, 10, 60

    def run(sub: str, shard: int | None):
        api = SyntheticSriApi(
            n=n, page_size=25, n_updates=upd, n_hot_echoes=echoes, n_hot=5,
            n_tombstones=tomb,
        )
        reader = SriApiReader(spark, BASEURL, fetch_json=api.fetch_json, limit=25)
        table = LakeTable(spark, str(tmp_path / sub), LAYOUT_LARGE)
        sync = Sri2DbSync(
            reader=reader, table=table, path="/a", baseurl=BASEURL,
            layout=LAYOUT_LARGE,
            watermarks=WatermarkStore(spark, str(tmp_path / f"w_{sub}")),
            full_sync_shard_size=50, delta_sync_shard_size=shard,
            explain=True,
        )
        sync.full_sync()
        capsys.readouterr()  # drop the full-sync plan
        res = sync.delta_sync(modified_since=seq_ts(60 * n))
        fp = _plan_fingerprint(capsys.readouterr().out)
        rows = sorted(
            (r["href"], r["jsondata"]) for r in table.read().collect()
        )
        return res, fp, rows

    res_seq, fp_seq, rows_seq = run("seq", None)
    res_sh, fp_sh, rows_sh = run("sh", 25)
    assert rows_sh == rows_seq
    assert (res_sh.rows_after, res_sh.resources_synced, res_sh.deletes_synced) == (
        res_seq.rows_after, res_seq.resources_synced, res_seq.deletes_synced
    )
    assert res_sh.rows_after == n - tomb
    # merge plan operator shape identical up to the feed's scan nodes
    # (Arrow LocalTableScan behind its Coalesce barrier vs offset-seed
    # LocalTableScan + mapInPandas shard scan)
    scanish = {
        "Scan", "MapInPandas", "ArrowEvalPython", "Exchange", "LocalTableScan",
        "Coalesce",
    }
    assert [o for o in fp_sh if o not in scanish] == [
        o for o in fp_seq if o not in scanish
    ]


def _ms(iso: str) -> int:
    import datetime as dt  # noqa: PLC0415

    return int(dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000)


@pytest.mark.parametrize("target", ["lake", "jdbc"])
def test_empty_collection_syncs(spark, tmp_path, target):
    """An empty collection through full, delta and safe-delta: every count
    is 0, the target stays empty, and no watermark is written (a sync that
    saw no records keeps the previous mark, here none). These runs take
    the observation fallbacks: the optimizer can prune the empty feed."""
    api = FakeSriApi(n=0)
    sync = MAKE_SYNC[target](spark, tmp_path, api)
    for run, synctype in (
        (sync.full_sync, "FULL"),
        (sync.delta_sync, "DELTA"),
        (sync.safe_delta_sync, "SAFEDELTA"),
    ):
        res = run()
        assert res.synctype == synctype
        assert (res.resources_synced, res.deletes_synced, res.rows_after) == (0, 0, 0)
        assert res.watermark_ms is None
        assert synced_rows(spark, sync) == []
        assert sync.watermarks.get("resources", BASEURL, api.path, synctype) == (None, None)


@pytest.mark.parametrize("target", ["lake", "jdbc"])
def test_dry_run_reports_the_count_it_would_leave(spark, tmp_path, target):
    """A dry-run full sync after the feed gained a row reports the row
    count the sync would leave (11) on both targets — the JDBC count runs
    inside the merge transaction, before its rollback — and leaves the
    target and the watermark unchanged."""
    from .fake_api import seq_ts

    api = FakeSriApi(n=10)
    sync = MAKE_SYNC[target](spark, tmp_path, api)
    assert sync.full_sync().rows_after == 10
    want = synced_rows(spark, sync)
    wm = sync.watermarks.get("resources", BASEURL, api.path, "FULL")
    api.add(11, modified=seq_ts(60 * 11))
    sync.dry_run = True
    res = sync.full_sync()
    assert res.dry_run and (res.resources_synced, res.rows_after) == (11, 11)
    assert synced_rows(spark, sync) == want
    assert sync.watermarks.get("resources", BASEURL, api.path, "FULL") == wm


@pytest.mark.parametrize("target", ["lake", "jdbc"])
def test_no_change_delta_syncs(spark, tmp_path, target):
    """A full sync of 5 rows, then delta and safe-delta syncs whose
    watermark is at the newest ``modified``: nothing is fetched, deleted or
    gap-filled, the target keeps its 5 rows, and the watermark stays put."""
    from .fake_api import seq_ts

    api = FakeSriApi(n=5)
    sync = MAKE_SYNC[target](spark, tmp_path, api)
    res = sync.full_sync()
    assert (res.resources_synced, res.deletes_synced, res.rows_after) == (5, 0, 5)
    want = synced_rows(spark, sync)
    assert [h for h, _ in want] == [f"/a/{i}" for i in range(1, 6)]
    newest = _ms(seq_ts(60 * 5))
    full_wm, _ = sync.watermarks.get("resources", BASEURL, api.path, "FULL")
    assert full_wm is not None and full_wm <= newest

    for run, synctype in ((sync.delta_sync, "DELTA"), (sync.safe_delta_sync, "SAFEDELTA")):
        sync.watermarks.put("resources", BASEURL, api.path, synctype, newest, newest)
        res = run()
        assert res.synctype == synctype
        assert (res.resources_synced, res.deletes_synced, res.rows_after) == (0, 0, 5)
        assert res.watermark_ms == newest
        assert synced_rows(spark, sync) == want
        assert sync.watermarks.get("resources", BASEURL, api.path, synctype)[0] == newest
