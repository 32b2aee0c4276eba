"""Sync lifecycle (SURVEY §3): fullSync / deltaSync / safeDeltaSync.

All three flavors, for every target, funnel into one generic ``_sync``
exactly like the reference's ``sync(modifiedSince, safeDeltaSync)``
(``src/lib/client.js:1649``, entry points :1923-1941):

  fullSync       = _sync(full=True)        scan all → replace partition
  deltaSync      = _sync(since=watermark)  tombstones + changed rows → merge
  safeDeltaSync  = deltaSync + set-membership reconciliation (client.js:1776-1805)

plus the reference's operational semantics: single-flight mutex
(client.js:1897-1915), dry-run (client.js:1808-1813), conservative watermark
advance (client.js:1816-1843; skipped when the caller passed an explicit
modifiedSince — README.md:174).

:class:`SyncLifecycle` owns all of that once. A target plugs in through a
two-method adapter: ``_target_keys`` (the target's keys in this sync's
scope, for safe-delta gap detection) and ``_apply`` (apply one
:class:`SyncBatch`, return ``rows_after``). :class:`Sri2DbSync` is the lake
adapter; ``sync.jdbc_engine.Sri2DbJdbcSync`` is the live-database one.
"""

from __future__ import annotations

import datetime as dt
import threading
import time
from dataclasses import KW_ONLY, dataclass, field
from typing import ClassVar

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ..model.schema import LAYOUT_LARGE, TableLayout
from ..observation import observed_row
from ..operators.merge import (
    anti_join_missing,
    insert_if_absent,
    merge_full,
    merge_incremental,
    set_difference_delete,
)
from ..operators.normalize import project_to_row, repair_resources
from ..operators.watermark import (
    COLD_START_MILLIS,
    WatermarkStore,
    advance_watermark,
    max_modified_millis,
)
from ..sinks.lake import LakeTable
from ..sources.sri_api import SriApiReader, feed_url


def _now_ms() -> int:
    return int(time.time() * 1000)


def _ms_to_iso(ms: int) -> str:
    return (
        dt.datetime.fromtimestamp(ms / 1000.0, tz=dt.timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%S.%f")[:-3]
        + "Z"
    )


def _count() -> Column:
    return F.count(F.lit(1)).alias("n")


def _batch_stats() -> list[Column]:
    """Batch size + watermark max (B5) of a staged frame."""
    return [_count(), F.unix_millis(F.max("modified")).alias("mx")]


@dataclass
class SyncResult:
    """Mirrors the reference's sync result object (client.js:1845-1848)."""

    synctype: str
    resources_synced: int
    deletes_synced: int
    rows_after: int
    elapsed_ms: int
    dry_run: bool
    watermark_ms: int | None = None

    @property
    def records_per_s(self) -> float:
        return self.resources_synced / max(self.elapsed_ms / 1000.0, 1e-9)


@dataclass(frozen=True)
class SyncBatch:
    """What one sync hands its target's ``_apply``. ``staged`` is the raw
    feed in row shape (C1 latest-wins dedup is the target's job);
    ``deletes`` are the tombstone keys (plain delta only); ``membership``
    the collection's keys and ``gaps`` the keyIn-fetched rows missing from
    both target and feed (safe delta only)."""

    full: bool
    staged: DataFrame
    deletes: DataFrame | None = None
    membership: DataFrame | None = None
    gaps: DataFrame | None = None


@dataclass
class SyncLifecycle:
    """The one sync lifecycle. Subclasses declare the target (positional,
    after ``reader``) and ``path``, and implement the two adapter methods."""

    reader: SriApiReader
    _: KW_ONLY
    baseurl: str | None = None
    layout: TableLayout = LAYOUT_LARGE
    watermarks: WatermarkStore | None = None
    tablename: str = "resources"
    prefer_updates_over_inserts: bool = False  # pg default, client.js:113
    deleted_not_implemented: bool = False  # README.md:78
    dry_run: bool = False
    # Scale path for full syncs: when set, probe $$meta.count and read the
    # collection as disjoint executor-owned offset shards of this many rows
    # (A2 offset addressing, client.js:1498-1501) instead of sequential
    # next-link paging. Requires an offset-addressable server; falls back to
    # sequential when the count probe returns nothing.
    full_sync_shard_size: int | None = None
    # Same A2 offset sharding for the DELTA feed: a large deployment's
    # modifiedSince feed can be millions of rows, and the driver-sequential
    # next-link scan (the A4 reference-fidelity path, which stays the
    # default) serializes it. The probe carries the same modifiedSince
    # predicate, so the sharded read pages exactly the rows the sequential
    # scan would — provided the feed is quiescent between the count probe
    # and the shard reads: a row deleted or inserted in between shifts the
    # offsets, so a row can fall between two shards and the watermark can
    # move past it. The tombstone feed stays sequential — it is expand=NONE
    # and orders of magnitude smaller than the update feed.
    delta_sync_shard_size: int | None = None
    _lock: threading.Lock = field(
        default_factory=threading.Lock, init=False, repr=False, compare=False
    )

    # True when the target's full merge-mode apply consumes the staged
    # batch twice inside ONE plan, where a duplicated CollectMetrics node
    # would double-count: that path takes its batch stats eagerly instead.
    _full_merge_reads_batch_twice: ClassVar[bool] = False

    # -- public entry points (client.js:1923-1941) ---------------------------

    def full_sync(self) -> SyncResult:
        return self._sync(None, full=True)

    def delta_sync(self, modified_since: str | None = None) -> SyncResult:
        return self._sync(modified_since, full=False)

    def safe_delta_sync(self, modified_since: str | None = None) -> SyncResult:
        return self._sync(modified_since, full=False, safe=True)

    def configured_sync(self, synctype: str = "deltaSync") -> SyncResult:
        return {
            "fullSync": self.full_sync,
            "deltaSync": self.delta_sync,
            "safeDeltaSync": self.safe_delta_sync,
        }[synctype]()

    # -- the target adapter ---------------------------------------------------

    def _target_keys(self) -> DataFrame:
        """The target's key columns within this sync's scope."""
        raise NotImplementedError

    def _apply(self, batch: SyncBatch) -> int:
        """Merge ``batch`` into the target (or roll back on a dry run) and
        return the scope's row count afterwards."""
        raise NotImplementedError

    # -- lifecycle ------------------------------------------------------------

    def _scope_path(self) -> str:
        return self.path.split("?")[0]

    def _stage(self, pages_df, ingest_ts) -> DataFrame:
        """repair (B2) + project (B3) a raw (href, resource) scan to row shape.

        ``ingest_ts`` is the sync's fixed driver-side ingest timestamp: the
        default-``modified`` repair must not re-evaluate ``current_timestamp()``
        per job, or the watermark-stats job and the final write would see
        different values for the same repaired row.
        """
        return project_to_row(
            repair_resources(pages_df, ingest_ts),
            self.layout,
            self.baseurl,
            self._scope_path(),
        )

    def _read_feed(self, modified_since: str | None) -> DataFrame:
        """The update feed (A1/A4/A6), full when ``modified_since`` is None.

        With this sync type's shard size set and a server that reports
        ``$$meta.count``, the feed is read as executor-side offset shards
        (A2); otherwise by driver-sequential next-link paging. Probe,
        shards and the sequential scan all take their filters from
        ``feed_url``, so they page the same filtered collection."""
        shard = (
            self.delta_sync_shard_size if modified_since else self.full_sync_shard_size
        )
        if shard:
            query = feed_url(self.path, modified_since=modified_since)
            total = self.reader.probe_count(query)
            if total:
                return self.reader.read_offset_sharded(
                    query, total_count=total, shard_size=shard
                )
        return self.reader.read_collection(
            self.path, modified_since=modified_since, expand="FULL"
        )

    def _sync(self, modified_since: str | None, full: bool, safe: bool = False) -> SyncResult:
        # D4 single-flight: a sync started while one runs is rejected with 0
        # (client.js:1897-1899, README.md:176).
        if not self._lock.acquire(blocking=False):
            return SyncResult("REJECTED", 0, 0, -1, 0, self.dry_run)
        try:
            return self._run(modified_since, full, safe)
        finally:
            self._lock.release()

    def _run(self, modified_since: str | None, full: bool, safe: bool) -> SyncResult:
        syncstart = _now_ms()
        synctype = "FULL" if full else ("SAFEDELTA" if safe else "DELTA")
        explicit_since = modified_since is not None
        # one fixed ingest timestamp for every staging step of this sync
        ingest = F.lit(
            dt.datetime.fromtimestamp(syncstart / 1000.0, tz=dt.timezone.utc)
        )
        keys = self.layout.key_columns

        prev_wm_ms = prev_start_ms = None
        if not full and self.watermarks is not None:
            prev_wm_ms, prev_start_ms = self.watermarks.get(
                self.tablename, self.baseurl, self._scope_path(), synctype
            )
        if not full and modified_since is None:
            # cold-start watermark 1900-01-01 (client.js:1590-1598)
            modified_since = _ms_to_iso(prev_wm_ms if prev_wm_ms is not None else COLD_START_MILLIS)

        # Tombstone scan (A5, client.js:1726-1741), plain delta only.
        # Deliberately skipped on safeDeltaSync, exactly like the reference
        # (client.js:1726: !isFullSync && !isSafeDeltaSync) — membership
        # reconciliation already covers deletions there; the extra scan would
        # be a full wasted API pass per safe sync. The count rides the job
        # that applies the tombstones (observe), not an eager count().
        deletes = deletes_pre = obs_deletes = None
        if not full and not safe and not self.deleted_not_implemented:
            raw_deletes = self.reader.read_collection(
                self.path, modified_since=modified_since, expand="NONE", deleted=True
            )
            deletes_pre = self._stage(raw_deletes, ingest).select(*keys)
            obs_deletes = Observation()
            deletes = deletes_pre.observe(obs_deletes, _count())

        # Scan + stage (A1/A2/A4/A6 → B1/B2/B3). Batch stats ride the
        # target's write job via observe(): the staged scan — at scale a
        # distributed API read (read_offset_sharded pages inside executor
        # Python workers) — is computed ONCE instead of once for the stats
        # and again for the merge.
        staged_pre = self._stage(
            self._read_feed(None if full else modified_since), ingest
        )
        stats = obs_staged = None
        staged = staged_pre
        if full and self.prefer_updates_over_inserts and self._full_merge_reads_batch_twice:
            stats = staged_pre.agg(*_batch_stats()).first()
        else:
            obs_staged = Observation()
            staged = staged_pre.observe(obs_staged, *_batch_stats())

        def staged_stats():
            return observed_row(
                obs_staged, lambda: staged_pre.agg(*_batch_stats()).first()
            )

        # Safe-delta membership reconciliation (A7/C7/C8/C9/A3,
        # client.js:1776-1805): members absent from both the target and the
        # feed are gaps (C8). The staged feed is materialized first: gap
        # detection and the apply both read it, and a sharded feed would
        # otherwise be fetched from the API once per job. The gap list is
        # unbounded after an outage, so it never materializes on the
        # driver: executor-side keyIn fetch (A3) over the missing hrefs,
        # persisted because both the watermark stats and the apply consume
        # it.
        membership = gaps = gap_max = None
        n_missing = 0
        if safe:
            staged = staged.localCheckpoint(eager=True)
            stats = staged_stats()  # filled by the checkpoint job
            membership_raw = self.reader.read_collection(self.path, expand="NONE")
            membership = self._stage(membership_raw, ingest).select(*keys).persist()
            known = self._target_keys().unionByName(staged.select(*keys))
            missing = anti_join_missing(membership, known, keys)
            n_missing = missing.count()
            if n_missing:
                fetched = self.reader.get_hrefs_distributed(
                    self.path, missing.select("href")
                )
                gaps = self._stage(fetched, ingest).persist()
                gap_max = max_modified_millis(gaps)

        # Merge + commit, or dry-run rollback (C1-C9, D6)
        rows_after = self._apply(SyncBatch(full, staged, deletes, membership, gaps))
        for df in (membership, gaps):
            if df is not None:
                df.unpersist()
        if stats is None:
            stats = staged_stats()  # filled by the apply's write
        n_staged = stats["n"] + n_missing
        seen = [ms for ms in (stats["mx"], gap_max) if ms is not None]
        last_seen_ms = max(seen) if seen else None
        n_deletes = 0
        if obs_deletes is not None:
            n_deletes = observed_row(
                obs_deletes, lambda: deletes_pre.agg(_count()).first()
            )["n"]

        # Watermark advance (B6) — skipped on explicit modifiedSince
        # (client.js:1816, README.md:174) and on dry runs.
        syncend = _now_ms()
        new_wm = None
        if not explicit_since and self.watermarks is not None and not self.dry_run:
            new_wm = advance_watermark(
                last_seen_ms, prev_wm_ms, prev_start_ms, syncstart, syncend
            )
            if new_wm is not None:
                self.watermarks.put(
                    self.tablename,
                    self.baseurl,
                    self._scope_path(),
                    synctype,
                    new_wm,
                    syncstart,
                )

        return SyncResult(
            synctype=synctype,
            resources_synced=n_staged,
            deletes_synced=n_deletes,
            rows_after=rows_after,
            elapsed_ms=syncend - syncstart,
            dry_run=self.dry_run,
            watermark_ms=new_wm,
        )


@dataclass
class Sri2DbSync(SyncLifecycle):
    """One API endpoint → one lake-table partition, incrementally."""

    table: LakeTable
    path: str
    _: KW_ONLY
    explain: bool = False  # print the merge's physical plan (client.js:168-179)

    # merge-mode merge_full semi-joins AND upserts the staged batch
    _full_merge_reads_batch_twice: ClassVar[bool] = True

    def _target(self) -> DataFrame:
        return self.table.read_partition(self.baseurl, self._scope_path())

    def _target_keys(self) -> DataFrame:
        return self._target().select(*self.layout.key_columns)

    def _apply(self, batch: SyncBatch) -> int:
        keys = self.layout.key_columns
        target = self._target()
        if batch.full:
            merged = merge_full(
                target, batch.staged, keys, self.prefer_updates_over_inserts
            )
        else:
            merged = merge_incremental(target, batch.staged, batch.deletes, keys)
        if batch.gaps is not None:
            merged = insert_if_absent(merged, batch.gaps, keys)  # C9
        if batch.membership is not None:
            merged = set_difference_delete(merged, batch.membership, keys)  # C7
        # EXPLAIN instrumentation hook (client.js:168-179)
        if self.explain:
            merged.explain("formatted")
        if self.dry_run:
            return merged.count()
        return self.table.replace_partition(merged, self.baseurl, self._scope_path())
