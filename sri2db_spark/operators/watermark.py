"""Watermark bookkeeping (SURVEY §2 A10/B5/B6).

The reference keeps a per-(table, baseurl, path, synctype) high-water mark in
``sri2db_synctimes`` and advances it with clock-skew-compensated arithmetic
(``src/lib/client.js:1816-1843``). The mark is driver-side scalar state — tiny
— so the store is a single small parquet control table that the driver reads
and rewrites itself, atomically per sync (exactly the reference's
DELETE+INSERT upsert, client.js:714-751).
"""

from __future__ import annotations

import os
import threading
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..model.schema import SYNCTIMES_SCHEMA

# Cold-start watermark: 1900-01-01T00:00:00Z (client.js:1597)
COLD_START_MILLIS = -2208988800000

# Per-location process-level locks: Sri2DbMulti(concurrency>1) shares one
# synctimes location across endpoints; an unsynchronized read-modify-replace
# would lose whichever put raced. (Cross-process writers would need storage
# with an atomic commit protocol; the reference runs one process per target.)
_STORE_LOCKS: dict[str, threading.Lock] = {}
_STORE_LOCKS_GUARD = threading.Lock()


def _lock_for(location: str) -> threading.Lock:
    with _STORE_LOCKS_GUARD:
        return _STORE_LOCKS.setdefault(os.path.abspath(location), threading.Lock())

# Clock-skew compensation factors (client.js:1826-1834, README.md:248):
# assume client/server clocks drift <= 1%.
SAFETY_SLOW = 1.01
SAFETY_FAST = 0.99


def max_modified_millis(df: DataFrame, col: str = "modified") -> int | None:
    """B5 — running max(modified) over the synced batch, as epoch millis.

    The reference folds this record-at-a-time (client.js:1757-1760); here it
    is one map-side-combined aggregate.
    """
    row = df.agg(
        (F.unix_millis(F.max(F.col(col)))).alias("ms")
    ).first()
    return None if row is None else row["ms"]


def advance_watermark(
    last_modified_seen_ms: int | None,
    prev_watermark_ms: int | None,
    prev_syncstart_ms: int | None,
    syncstart_ms: int,
    syncend_ms: int,
) -> int | None:
    """B6 — conservative watermark advance, formula verbatim from
    client.js:1826-1839.

    new = max(lastModifiedSeen − 1.01·syncDuration,
              prevWatermark − 1.01·syncDuration + 0.99·(syncstart − prevSyncstart))
    and when the sync saw no records the old mark is kept unchanged
    (client.js:1836-1839). Pure driver-side arithmetic.
    """
    duration = syncend_ms - syncstart_ms
    candidates = []
    if last_modified_seen_ms is not None:
        candidates.append(int(last_modified_seen_ms - SAFETY_SLOW * duration))
    if prev_watermark_ms is not None and prev_syncstart_ms is not None:
        candidates.append(
            int(
                prev_watermark_ms
                - SAFETY_SLOW * duration
                + SAFETY_FAST * (syncstart_ms - prev_syncstart_ms)
            )
        )
    if last_modified_seen_ms is None:
        # no records seen: never advance past (or regress) the previous mark
        return prev_watermark_ms
    return max(candidates) if candidates else None


def _key(row: dict) -> tuple:
    """The control table's 4-column key. Tuple equality is NULL-safe on
    baseurl/path, like the reference's ``IS NULL`` branches
    (client.js:714-751)."""
    return (row["tablename"], row["baseurl"], row["path"], row["synctype"])


@dataclass
class WatermarkStore:
    """A10 — the ``sri2db_synctimes`` control table as a parquet dataset.

    Key = (tablename, baseurl, path, synctype); upsert = read → replace-key →
    commit through the pluggable committer (atomic rename swap locally,
    manifest-pointer publication on object stores). The table is
    O(#endpoints) rows, so a full rewrite per sync is the correct design at
    any scale — and it is read and written ON THE DRIVER with
    ``pyarrow.parquet`` through ``committer.fs``: no Spark job per get or
    put (measured get+put: 3.5 ms against 0.29 s through Spark jobs, 4
    cores). The files stay plain parquet in ``SYNCTIMES_SCHEMA``, so
    ``spark.read.schema(SYNCTIMES_SCHEMA).parquet`` reads a store either
    way, and stores Spark wrote (``part-*.parquet`` beside ``_SUCCESS`` and
    ``.crc`` files) read back here. ``spark`` is kept for the constructor's
    shape; get/put do not use it.
    """

    spark: SparkSession
    location: str
    committer: object = None

    def __post_init__(self) -> None:
        if self.committer is None:
            from ..sinks.committer import RenameCommitter  # noqa: PLC0415

            self.committer = RenameCommitter()

    def _rows(self) -> list[dict]:
        """Every row of the committed control table, read on the driver.
        Skips ``_``/``.``-prefixed files, as Spark's parquet reader does."""
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.parquet as pq  # noqa: PLC0415

        from ..sinks.committer import check_backend_layout  # noqa: PLC0415

        fs = self.committer.fs
        check_backend_layout(self.location, self.committer.versioned, fs=fs)
        physical = self.committer.resolve(self.location)
        if physical is None:
            return []
        rows: list[dict] = []
        for name in sorted(fs.listdir(physical)):
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                data = fs.read_bytes(os.path.join(physical, name))
                table = pq.read_table(pa.BufferReader(data), columns=SYNCTIMES_SCHEMA.names)
                rows.extend(table.to_pylist())
        return rows

    def _write_staged(self, rows: list[dict]) -> str:
        """``rows`` as one parquet file in a fresh ``committer.stage``
        directory (on the manifest backend: the final version dir, so the
        commit is pointer-only); returns the staged directory."""
        import pyarrow as pa  # noqa: PLC0415
        import pyarrow.parquet as pq  # noqa: PLC0415
        from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

        table = pa.Table.from_pylist(rows, schema=to_arrow_schema(SYNCTIMES_SCHEMA))
        out = pa.BufferOutputStream()
        pq.write_table(table, out)
        fs = self.committer.fs
        tmp = self.committer.stage(self.location)
        fs.makedirs(tmp)
        fs.write_bytes(
            os.path.join(tmp, f"part-00000-{uuid.uuid4().hex}.parquet"),
            out.getvalue().to_pybytes(),
        )
        return tmp

    def get(
        self, tablename: str, baseurl: str | None, path: str | None, synctype: str
    ) -> tuple[int | None, int | None]:
        """Return (lastmodified_ms, syncstart_ms) or (None, None)."""
        with _lock_for(self.location):  # held through the read: the swap in
            # put momentarily renames the directory away
            rows = self._rows()
        key = (tablename, baseurl, path, synctype)
        for row in rows:
            if _key(row) == key:
                return row["lastmodified"], row["syncstart"]
        return None, None

    def put(
        self,
        tablename: str,
        baseurl: str | None,
        path: str | None,
        synctype: str,
        lastmodified_ms: int,
        syncstart_ms: int,
    ) -> None:
        """DELETE+INSERT upsert by the 4-column key (client.js:714-751),
        committed via atomic swap of the control-table directory. Serialized
        per location: concurrent endpoint syncs sharing one store must not
        lose each other's writes in the read-modify-replace."""
        with _lock_for(self.location):
            self._put_locked(
                tablename, baseurl, path, synctype, lastmodified_ms, syncstart_ms
            )

    def _put_locked(
        self,
        tablename: str,
        baseurl: str | None,
        path: str | None,
        synctype: str,
        lastmodified_ms: int,
        syncstart_ms: int,
    ) -> None:
        from ..sinks.committer import CommitConflict  # noqa: PLC0415

        # The in-process lock serializes upserts within THIS driver; on the
        # manifest backend the commit is additionally a compare-and-swap on
        # the version we read, so a concurrent writer in ANOTHER driver
        # (separate Spark apps sharing one control table) conflicts instead
        # of being silently overwritten — the upsert then re-reads and
        # re-applies, which converges because upserts by different keys
        # commute and same-key upserts are serialized by the sync engine.
        for attempt in range(5):
            basis = (
                self.committer.current_version(self.location)
                if self.committer.versioned
                else None
            )
            key = (tablename, baseurl, path, synctype)
            updated = [r for r in self._rows() if _key(r) != key]
            updated.append(
                dict(zip(SYNCTIMES_SCHEMA.names, (*key, lastmodified_ms, syncstart_ms)))
            )
            tmp = self._write_staged(updated)
            try:
                if self.committer.versioned:
                    self.committer.commit(
                        tmp, self.location, expected_basis=basis
                    )
                else:
                    self.committer.commit(tmp, self.location)
                return
            except CommitConflict:
                if attempt == 4:
                    raise
