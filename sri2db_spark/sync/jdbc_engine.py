"""Live-JDBC target of the sync lifecycle — the reference's actual
deployment shape (API → staging table → one-transaction server-side merge
into Postgres/MSSQL resource tables, ``src/lib/client.js:871-1239``).

The lifecycle (entry points, single-flight, watermarks, feed reads, batch
stats, safe-delta gap fetch) is ``sync.engine.SyncLifecycle``; this module
is only the target adapter:

- ``_apply``: ``df.write.jdbc`` bulk-inserts the C1-deduped batch (and the
  tombstone / membership keys) into per-run staging tables (A8 batching),
  then the driver executes the generated merge statements (C2-C9 as SQL)
  inside ONE transaction (D6) and counts the scope's rows in it; dry-run
  rolls back (client.js:1808-1813);
- ``_target_keys``: a pruned JDBC read of the target's key columns, the
  only time target data enters Spark (safe-delta gap detection).

Change detection (C5), anti-join deletes (C2), insert-if-absent (C6) and
the set-difference DELETE (C7) run server-side where the data lives.
"""

from __future__ import annotations

import uuid
import zlib
from dataclasses import KW_ONLY, dataclass

from pyspark.sql import DataFrame

from ..operators.merge import dedup_latest
from ..sinks.jdbc import (
    JdbcResourceSink,
    generate_delta_sync_sql,
    generate_full_sync_sql,
    generate_safe_delta_sql,
)
from .engine import SyncBatch, SyncLifecycle


@dataclass
class Sri2DbJdbcSync(SyncLifecycle):
    """One API endpoint → one live JDBC resource table, incrementally."""

    sink: JdbcResourceSink
    path: str
    _: KW_ONLY
    staging_table: str | None = None
    staging_column_types: str | None = None
    prefer_updates_over_inserts: bool = True  # mssql default (client.js:113)

    def __post_init__(self) -> None:
        if self.staging_table is None:
            # The reference's staging tables are SESSION-temp, so concurrent
            # syncs into one database can never collide (client.js:806-843);
            # ours are regular tables (Spark executors append over many
            # connections), so the default name must be unique per sync
            # scope — a second endpoint syncing into the same database would
            # otherwise drop/overwrite the first one's staging mid-merge.
            # Deterministic per scope so leftovers are identifiable; each
            # RUN additionally suffixes a nonce (see _apply) so two drivers
            # racing on the SAME scope stay isolated too.
            scope = f"{self.sink.target_table}|{self.baseurl}|{self._scope_path()}"
            self.staging_table = f"stg_sri2db_{zlib.crc32(scope.encode()):08x}"

    def _scope(self) -> dict[str, str | None]:
        scope: dict[str, str | None] = {}
        if self.layout.has_baseurl:
            scope["baseurl"] = self.baseurl
        if self.layout.has_path:
            scope["path"] = self._scope_path()
        return scope

    def _scope_predicate(self) -> str:
        return " AND ".join(
            f'"{c}" IS NULL' if v is None else "\"" + c + "\" = '" + v.replace("'", "''") + "'"
            for c, v in self._scope().items()
        ) or "1=1"

    def _target_keys(self) -> DataFrame:
        """Pruned JDBC read of the target's key columns within this sync's
        scope (the scope predicate and the projection both push into the
        query)."""
        cols = ", ".join(f'"{c}"' for c in self.layout.key_columns)
        q = (
            f"(SELECT {cols} FROM {self.sink.target_table} "
            f"WHERE {self._scope_predicate()}) tk"
        )
        return self.sink.spark.read.jdbc(self.sink.url, q, properties=self.sink.properties)

    def _apply(self, batch: SyncBatch) -> int:
        # Per-run staging names + guaranteed drop: the closest regular-table
        # analog to the reference's session-temp tables (created per sync,
        # gone when it ends, client.js:806-843 + ON COMMIT DROP). Two
        # drivers syncing the same scope concurrently each stage into their
        # own tables; only hard-killed runs leave stg_<scope>_<nonce>
        # leftovers, identifiable by their scope prefix.
        run = f"{self.staging_table}_{uuid.uuid4().hex[:8]}"
        keys = self.layout.key_columns
        key_types = ", ".join(f"{c} VARCHAR(2048)" for c in keys)
        written: list[str] = []

        def stage(df: DataFrame | None, table: str, types: str | None) -> str | None:
            if df is None:
                return None
            # register BEFORE writing: a bulk insert that dies after
            # creating the table must still get its table dropped in the
            # finally (drop_tables tolerates a never-created one)
            written.append(table)
            self.sink.write_staging(df, table, types)
            return table

        try:
            deletes_table = stage(batch.deletes, run + "_del", key_types)
            membership_table = stage(batch.membership, run + "_m", key_types)
            rows = batch.staged
            if batch.gaps is not None:
                rows = rows.unionByName(batch.gaps)  # C9 via the upsert merge
            # the ANSI merge requires C1-deduped staging (one window here)
            stage(dedup_latest(rows, keys), run, self.staging_column_types)

            # One-transaction server-side merge (C2-C9 / D6)
            if membership_table is not None:
                stmts = generate_safe_delta_sql(
                    self.sink.target_table, run, membership_table,
                    self.layout, self._scope(), self.sink.dialect,
                )
            elif batch.full:
                stmts = generate_full_sync_sql(
                    self.sink.target_table, run, self.layout, self._scope(),
                    self.prefer_updates_over_inserts, self.sink.dialect,
                )
            else:
                stmts = generate_delta_sync_sql(
                    self.sink.target_table, run, deletes_table,
                    self.layout, self.sink.dialect,
                )
            # counted inside the merge transaction, so a dry run reports
            # the count the sync would leave, as the lake target does
            return self.sink.merge(
                stmts,
                dry_run=self.dry_run,
                count_query=(
                    f"SELECT COUNT(*) FROM {self.sink.target_table} "
                    f"WHERE {self._scope_predicate()}"
                ),
            )
        finally:
            if written:
                self.sink.drop_tables(written)
