"""Lake sink: the resource table as a partitioned parquet dataset.

The reference's target is one wide DB table with a unique (baseurl, path,
href) index (README.md:253-266); merges happen inside DB transactions. The
Spark-native equivalent is a parquet dataset partitioned by the scoping
columns (baseurl, path): every sync touches exactly its own partition, so

- reads partition-prune to the endpoint being synced,
- a full sync is a dynamic-partition overwrite (never a table rewrite),
- atomicity (the reference's transaction, SURVEY D6) = write-new + commit
  via a pluggable :mod:`committer <..sinks.committer>`; dry-run simply
  skips the commit.

The commit protocol is backend-selected: the default ``RenameCommitter``
uses atomic POSIX directory renames (local/HDFS); ``ManifestCommitter``
publishes versioned directories through an atomic manifest-pointer write,
the protocol object stores (S3/GCS) require because they have no atomic
directory rename. Readers go through ``committer.resolve`` either way.

At 100 TB, partitions stay navigable because the partition key is the
endpoint, not the data volume; within a partition, files are sized by the
writer's task parallelism. (On a real deployment this maps 1:1 onto a Delta /
Iceberg table with MERGE — the operator layer is storage-agnostic; this sink
is the dependency-free parquet implementation, and the manifest committer is
the same idea as those formats' transaction logs, minimized.)
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..localframe import empty_df
from ..model.schema import TableLayout, resource_row_schema
from ..observation import observed_row
from .committer import ManifestCommitter, RenameCommitter, check_backend_layout

HIVE_DEFAULT = "__HIVE_DEFAULT_PARTITION__"


def _encode(value: str | None) -> str:
    """Hive-style partition-value escaping, matching what Spark's
    ``unescapePathName`` inverts: ``%XX`` encodes a single CHARACTER's
    code point, so only ASCII specials are escaped and non-ASCII
    characters stay raw in the directory name. ``urllib.parse.quote``
    (UTF-8 BYTE escaping) would round-trip through our own ``_decode``
    but NOT through Spark's per-char decoder — a multi-path scan would
    then hand back mojibake partition values (é → Ã©)."""
    if value is None:
        return HIVE_DEFAULT
    # safe set matches urllib's always-safe ASCII (alnum + "-_.~") so
    # pure-ASCII values encode byte-identically to directories written by
    # earlier releases (which used quote(safe="")) — only non-ASCII values
    # change layout, and those never round-tripped before
    return "".join(
        ch
        if ord(ch) > 0x7F or ch.isalnum() or ch in "-_.~"
        else f"%{ord(ch):02X}"
        for ch in value
    )


def _decode(segment: str) -> str | None:
    value = segment.split("=", 1)[1]
    if value == HIVE_DEFAULT:
        return None
    # inverse of _encode: every %XX is one ASCII char; raw non-ASCII
    # passes through (errors="strict" would also work — _encode never
    # emits byte sequences — but unquote assumes UTF-8 bytes, so decode
    # per-char exactly like Spark's unescapePathName)
    out = []
    i = 0
    while i < len(value):
        ch = value[i]
        nxt = value[i + 1 : i + 3]
        if ch == "%" and len(nxt) == 2 and all(c in "0123456789abcdefABCDEF" for c in nxt):
            code = int(nxt, 16)
            if code > 0x7F:
                # _encode NEVER emits %XX above ASCII (non-ASCII stays
                # raw) — this segment was written by the pre-r6 encoder,
                # which escaped UTF-8 BYTES (é → %C3%A9). Decoding it
                # per-char would silently return mojibake ('Ã©') AND a
                # same-valued upsert would land in a fresh sibling
                # directory, leaving the old rows stale-but-read. Fail
                # loudly with the migration path instead.
                raise ValueError(
                    f"partition segment {segment!r} uses legacy UTF-8 "
                    "byte escaping (written before the per-character "
                    "encoder); run "
                    "sri2db_spark.sinks.lake.migrate_legacy_partition_dirs("
                    "location) once to rename such directories to the "
                    "current encoding"
                )
            out.append(chr(code))
            i += 3
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _is_legacy_segment(name: str) -> bool:
    """True when a ``key=value`` directory name carries pre-r6 UTF-8 byte
    escapes (any ``%XX`` above ASCII)."""
    value = name.split("=", 1)[1]
    for i, ch in enumerate(value):
        nxt = value[i + 1 : i + 3]
        if (
            ch == "%"
            and len(nxt) == 2
            and all(c in "0123456789abcdefABCDEF" for c in nxt)
            and int(nxt, 16) > 0x7F
        ):
            return True
    return False


def migrate_legacy_partition_dirs(location: str) -> list[tuple[str, str]]:
    """One-time rename of partition directories written by the pre-r6
    encoder (UTF-8 BYTE ``%XX`` escapes for non-ASCII values) to the
    current per-character encoding. Local filesystems only — object
    stores cannot rename directories, but no manifest-committed
    object-store deployment predates the current encoder. Returns the
    (old, new) directory pairs renamed; raises if a target already exists
    (the store already holds a forked sibling — merge those partitions
    manually before migrating)."""
    from urllib.parse import unquote  # noqa: PLC0415

    renamed: list[tuple[str, str]] = []
    for root, dirs, _files in os.walk(location, topdown=False):
        for d in dirs:
            if "=" not in d or not _is_legacy_segment(d):
                continue
            key, _, _ = d.partition("=")
            decoded = unquote(d.split("=", 1)[1])  # legacy = UTF-8 bytes
            target = os.path.join(root, f"{key}={_encode(decoded)}")
            src = os.path.join(root, d)
            if os.path.exists(target):
                raise FileExistsError(
                    f"cannot migrate {src}: {target} already exists — the "
                    "partition forked (writes landed under both encodings); "
                    "merge the two directories manually, then re-run"
                )
            os.rename(src, target)
            renamed.append((src, target))
    return renamed


@dataclass
class LakeTable:
    spark: SparkSession
    location: str
    layout: TableLayout
    committer: RenameCommitter | ManifestCommitter = field(
        default_factory=RenameCommitter
    )

    @classmethod
    def discover(
        cls,
        spark: SparkSession,
        location: str,
        committer: RenameCommitter | ManifestCommitter | None = None,
    ) -> "LakeTable":
        """A9 parity — infer the optional-column layout from an existing
        dataset instead of configuration, as the reference infers it from
        information_schema/sys.columns (client.js:361-410, 534-546).

        Partition directories reveal baseurl/path; the parquet footer reveals
        resourcetype. Raises on an empty/missing dataset (nothing to probe —
        callers fall back to an explicit layout, as the reference warns and
        aborts when the target table is missing, client.js:1711-1717).

        Pass the ``ManifestCommitter`` for a manifest-committed table: the
        probe walks the hive segments to one leaf, resolves it through the
        manifest, and reads that version's footer (partition columns are
        directory-encoded there, so only data columns come from the file).
        """
        committer = committer or RenameCommitter()
        fs = committer.fs
        if not committer.versioned:
            df = spark.read.parquet(fs.spark_path(location))
            cols = set(df.columns)
            layout = TableLayout(
                has_path="path" in cols,
                has_baseurl="baseurl" in cols,
                has_resourcetype="resourcetype" in cols,
                name="discovered",
            )
            return cls(spark, location, layout, committer=committer)
        # manifest layout: walk key=value segments down to the leaf
        # partition dirs and probe leaves until one resolves through its
        # manifest — an empty/aborted sibling (a partition dir with no
        # committed version yet) must not mask committed data elsewhere.
        # All listing goes through committer.fs (one LIST per level on an
        # object store), never os.* — same discipline as _list_partitions.
        def _leaves(probe: str, keys: frozenset):
            kv = [
                n
                for n in fs.listdir(probe)
                if "=" in n
                and not n.startswith("v_")
                and fs.isdir(os.path.join(probe, n))
            ]
            if not kv:
                yield probe, keys
                return
            for n in kv:
                yield from _leaves(
                    os.path.join(probe, n), keys | {n.split("=", 1)[0]}
                )

        physical, keys = None, frozenset()
        for leaf, leaf_keys in _leaves(location, frozenset()):
            physical = committer.resolve(leaf)
            if physical is not None:
                keys = leaf_keys
                break
        if physical is None:
            raise FileNotFoundError(
                f"no committed version found under {location}"
            )
        cols = set(spark.read.parquet(fs.spark_path(physical)).columns) | keys
        layout = TableLayout(
            has_path="path" in cols,
            has_baseurl="baseurl" in cols,
            has_resourcetype="resourcetype" in cols,
            name="discovered",
        )
        return cls(spark, location, layout, committer=committer)

    def _partition_dir(self, baseurl: str | None, path: str | None) -> str:
        parts = []
        if self.layout.has_baseurl:
            parts.append(f"baseurl={_encode(baseurl)}")
        if self.layout.has_path:
            parts.append(f"path={_encode(path)}")
        return os.path.join(self.location, *parts) if parts else self.location

    def _data_columns(self) -> list[str]:
        return [c for c in self.layout.columns if c not in self.layout.partition_columns]

    @property
    def _fs(self):
        """Every driver-side filesystem touch goes through the committer's
        fs interface — LocalFS by default; an S3/GCS binding makes the
        whole lake (listing, discovery, compaction probing, Spark path
        qualification) object-store-routed with no caller changes."""
        return self.committer.fs

    def _list_partitions(self) -> list[tuple[str | None, str | None, str]]:
        """(baseurl, path, logical partition dir) for every partition
        directory present on disk — decoded from the hive-style segments.

        Driver-side listing through ``committer.fs`` (one LIST per level
        on an object store), O(#partitions) calls: partitions are
        endpoints (hundreds, not millions), and the 1k-partition guard
        test pins the read path's cost."""
        fs = self._fs
        if not fs.isdir(self.location):
            return []

        def _subdirs(parent: str, prefix: str) -> list[tuple[str, str]]:
            return [
                (n, os.path.join(parent, n))
                for n in fs.listdir(parent)
                if n.startswith(prefix) and fs.isdir(os.path.join(parent, n))
            ]

        out: list[tuple[str | None, str | None, str]] = []
        if self.layout.has_baseurl and self.layout.has_path:
            for bname, bpath in _subdirs(self.location, "baseurl="):
                for pname, ppath in _subdirs(bpath, "path="):
                    out.append((_decode(bname), _decode(pname), ppath))
        elif self.layout.has_baseurl:
            for bname, bpath in _subdirs(self.location, "baseurl="):
                out.append((_decode(bname), None, bpath))
        elif self.layout.has_path:
            for pname, ppath in _subdirs(self.location, "path="):
                out.append((None, _decode(pname), ppath))
        else:
            out.append((None, None, self.location))
        return out

    def read(self) -> DataFrame:
        """Whole-table read; partition columns come from the directory names.

        Rename backend: one basePath scan with Hive partition discovery.
        Manifest backend: ONE multi-path scan over the resolved current
        version directory of every partition, with ``basePath`` at the
        table root — Spark parses the partition values from the hive
        ``key=value`` segments (the trailing ``v_…`` version segment is
        transparent to partition discovery), so filters on
        baseurl/path partition-prune natively. One scan keeps the plan
        O(1) in partition count: the earlier union-of-per-partition-scans
        design measured 58 s of planning at 1 000 partitions
        (tools/partition_scale_probe.py) vs 2.3 s for this shape — at
        endpoint-count × version scale that is the difference between a
        usable and an unusable metadata layer."""
        schema = resource_row_schema(self.layout)
        fs = self._fs
        if not self.committer.versioned:
            if not fs.isdir(self.location) or not fs.listdir(self.location):
                return empty_df(self.spark, schema)
            for _, _, logical in self._list_partitions():
                check_backend_layout(logical, versioned=False, fs=fs)
            df = (
                self.spark.read.option(
                    "basePath", fs.spark_path(self.location)
                )
                .schema(schema)
                .parquet(fs.spark_path(self.location))
            )
            return df.select(*self.layout.columns)
        paths: list[str] = []
        for _baseurl, _path, logical in self._list_partitions():
            check_backend_layout(logical, versioned=True, fs=fs)
            physical = self.committer.resolve(logical)
            if physical is not None:
                paths.append(physical)
        if not paths:
            return empty_df(self.spark, schema)
        return self._read_many(paths)

    def _read_many(self, paths: list[str]) -> DataFrame:
        """One scan over many resolved version directories. Partition
        values come from the hive segments between ``basePath`` and the
        files (Spark's unescapePathName inverts the ``_encode`` quoting;
        ``__HIVE_DEFAULT_PARTITION__`` maps back to null), exactly as the
        rename backend's directory discovery — so the two backends produce
        identical DataFrames and identical pruning behavior."""
        schema = resource_row_schema(self.layout)
        fs = self._fs
        df = (
            self.spark.read.option("basePath", fs.spark_path(self.location))
            .schema(schema)
            .parquet(*[fs.spark_path(p) for p in paths])
        )
        return df.select(*self.layout.columns)

    def _read_physical(
        self, physical: str, baseurl: str | None, path: str | None
    ) -> DataFrame:
        """One resolved version directory → rows with the partition values
        re-attached as literals (foldable, so pruning still works)."""
        from pyspark.sql import functions as F  # noqa: PLC0415
        from pyspark.sql.types import StructType  # noqa: PLC0415

        schema = resource_row_schema(self.layout)
        data_cols = set(self._data_columns())
        data_schema = StructType(
            [f for f in schema.fields if f.name in data_cols]
        )
        df = self.spark.read.schema(data_schema).parquet(
            self._fs.spark_path(physical)
        )
        if self.layout.has_baseurl:
            df = df.withColumn("baseurl", F.lit(baseurl).cast("string"))
        if self.layout.has_path:
            df = df.withColumn("path", F.lit(path).cast("string"))
        return df.select(*self.layout.columns)

    def read_partition(self, baseurl: str | None, path: str | None) -> DataFrame:
        """Partition-pruned read of one endpoint's rows.

        Manifest backend: resolves ONLY the requested partition's manifest
        — O(1) regardless of how many partitions the table holds (no
        full-table listing, no other manifests read). Rename backend:
        filter over the discovery scan; Spark prunes the directories."""
        from pyspark.sql import functions as F  # noqa: PLC0415

        if self.committer.versioned:
            logical = self._partition_dir(baseurl, path)
            check_backend_layout(logical, versioned=True, fs=self._fs)
            physical = self.committer.resolve(logical)
            if physical is None:
                return empty_df(self.spark, resource_row_schema(self.layout))
            return self._read_physical(physical, baseurl, path)
        df = self.read()
        if self.layout.has_baseurl:
            df = df.filter(F.col("baseurl").eqNullSafe(F.lit(baseurl)))
        if self.layout.has_path:
            df = df.filter(F.col("path").eqNullSafe(F.lit(path)))
        return df

    def replace_partition(
        self, new_rows: DataFrame, baseurl: str | None, path: str | None
    ) -> int:
        """Atomically replace one endpoint partition with ``new_rows``.

        Writes to a fresh directory first (the computed DataFrame may read the
        current partition — never overwrite an input in place), then commits
        through the configured committer. Returns the row count written (the
        write itself is the action that materializes it).
        """
        from pyspark.sql import Observation  # noqa: PLC0415
        from pyspark.sql import functions as F  # noqa: PLC0415

        part_dir = self._partition_dir(baseurl, path)
        # the layout guard runs on WRITES too: a full sync never reads the
        # partition first, and a rename-committer commit over a
        # manifest-versioned dir would rename the whole versioned tree
        # (manifest, history, every pinned snapshot) aside and delete it
        check_backend_layout(part_dir, self.committer.versioned, fs=self._fs)
        # stage() on the manifest backend is the final version directory
        # itself — data is written once at its final path and the commit is
        # pointer-only (no per-object copy on an object store)
        tmp = self.committer.stage(part_dir)
        # observe() rides the write job itself — no second scan of the
        # written files just to count them.
        obs = Observation()
        rows = new_rows.select(*self._data_columns())
        rows.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(self._fs.spark_path(tmp))
        n = int(
            observed_row(obs, lambda: rows.agg(F.count(F.lit(1)).alias("n")).first())["n"]
        )
        self.committer.commit(tmp, part_dir)
        return n

    def count(self) -> int:
        return self.read().count()

    def _require_versioned(self) -> None:
        if not self.committer.versioned:
            raise ValueError(
                "snapshots need the ManifestCommitter (versioned backend); "
                "the rename backend keeps no history"
            )

    def partition_history(
        self, baseurl: str | None, path: str | None
    ) -> list[tuple[int, str]]:
        """(seq, version) of every still-retained commit to one partition,
        oldest first (manifest backend only)."""
        self._require_versioned()
        return self.committer.history(self._partition_dir(baseurl, path))

    def pin_partition(
        self, baseurl: str | None, path: str | None, name: str
    ) -> str:
        """Pin the partition's CURRENT version under ``name`` so GC never
        collects it — the reproducible-training-run hook: pin what you
        trained on, re-read it byte-identically later. Returns the pinned
        version id."""
        self._require_versioned()
        return self.committer.pin(self._partition_dir(baseurl, path), name)

    def unpin_partition(
        self, baseurl: str | None, path: str | None, name: str
    ) -> None:
        self._require_versioned()
        self.committer.unpin(self._partition_dir(baseurl, path), name)

    TABLE_PIN_PREFIX = "_TABLE_PIN."

    def _table_pin_path(self, name: str) -> str:
        return os.path.join(self.location, self.TABLE_PIN_PREFIX + name)

    def pin_table(self, name: str) -> dict[tuple[str | None, str | None], str]:
        """Pin EVERY partition's current version under one name and
        publish the cut as ONE table-level manifest object — the
        whole-table reproducibility unit.

        Two-phase protocol (each step one pointer write):

        0. CLAIM the name: publish ``_TABLE_PIN.<name>`` in a "pending"
           state with a create-if-absent conditional PUT. Two runs
           pinning the same name conflict HERE — before either has
           touched a single per-partition pin, so a loser can never
           overwrite the winner's pins (which would have silently
           stripped the winner's versions of GC protection).
        1. capture each partition's current committed version,
        2. pin that exact version per partition with a CONDITIONAL write
           (create-if-absent, or replace our own now-stale pin on retry;
           a live foreign pin under this name — a legacy
           :meth:`pin_partition` — conflicts loudly), re-capturing if a
           concurrent sync's GC collected the version in between,
        3. VERIFY every recorded version still resolves — closes the race
           with a GC whose pins() read preceded our pin write (its
           delayed rmtree could otherwise collect a version the cut
           names); any partition that lost its version is re-pinned
           against the new current version,
        4. FINALIZE: flip the manifest pending → the entry list with a
           CAS pinned to the pending content.

        Any failure (including a crash) leaves either no manifest or a
        "pending" one — :meth:`read_table_snapshot` refuses a pending
        manifest loudly instead of falling back to a silently PARTIAL
        per-partition-pin cut, and :meth:`unpin_table` cleans it up. On a
        non-crash failure this method removes the pins and the pending
        manifest itself before re-raising.

        The cut is self-consistent as one object: readers resolve the
        snapshot THROUGH the table manifest, so a sync advancing
        partitions mid-call changes nothing the manifest already names —
        each partition reads back exactly the version recorded in step 2.
        (Partitions synced for the first time after step 1 are absent
        from the cut, exactly as a transactional snapshot taken at
        capture time would show.) Returns {(baseurl, path): version}."""
        import json  # noqa: PLC0415

        self._require_versioned()
        fs = self._fs
        manifest = self._table_pin_path(name)
        pending = json.dumps({"state": "pending"})
        if not fs.put_if(manifest, pending, None):
            raise FileExistsError(
                f"table pin {name!r} already exists at {manifest} "
                "(or a pin_table run is in flight); unpin_table first"
            )
        created: list[str] = []  # partitions where WE wrote the pin
        try:
            pinned: dict[tuple[str | None, str | None], str] = {}
            entries: list[dict[str, str]] = []
            for baseurl, path, logical in self._list_partitions():
                version = self._pin_one_partition(name, logical, created)
                if version is None:
                    continue  # never committed — absent from the cut
                pinned[(baseurl, path)] = version
                rel = os.path.relpath(logical, self.location)
                entries.append({"dir": rel, "version": version})
            if not pinned:
                # an empty cut is almost certainly a typo'd location or a
                # not-yet-synced table; a silent no-op would only surface
                # weeks later when the "snapshot" turns out not to exist
                raise FileNotFoundError(
                    f"pin_table({name!r}): no committed partitions under "
                    f"{self.location}"
                )
            # step 3: a GC already past its pins() read when we pinned may
            # have collected a captured version after the per-partition
            # check — re-verify the whole cut and re-pin any loss
            for _attempt in range(5):
                stale = [
                    e
                    for e in entries
                    if self.committer.resolve(
                        self._entry_dir(e), version=e["version"]
                    )
                    is None
                ]
                if not stale:
                    break
                for e in stale:
                    v = self._pin_one_partition(
                        name, self._entry_dir(e), created
                    )
                    if v is None:
                        raise RuntimeError(
                            f"pin_table({name!r}): partition "
                            f"{self._entry_dir(e)} lost its only committed "
                            "version mid-pin"
                        )
                    e["version"] = v
                    key = next(
                        k for k, d in zip(pinned, entries) if d is e
                    )
                    pinned[key] = v
            else:
                raise RuntimeError(
                    f"pin_table({name!r}): versions kept being collected "
                    "between pin and verify (pathological churn; retry "
                    "when syncs quiesce)"
                )
            # step 4: finalize pending → the cut, CAS'd on pending (only
            # unpin_table could have removed/changed it meanwhile)
            if not fs.put_if(
                manifest, json.dumps({"partitions": entries}), pending
            ):
                raise RuntimeError(
                    f"table pin {name!r} was unpinned concurrently while "
                    "being created"
                )
            return pinned
        except BaseException:
            for logical in created:
                self.committer.unpin(logical, name)
            try:
                if fs.read(manifest) == pending:
                    fs.remove(manifest)
            except FileNotFoundError:
                pass
            raise

    def _entry_dir(self, entry: dict[str, str]) -> str:
        return (
            self.location
            if entry["dir"] == "."
            else os.path.join(self.location, entry["dir"])
        )

    def _pin_one_partition(
        self, name: str, logical: str, created: list[str]
    ) -> str | None:
        """Pin ``logical``'s current version under ``name`` with
        conditional writes only. Returns the pinned version, or ``None``
        when nothing is committed. Raises on a LIVE foreign pin under the
        same name (a legacy per-partition pin — the table-level name was
        already claimed, so it cannot be another pin_table)."""
        cur = self.committer.pins(logical).get(name)
        if (
            cur is not None
            and logical not in created
            and self.committer.resolve(logical, version=cur) is not None
        ):
            raise FileExistsError(
                f"partition {logical} already carries a live pin "
                f"{name!r} (a pre-existing pin_partition?); unpin it or "
                "choose another name"
            )
        for _attempt in range(5):
            v = self.committer.current_version(logical)
            if v is None:
                return None
            if cur == v or self.committer.pin_if(
                logical, name, v, expected=cur
            ):
                if logical not in created:
                    created.append(logical)
                cur = v
                if self.committer.resolve(logical, version=v) is not None:
                    return v
                # GC collected v between capture and pin — re-capture
            else:
                # pin file changed under us (a racing legacy pinner);
                # re-read and let the live-pin check above decide
                cur = self.committer.pins(logical).get(name)
                if (
                    cur is not None
                    and logical not in created
                    and self.committer.resolve(logical, version=cur)
                    is not None
                ):
                    raise FileExistsError(
                        f"partition {logical} gained a live pin {name!r} "
                        "concurrently; unpin it or choose another name"
                    )
        raise RuntimeError(
            f"pin_table({name!r}): could not pin a stable version of "
            f"{logical} after 5 attempts — GC kept collecting between "
            "capture and pin (pathological churn; retry when syncs "
            "quiesce)"
        )

    def unpin_table(self, name: str) -> None:
        self._require_versioned()
        fs = self._fs
        try:
            fs.remove(self._table_pin_path(name))
        except FileNotFoundError:
            pass
        for _, _, logical in self._list_partitions():
            self.committer.unpin(logical, name)

    def read_table_snapshot(self, name: str) -> DataFrame:
        """The whole table as of :meth:`pin_table`'s capture, resolved
        through the table-level manifest: one object names every
        partition's pinned version, so the cut a training run reads is
        self-consistent regardless of syncs racing the pin (partitions
        created after the pin are absent, exactly as the pinned-time
        table was). Tables pinned before the table manifest existed fall
        back to scanning per-partition pins."""
        import json  # noqa: PLC0415

        self._require_versioned()
        fs = self._fs
        manifest = self._table_pin_path(name)
        paths: list[str] = []
        try:
            cut = json.loads(fs.read(manifest))
        except FileNotFoundError:
            cut = None
        if cut is not None and "partitions" not in cut:
            # a claimed-but-unfinalized manifest: a pin_table() run is in
            # flight or crashed mid-pin. Refusing here is what prevents a
            # crashed pin from ever being read back as a silently PARTIAL
            # cut through the legacy per-partition fallback below.
            raise RuntimeError(
                f"table pin {name!r} is incomplete "
                f"(state={cut.get('state')!r}): a pin_table() run is in "
                f"flight or crashed mid-pin; retry once it finishes, or "
                f"unpin_table({name!r}) to discard the partial pin"
            )
        if cut is not None:
            for entry in cut["partitions"]:
                logical = (
                    self.location
                    if entry["dir"] == "."
                    else os.path.join(self.location, entry["dir"])
                )
                physical = self.committer.resolve(
                    logical, version=entry["version"]
                )
                if physical is None:
                    raise FileNotFoundError(
                        f"table pin {name} names collected version "
                        f"{entry['version']} of partition {logical}"
                    )
                paths.append(physical)
        else:
            # legacy pre-manifest pins: reassemble from per-partition pins
            for _baseurl, _path, logical in self._list_partitions():
                version = self.committer.pins(logical).get(name)
                if version is None:
                    continue
                physical = self.committer.resolve(logical, version=version)
                if physical is None:
                    raise FileNotFoundError(
                        f"pin {name} of partition {logical} points at "
                        f"collected version {version}"
                    )
                paths.append(physical)
        if not paths:
            raise FileNotFoundError(f"no partition carries pin {name!r}")
        # same O(1)-plan multi-path scan as read(): the pinned version dirs
        # carry their hive segments, so partition values and pruning come
        # from path parsing exactly like the live read
        return self._read_many(paths)

    def read_partition_snapshot(
        self, baseurl: str | None, path: str | None, version: str
    ) -> DataFrame:
        """Time travel: read one partition as of an explicit retained
        version (a pinned snapshot or a not-yet-collected predecessor).
        ``version`` is a ``v_…`` id from :meth:`partition_history` or the
        value a :meth:`pin_partition` call returned."""
        self._require_versioned()
        part_dir = self._partition_dir(baseurl, path)
        physical = self.committer.resolve(part_dir, version=version)
        if physical is None:
            raise FileNotFoundError(
                f"version {version} of partition {part_dir} is not retained"
            )
        return self._read_physical(physical, baseurl, path)

    def compact_partition(
        self,
        baseurl: str | None,
        path: str | None,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> tuple[int, int]:
        """Rewrite one partition's small files into ~target-sized files.

        Delta syncs append a few rows per run; after thousands of syncs a
        partition is thousands of tiny files and every scan pays the
        per-file open cost. Compaction = read the partition, coalesce to
        ceil(bytes / target) output files, commit (same write-new + commit
        protocol as replace_partition, so readers never see a
        half-compacted partition). Values are untouched — only the file
        layout changes. Returns (files_before, files_after).

        ``coalesce`` (not ``repartition``): compaction must not shuffle —
        each output task concatenates whole input files.
        """
        fs = self._fs
        part_dir = self._partition_dir(baseurl, path)
        check_backend_layout(part_dir, self.committer.versioned, fs=fs)
        physical = self.committer.resolve(part_dir)
        if physical is None:
            return (0, 0)
        files = [
            os.path.join(physical, f)
            for f in fs.listdir(physical)
            if f.endswith(".parquet")
        ]
        if not files:
            return (0, 0)
        total_bytes = sum(fs.size(f) for f in files)
        n_out = max(1, -(-total_bytes // target_file_bytes))
        df = self.spark.read.parquet(fs.spark_path(physical)).coalesce(
            int(n_out)
        )
        tmp = self.committer.stage(part_dir)
        df.write.mode("overwrite").parquet(fs.spark_path(tmp))
        if self.committer.versioned:
            # read-modify-write: CAS on the version we compacted, so a
            # sync that replaced this partition mid-compaction wins and
            # we raise CommitConflict instead of resurrecting old rows
            self.committer.commit(
                tmp, part_dir, expected_basis=os.path.basename(physical)
            )
        else:
            self.committer.commit(tmp, part_dir)
        after_dir = self.committer.resolve(part_dir)
        files_after = len(
            [f for f in fs.listdir(after_dir) if f.endswith(".parquet")]
        )
        return (len(files), files_after)
