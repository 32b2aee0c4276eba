"""JDBC sink: staging-table bulk write + one atomic server-side merge.

Parity path for the reference's actual target (Postgres / MSSQL resource
tables, ``src/lib/client.js:871-1239``). Spark's JDBC sink has no
multi-statement transactions, so atomicity comes from the reference's own
design re-expressed server-side (SURVEY §7.3/D6):

1. executors bulk-write the staged batch into a session staging table via
   ``df.write.jdbc`` (batchsize = maxBulkSize, the reference's A8 batching,
   client.js:112);
2. the driver executes ONE server-side statement implementing the merge —
   dedup window (C1) + delete (C2/C3/C4) + upsert (C5/C6) — inside a single
   DB transaction;
3. dry-run = run everything up to the merge, report staged counts, drop the
   staging table (client.js:1808-1813).

SQL generation is pure and unit-testable without a database; execution goes
through the JVM's DriverManager and requires the JDBC driver jar on the
Spark classpath (gated — raises JdbcUnavailable otherwise).
"""

from __future__ import annotations

from collections.abc import Iterable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..model.schema import TableLayout

DEFAULT_MAX_BULK = 10_000  # reference maxBulkSize default (client.js:112)


class JdbcUnavailable(RuntimeError):
    pass


def layout_from_columns(columns: Iterable[str]) -> TableLayout:
    """A9 — infer the optional-column layout from a target table's column
    list, exactly as the reference derives it from its catalog probe
    (client.js:361-410: presence of path/baseurl/resourcetype decides the
    statement shapes). Raises when the fixed core columns are absent — the
    reference warns and aborts on a missing/incompatible table
    (client.js:1711-1717)."""
    cols = {c.lower() for c in columns}
    required = {"href", "key", "modified", "jsondata"}
    missing = required - cols
    if missing:
        raise ValueError(
            f"target table lacks required resource columns: {sorted(missing)}"
        )
    return TableLayout(
        has_path="path" in cols,
        has_baseurl="baseurl" in cols,
        has_resourcetype="resourcetype" in cols,
        name="discovered",
    )


def catalog_probe_query(table: str, dialect: str = "postgresql") -> str:
    """The dialect-specific column-catalog probe, as a JDBC subquery.

    postgresql: information_schema.columns (client.js:361-377);
    mssql: sys.columns joined to sys.objects (client.js:534-546);
    derby: SYS.SYSCOLUMNS joined to SYS.SYSTABLES (no information_schema).
    ``schema.table`` names scope the probe to that schema.
    """
    schema = None
    name = table
    if "." in table:
        schema, name = table.split(".", 1)
    if dialect == "derby":
        scope = f" AND s.SCHEMANAME = '{schema}'" if schema else ""
        join_schema = " JOIN SYS.SYSSCHEMAS s ON s.SCHEMAID = t.SCHEMAID" if schema else ""
        return (
            "(SELECT c.COLUMNNAME AS column_name FROM SYS.SYSCOLUMNS c "
            "JOIN SYS.SYSTABLES t ON t.TABLEID = c.REFERENCEID"
            f"{join_schema} WHERE t.TABLENAME = '{name}'{scope}) cols"
        )
    if dialect == "mssql":
        scope = f" AND SCHEMA_NAME(o.schema_id) = '{schema}'" if schema else ""
        return (
            "(SELECT c.name AS column_name FROM sys.columns c "
            "JOIN sys.objects o ON o.object_id = c.object_id "
            f"WHERE o.name = '{name}'{scope}) cols"
        )
    scope = f" AND table_schema = '{schema}'" if schema else ""
    return (
        "(SELECT column_name FROM information_schema.columns "
        f"WHERE table_name = '{name}'{scope}) cols"
    )


def discover_layout_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str],
    dialect: str = "postgresql",
) -> TableLayout:
    """A9 — discover the target table's layout from the live database's
    column catalog via ``spark.read.jdbc`` (gated like the rest of the JDBC
    sink: raises JdbcUnavailable without driver/connectivity)."""
    try:
        df = spark.read.jdbc(url, catalog_probe_query(table, dialect), properties=properties)
        names = [r[0] for r in df.collect()]
    except ValueError:
        raise
    except Exception as e:  # pragma: no cover - needs a live DB
        raise JdbcUnavailable(f"no JDBC connectivity for catalog probe: {e}") from e
    return layout_from_columns(names)


# Column names that are reserved words in T-SQL: a bare ``key`` in a SELECT
# list is a parse error on every SQL Server version, which is why the
# reference brackets exactly this column (client.js:944, :949, :1157, :1162).
_MSSQL_RESERVED = frozenset({"key"})


def _q(c: str, dialect: str) -> str:
    """ANSI dialect double-quotes column identifiers: it targets engines
    (Derby, Oracle) that fold unquoted names to UPPERCASE, while Spark's JDBC
    writer creates staging columns quoted-lowercase — and ``key`` is a
    reserved word on several of them. mssql brackets T-SQL reserved words
    (``[key]``, matching the reference's own statements); pg keeps the
    reference's unquoted style (client.js generates unquoted pg SQL)."""
    if dialect == "ansi":
        return f'"{c}"'
    if dialect == "mssql" and c.lower() in _MSSQL_RESERVED:
        return f"[{c}]"
    return c


def _key_eq(alias_a: str, alias_b: str, layout: TableLayout, dialect: str = "postgresql") -> str:
    """Null-aware key equality. The reference joins scope columns with plain
    ``=`` (client.js:929-931 mssql, :1061-1063 pg) because its config always
    populates them; we strengthen to null-aware so an unscoped store (NULL
    baseurl/path) still matches itself. Only postgresql gets the native
    ``IS NOT DISTINCT FROM`` — SQL Server added it in 2022 and Derby never
    had it, so mssql/ansi use the portable ``(= OR both-NULL)`` expansion
    that every supported engine version parses."""

    def one(c: str) -> str:
        qc = _q(c, dialect)
        if c not in ("baseurl", "path"):
            return f"{alias_a}.{qc} = {alias_b}.{qc}"
        if dialect == "postgresql":
            return f"{alias_a}.{qc} IS NOT DISTINCT FROM {alias_b}.{qc}"
        return (
            f"({alias_a}.{qc} = {alias_b}.{qc} OR "
            f"({alias_a}.{qc} IS NULL AND {alias_b}.{qc} IS NULL))"
        )

    return " AND ".join(one(c) for c in layout.key_columns)


def _scope_pred(scope: dict, dialect: str) -> str:
    """Sync-scope predicate over LITERAL config values (client.js:884,
    :1004, :1140). Against a literal, ``IS NOT DISTINCT FROM 'v'`` and
    ``= 'v'`` reject the same rows in a WHERE clause (FALSE vs UNKNOWN
    both filter), so only postgresql keeps the native form; mssql/ansi
    emit ``IS NULL`` / ``=`` which every engine version parses — T-SQL
    also has no bare ``TRUE`` boolean literal, hence the ``1=1``
    fallback."""
    if dialect == "postgresql":
        return " AND ".join(
            f"w.{c} IS NOT DISTINCT FROM {_lit(v)}" for c, v in scope.items()
        ) or "TRUE"
    return " AND ".join(
        f"w.{_q(c, dialect)} IS NULL" if v is None else f"w.{_q(c, dialect)} = {_lit(v)}"
        for c, v in scope.items()
    ) or "1=1"


def _delete_head(target: str, dialect: str) -> str:
    """T-SQL cannot alias a plain DELETE target (``DELETE FROM t w`` is a
    syntax error); the reference writes ``DELETE w FROM … w`` there
    (client.js:1130). pg/Derby accept the bare-alias form."""
    if dialect == "mssql":
        return f"DELETE w FROM {target} w"
    return f"DELETE FROM {target} w"


def _cols(layout: TableLayout, dialect: str = "postgresql") -> str:
    return ", ".join(_q(c, dialect) for c in layout.columns)


def dedup_subquery(
    staging: str, layout: TableLayout, dialect: str = "postgresql"
) -> str:
    """C1 as SQL: newest row per key from the staging table
    (mirrors client.js:1084-1091)."""
    keys = ", ".join(_q(c, dialect) for c in layout.key_columns)
    return (
        f"SELECT {_cols(layout, dialect)} FROM ("
        f"SELECT {_cols(layout, dialect)}, ROW_NUMBER() OVER ("
        f"PARTITION BY {keys} ORDER BY modified DESC) AS rn "
        f"FROM {staging}) d WHERE rn = 1"
    )


def generate_full_sync_sql(
    target: str,
    staging: str,
    layout: TableLayout,
    scope: dict[str, str | None],
    prefer_updates_over_inserts: bool = False,
    dialect: str = "postgresql",
) -> list[str]:
    """Full-sync merge statements (one transaction).

    delete-all mode (pg default; client.js:999-1005): partition-scoped DELETE
    then blind insert of the deduped staging. merge mode (client.js:1006-1111):
    anti-join delete + change-detecting update + insert-if-absent.
    """
    scope_pred = _scope_pred(scope, dialect)
    stmts: list[str] = []
    if not prefer_updates_over_inserts:
        stmts.append(f"{_delete_head(target, dialect)} WHERE {scope_pred}")
        if dialect == "ansi":
            # ANSI path: staging arrives C1-deduped from Spark (dedup_latest
            # is one window in the engine, cheaper than re-deriving it
            # server-side; Derby has no partitioned ROW_NUMBER anyway)
            stmts.append(
                f"INSERT INTO {target} ({_cols(layout, dialect)}) "
                f"SELECT {_cols(layout, dialect)} FROM {staging}"
            )
        else:
            stmts.append(
                f"INSERT INTO {target} ({_cols(layout, dialect)}) "
                f"{dedup_subquery(staging, layout, dialect)}"
            )
        return stmts
    # merge mode
    stmts.append(
        f"{_delete_head(target, dialect)} WHERE {scope_pred} AND NOT EXISTS ("
        f"SELECT 1 FROM {staging} t WHERE {_key_eq('t', 'w', layout, dialect)})"
    )
    if dialect == "ansi":
        stmts.append(_merge_upsert_sql(target, staging, layout))
    else:
        stmts.append(_update_sql(target, staging, layout, dialect))
        stmts.append(_insert_if_absent_sql(target, staging, layout, dialect))
    return stmts


def generate_delta_sync_sql(
    target: str,
    staging_updates: str,
    staging_deletes: str | None,
    layout: TableLayout,
    dialect: str = "postgresql",
) -> list[str]:
    """Delta-sync merge statements: C4 semi-join tombstone delete + C5
    change-detecting update + C1-dedup/C6 insert-if-absent
    (client.js:1033-1111)."""
    stmts: list[str] = []
    if staging_deletes:
        if dialect == "mssql":
            stmts.append(
                f"DELETE w FROM {target} w INNER JOIN {staging_deletes} t "
                f"ON {_key_eq('t', 'w', layout, dialect)}"
            )
        elif dialect == "ansi":
            stmts.append(
                f"DELETE FROM {target} w WHERE EXISTS ("
                f"SELECT 1 FROM {staging_deletes} t WHERE {_key_eq('t', 'w', layout, dialect)})"
            )
        else:
            stmts.append(
                f"DELETE FROM {target} w USING {staging_deletes} t "
                f"WHERE {_key_eq('t', 'w', layout, dialect)}"
            )
    if dialect == "ansi":
        stmts.append(_merge_upsert_sql(target, staging_updates, layout))
    else:
        stmts.append(_update_sql(target, staging_updates, layout, dialect))
        stmts.append(_insert_if_absent_sql(target, staging_updates, layout, dialect))
    return stmts


def generate_safe_delta_sql(
    target: str,
    staging_updates: str,
    staging_membership: str,
    layout: TableLayout,
    scope: dict[str, str | None],
    dialect: str = "postgresql",
) -> list[str]:
    """Safe-delta merge statements: C5/C6 upsert of the staged batch (gap
    rows already unioned in Spark-side, C9) + C7 set-difference delete —
    rows inside this sync's scope that are no longer members of the filtered
    collection (client.js:1184-1199; re-scoping rationale at :1138).

    Deliberate deviation, pinned by the golden tests: the reference's pg
    branch deletes with ``(cols) NOT IN (SELECT cols FROM temp)``
    (client.js:1186-1190) while its mssql branch uses ``NOT EXISTS``
    (client.js:1125-1137). We emit NOT EXISTS with null-safe key equality
    for BOTH: with a nullable baseurl/path layout, a single NULL in the
    membership tuple makes NOT IN evaluate UNKNOWN for every row — the
    delete silently removes NOTHING and stale rows survive a safe sync.
    NOT EXISTS has the mssql branch's (correct) semantics in all cases."""
    stmts: list[str] = []
    scope_pred = _scope_pred(scope, dialect)
    if dialect == "ansi":
        stmts.append(_merge_upsert_sql(target, staging_updates, layout))
    else:
        stmts.append(_update_sql(target, staging_updates, layout, dialect))
        stmts.append(_insert_if_absent_sql(target, staging_updates, layout, dialect))
    stmts.append(
        f"{_delete_head(target, dialect)} WHERE {scope_pred} AND NOT EXISTS ("
        f"SELECT 1 FROM {staging_membership} t WHERE {_key_eq('t', 'w', layout, dialect)})"
    )
    return stmts


def _merge_upsert_sql(target: str, staging: str, layout: TableLayout) -> str:
    """C5+C6 as one standard ``MERGE`` (SQL:2003; runs on Derby 10.11+,
    Postgres 15+, Oracle, DB2): change-detecting update on match, insert on
    no-match. Staging must arrive C1-deduped (MERGE raises on duplicate
    source matches by spec — a free integrity check on the Spark-side
    dedup)."""
    sets = '"modified" = t."modified", "jsondata" = t."jsondata"' + (
        ', "resourcetype" = t."resourcetype"' if layout.has_resourcetype else ""
    )
    changed = (
        '(w."jsondata" <> t."jsondata"'
        ' OR (w."jsondata" IS NULL AND t."jsondata" IS NOT NULL)'
        ' OR (w."jsondata" IS NOT NULL AND t."jsondata" IS NULL))'
    )
    vals = ", ".join(f't."{c}"' for c in layout.columns)
    return (
        f"MERGE INTO {target} w USING {staging} t "
        f"ON {_key_eq('t', 'w', layout, 'ansi')} "
        f"WHEN MATCHED AND {changed} THEN UPDATE SET {sets} "
        f"WHEN NOT MATCHED THEN INSERT ({_cols(layout, 'ansi')}) VALUES ({vals})"
    )


def _update_sql(target: str, staging: str, layout: TableLayout, dialect: str) -> str:
    """C5: null-aware change-detecting update, emitting the reference's
    explicit ``<> OR (NULL-pair)`` predicate VERBATIM in shape for both
    dialects (pg client.js:1064, mssql client.js:932 — the reference never
    uses IS DISTINCT FROM here, and MSSQL lacks it before 2022 anyway)."""
    sets = "modified = t.modified, jsondata = t.jsondata" + (
        ", resourcetype = t.resourcetype" if layout.has_resourcetype else ""
    )
    changed = (
        "(w.jsondata <> t.jsondata OR (w.jsondata IS NULL AND t.jsondata IS NOT NULL)"
        " OR (w.jsondata IS NOT NULL AND t.jsondata IS NULL))"
    )
    if dialect == "mssql":
        return (
            f"UPDATE w SET {sets} FROM {target} w INNER JOIN {staging} t "
            f"ON {_key_eq('t', 'w', layout, dialect)} WHERE {changed}"
        )
    return (
        f"UPDATE {target} w SET {sets} FROM {staging} t "
        f"WHERE {_key_eq('t', 'w', layout, dialect)} AND {changed}"
    )


def _insert_if_absent_sql(
    target: str, staging: str, layout: TableLayout, dialect: str = "postgresql"
) -> str:
    """C1 dedup + C6 NOT-EXISTS guarded insert (client.js:1069-1111)."""
    dedup = dedup_subquery(staging, layout, dialect)
    return (
        f"INSERT INTO {target} ({_cols(layout, dialect)}) "
        f"SELECT {_cols(layout, dialect)} FROM ({dedup}) s WHERE NOT EXISTS ("
        f"SELECT 1 FROM {target} w WHERE {_key_eq('s', 'w', layout, dialect)})"
    )


def _lit(v: str | None) -> str:
    return "NULL" if v is None else "'" + v.replace("'", "''") + "'"


def staging_ddl(
    staging: str,
    target: str,
    dialect: str = "postgresql",
    columns: Iterable[str] | None = None,
    unlogged: bool = True,
) -> list[str]:
    """DDL creating the staging table FROM THE TARGET'S OWN SCHEMA, the
    reference's design (mssql ``SELECT TOP 0 * INTO`` client.js:809-816;
    pg ``CREATE TEMPORARY TABLE … AS SELECT * FROM target LIMIT 0``
    client.js:839-843). Inheriting the target's column types is what makes
    a ``jsonb``/``timestamptz`` target work: staged values compare and
    assign without casts, exactly as in the reference, instead of Spark's
    JDBC writer creating TEXT columns that pg refuses to compare against
    jsonb.

    Deviation, by necessity: the reference stages into session-temp tables
    over its ONE connection; Spark executors bulk-insert over many
    connections, so the staging table must be a regular (pg: UNLOGGED — no
    WAL, dropped after the merge) table. ``columns`` restricts the
    inherited schema (deletes/membership staging carries keys only)."""
    cols = ", ".join(columns) if columns else "*"
    if dialect == "mssql":
        bcols = ", ".join(_q(c, dialect) for c in columns) if columns else "*"
        return [
            f"IF OBJECT_ID(N'{staging}') IS NOT NULL DROP TABLE {staging}",
            f"SELECT TOP 0 {bcols} INTO {staging} FROM {target}",
        ]
    if dialect == "ansi":
        qcols = ", ".join(f'"{c}"' for c in columns) if columns else "*"
        return [
            f"CREATE TABLE {staging} AS SELECT {qcols} FROM {target} WITH NO DATA"
        ]
    head = "CREATE UNLOGGED TABLE" if unlogged else "CREATE TABLE"
    return [
        f"DROP TABLE IF EXISTS {staging}",
        f"{head} {staging} AS SELECT {cols} FROM {target} LIMIT 0",
    ]


@dataclass
class JdbcResourceSink:
    """Executes the staged-write + merge flow against a live JDBC target."""

    spark: SparkSession
    url: str
    target_table: str
    layout: TableLayout
    properties: dict[str, str]
    max_bulk_size: int = DEFAULT_MAX_BULK
    dialect: str = "postgresql"
    stage_like_target: bool = False

    def _props(self) -> dict[str, str]:
        """Connection properties; with like-target staging on postgresql,
        default ``stringtype=unspecified`` so the pg JDBC driver binds
        Spark's string parameters as untyped literals and the SERVER casts
        them into the staging column's real type (jsonb, timestamptz) —
        the same server-side coercion the reference gets from node-pg's
        untyped parameterized inserts (client.js:338,:269)."""
        if self.dialect == "postgresql" and self.stage_like_target:
            return {"stringtype": "unspecified", **self.properties}
        return self.properties

    def _connection(self):
        try:
            jvm = self.spark._sc._jvm  # noqa: SLF001
            props = jvm.java.util.Properties()
            for k, v in self._props().items():
                props.setProperty(k, v)
            return jvm.java.sql.DriverManager.getConnection(self.url, props)
        except Exception as e:  # pragma: no cover - needs a live DB
            raise JdbcUnavailable(f"no JDBC connectivity: {e}") from e

    def create_staging_like_target(
        self, staging_table: str, columns: Iterable[str] | None = None
    ) -> None:
        """Create (replacing) the staging table from the target's own
        schema — see ``staging_ddl``. The ansi path has no DROP IF EXISTS,
        so a pre-drop is attempted and a missing table tolerated."""
        conn = self._connection()
        try:
            st = conn.createStatement()
            if self.dialect == "ansi":
                try:
                    st.executeUpdate(f"DROP TABLE {staging_table}")
                except Exception:
                    pass  # first run: staging doesn't exist yet
            for sql in staging_ddl(
                staging_table, self.target_table, self.dialect, columns
            ):
                st.executeUpdate(sql)
            if not conn.getAutoCommit():
                conn.commit()
        finally:
            conn.close()

    def write_staging(
        self,
        df: DataFrame,
        staging_table: str,
        column_types: str | None = None,
        like_target: bool | None = None,
    ) -> None:
        """A8 — executors bulk-insert the staged batch (batchsize =
        maxBulkSize). ``column_types`` optionally overrides the created
        table's column DDL (e.g. VARCHAR instead of a dialect's default CLOB,
        which some engines refuse to compare in merge predicates). With
        ``like_target`` (default: the sink's ``stage_like_target``), the
        staging table is instead pre-created from the target's schema and
        Spark APPENDS into it — required for pg jsonb/timestamptz targets,
        whose types Spark's writer cannot create."""
        if like_target is None:
            like_target = self.stage_like_target
        if like_target:
            self.create_staging_like_target(staging_table, columns=df.columns)
            df.write.mode("append").option("batchsize", self.max_bulk_size).jdbc(
                self.url, staging_table, properties=self._props()
            )
            return
        w = df.write.mode("overwrite").option("batchsize", self.max_bulk_size)
        if column_types:
            w = w.option("createTableColumnTypes", column_types)
        w.jdbc(self.url, staging_table, properties=self._props())

    def drop_tables(self, tables: Iterable[str]) -> None:
        """Best-effort staging cleanup (the regular-table analog of the
        reference's ON COMMIT DROP temp tables): each drop in its own
        autocommit statement; a table another path already dropped — or a
        connection hiccup — never masks the sync result being returned."""
        try:
            conn = self._connection()
        except JdbcUnavailable:
            return
        try:
            st = conn.createStatement()
            for t in tables:
                try:
                    st.executeUpdate(f"DROP TABLE {t}")
                except Exception:
                    pass
        finally:
            conn.close()

    def merge(
        self,
        statements: list[str],
        dry_run: bool = False,
        count_query: str | None = None,
    ) -> int | None:
        """Run the generated statements in ONE transaction (D6); dry-run
        rolls back instead of committing (client.js:1808-1813).
        ``count_query`` (a single-value ``SELECT COUNT(*)``) runs inside
        that transaction after the statements, before the commit or
        rollback, so a dry run reports the count the merge would leave;
        its value is returned (None without one)."""
        conn = self._connection()
        try:
            conn.setAutoCommit(False)
            st = conn.createStatement()
            for sql in statements:
                st.executeUpdate(sql)
            count = None
            if count_query is not None:
                rs = st.executeQuery(count_query)
                rs.next()
                count = int(rs.getLong(1))
            if dry_run:
                conn.rollback()
            else:
                conn.commit()
            return count
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()
