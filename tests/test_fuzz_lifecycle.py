"""Randomized merge-lifecycle fuzz (r9 verdict item 6).

One pytest entry replays >= 50 seeded scenarios over the combinatorial
surface SURVEY §7.4 calls out — sync type × optional-column layout ×
dialect × crash point × duplicate/tombstone/silent-drop/expand=NONE mix —
checking the reference's semantics matrix (client.js:322-332 expand=NONE
rows, :1064 null-aware change detection, :1138 scope re-check) two ways
per seed:

1. **Lake engine end-to-end** (Spark): random mutation rounds against the
   fake SRI API, a random sync type per round, page-shift duplicate
   injection on the wire, broken-next-links offset paging, and a crash
   armed at a random commit boundary — after which the table must still
   read consistently and a plain re-run must converge to the crash-free
   result.
2. **Dialect replay** (DuckDB, no Spark): the same round's staged inputs
   run through the generated merge SQL of a random dialect (postgresql
   natively; mssql via the pinned transpile; ansi) against a target
   seeded with the pre-round state plus an out-of-scope row — the final
   table must equal the model's expected state, and the out-of-scope row
   must survive.

Any failing seed is reported with its full knob set so it can be
minimized into a permanent regression test.
"""

from __future__ import annotations

import pytest

import json
import random

import duckdb

from sri2db_spark.model.schema import (
    LAYOUT_LARGE,
    LAYOUT_MEDIUM,
    LAYOUT_SMALL,
    TableLayout,
)
from sri2db_spark.operators.watermark import WatermarkStore
from sri2db_spark.sinks.jdbc import (
    generate_delta_sync_sql,
    generate_full_sync_sql,
    generate_safe_delta_sql,
)
from sri2db_spark.sinks.lake import LakeTable
from sri2db_spark.sources.sri_api import SriApiReader
from sri2db_spark.sync.engine import Sri2DbSync

from .fake_api import FakeSriApi
from .test_mssql_dialect_on_duckdb import tsql_to_duckdb
from .test_property_sync import _ts, apply_mutations
from .test_sync_crash import CrashingCommitter, SimulatedCrash

pytestmark = pytest.mark.full  # evidence lane: minutes-long seeded run


BASEURL = "https://fuzz.api"
N_SEEDS = 50
LAYOUTS = (LAYOUT_LARGE, LAYOUT_MEDIUM, LAYOUT_SMALL)
OPS = ("update", "delete", "add", "drop_silently", "touch")


# ---------------------------------------------------------------------------
# model bookkeeping: what each sync type must produce, per the reference
# ---------------------------------------------------------------------------


def _api_state(api: FakeSriApi) -> dict[str, str]:
    return {href: r["name"] for href, r in api.resources.items()}


def _expected_after_delta(
    pre: dict[str, str], api: FakeSriApi, muts
) -> dict[str, str]:
    """Delta applies updates/adds and tombstones; silent drops stay."""
    out = dict(pre)
    for op, i in muts:
        href = f"{api.path}/{i}"
        if op in ("update", "touch", "add") and href in api.resources:
            out[href] = api.resources[href]["name"]
        elif op == "delete" and href in api.deleted:
            out.pop(href, None)
    return out


# ---------------------------------------------------------------------------
# dialect replay on DuckDB
# ---------------------------------------------------------------------------


def _ddl(layout: TableLayout) -> str:
    types = {"modified": "TIMESTAMP"}
    return (
        "("
        + ", ".join(f"{c} {types.get(c, 'VARCHAR')}" for c in layout.columns)
        + ")"
    )


def _sql_row(layout: TableLayout, href: str, name, modified: str, path, base):
    vals = {
        "href": href,
        "key": href.rsplit("/", 1)[-1],
        "modified": modified.replace("T", " ").replace("Z", ""),
        "jsondata": name,
        "resourcetype": "_A",
        "path": path,
        "baseurl": base,
    }
    return tuple(vals[c] for c in layout.columns)


def _replay_dialect(
    rng: random.Random,
    layout: TableLayout,
    dialect: str,
    synctype: str,
    pre: dict[str, str],
    api: FakeSriApi,
    muts,
    round_t0: int,
) -> None:
    con = duckdb.connect()
    ddl = _ddl(layout)
    for t in ("resources", "stg", "stg_upd", "stg_del", "stg_members"):
        con.execute(f"CREATE TABLE {t} {ddl}")
    marks = ", ".join("?" for _ in layout.columns)

    def ins(table, rows):
        if rows:
            con.executemany(f"INSERT INTO {table} VALUES ({marks})", rows)

    post = _api_state(api)
    # scope only over the columns this layout HAS (the engine derives the
    # scope dict from the layout the same way)
    scope = {
        c: v
        for c, v in (("baseurl", BASEURL), ("path", api.path))
        if getattr(layout, f"has_{c}")
    }

    # target: the pre-round state, plus an out-of-scope row sharing an
    # in-scope href whenever the layout has a scoping column to tell
    # them apart (the client.js:1138 re-check surface)
    rows = [
        _sql_row(layout, h, v, _ts(round_t0), api.path, BASEURL)
        for h, v in pre.items()
    ]
    other = None
    if layout.has_baseurl or layout.has_path:
        shared = next(iter(pre), f"{api.path}/1")
        other = (
            shared,
            "other-scope",
            "https://other.api" if layout.has_baseurl else BASEURL,
            "/elsewhere" if not layout.has_baseurl else api.path,
        )
        rows.append(
            _sql_row(layout, other[0], other[1], _ts(1), other[3], other[2])
        )
    ins("resources", rows)

    # staged updates: rows the round touched (what a delta fetch returns),
    # with a page-shift duplicate (an older copy of one row) half the time
    touched = {}
    for op, i in muts:
        href = f"{api.path}/{i}"
        if op in ("update", "touch", "add") and href in api.resources:
            touched[href] = api.resources[href]
    # the engine C1-dedups staging Spark-side BEFORE the merge runs
    # ("the ANSI merge requires C1-deduped staging", sync/jdbc_engine.py:128),
    # so stg_upd carries exactly one row per key here; the page-shift
    # duplicate is injected on the FULL path below, whose generated
    # statement dedups inline (ROW_NUMBER ... rn = 1)
    upd_rows = [
        _sql_row(
            layout, h, r["name"], r["$$meta"]["modified"], api.path, BASEURL
        )
        for h, r in touched.items()
    ]

    if synctype == "full":
        full_rows = [
            _sql_row(
                layout, h, r["name"], r["$$meta"]["modified"], api.path, BASEURL
            )
            for h, r in api.resources.items()
        ]
        # page-shift duplicate: strictly OLDER than every live stamp
        # (initial resources carry 2019 stamps; _ts() emits 2021). Only on
        # a row ABSENT from the target: that exercises the statement's own
        # inline ROW_NUMBER dedup on the insert path — a duplicate of an
        # existing row would instead hit the UPDATE, which (like the
        # engine) assumes C1-deduped staging (sync/jdbc_engine.py:128)
        fresh = [h for h in api.resources if h not in pre]
        if fresh and rng.random() < 0.5:
            full_rows.append(
                _sql_row(
                    layout, fresh[0], "stale-dup", "2018-01-01T00:00:00.000Z",
                    api.path, BASEURL,
                )
            )
        ins("stg", full_rows)
        sqls = generate_full_sync_sql(
            "resources", "stg", layout, scope,
            prefer_updates_over_inserts=rng.random() < 0.5,
            dialect=dialect,
        )
        expected = dict(post)
    elif synctype == "delta":
        ins("stg_upd", upd_rows)
        dels = [
            _sql_row(layout, h, None, m, api.path, BASEURL)
            for h, m in api.deleted.items()
        ]
        ins("stg_del", dels)
        sqls = generate_delta_sync_sql(
            "resources", "stg_upd", "stg_del" if dels else None, layout,
            dialect=dialect,
        )
        expected = {h: v for h, v in _expected_after_delta(pre, api, muts).items()}
        # the staged tombstones cover ALL accumulated deletes, not just this
        # round's — apply them to the expectation the same way
        expected = {h: v for h, v in expected.items() if h not in api.deleted}
    else:  # safe delta: upserts + membership reconciliation
        # gap rows (members missing from the target) are unioned into the
        # staged updates Spark-side (C9); replicate that contract
        gap = [
            _sql_row(
                layout, h, r["name"], r["$$meta"]["modified"], api.path, BASEURL
            )
            for h, r in api.resources.items()
            if h not in pre and h not in touched
        ]
        ins("stg_upd", upd_rows + gap)
        members = [
            # expand=NONE membership rows: href-only, NULL jsondata
            # (client.js:322-332)
            _sql_row(layout, h, None, _ts(round_t0 + 50), api.path, BASEURL)
            for h in api.resources
        ]
        ins("stg_members", members)
        sqls = generate_safe_delta_sql(
            "resources", "stg_upd", "stg_members", layout, scope,
            dialect=dialect,
        )
        expected = dict(post)

    if dialect == "mssql":
        sqls = [tsql_to_duckdb(s) for s in sqls]
    for s in sqls:
        con.execute(s)

    got = {}
    cols = ", ".join(layout.columns)
    for row in con.execute(f"SELECT {cols} FROM resources").fetchall():
        rec = dict(zip(layout.columns, row))
        in_scope = (not layout.has_baseurl or rec["baseurl"] == BASEURL) and (
            not layout.has_path or rec["path"] == api.path
        )
        if in_scope:
            assert rec["href"] not in got, f"duplicate {rec['href']} after merge"
            got[rec["href"]] = rec["jsondata"]
        else:
            assert other is not None and rec["jsondata"] == "other-scope"
    assert got == expected, (synctype, dialect, layout.name)
    if other is not None:
        n_other = con.execute(
            "SELECT count(*) FROM resources WHERE jsondata = 'other-scope'"
        ).fetchone()[0]
        assert n_other == 1, "scope re-check failed: out-of-scope row touched"
    con.close()


# ---------------------------------------------------------------------------
# lake engine end-to-end
# ---------------------------------------------------------------------------


def _table_state(sync: Sri2DbSync) -> dict[str, str]:
    out = {}
    for r in sync.table.read().collect():
        assert r["href"] not in out, "duplicate href in lake table"
        out[r["href"]] = (
            json.loads(r["jsondata"])["name"] if r["jsondata"] else None
        )
    return out


def _run_seed(spark, base, seed: int) -> None:
    rng = random.Random(seed)
    layout = rng.choice(LAYOUTS)
    # ansi's MERGE form executes live on Derby (test_jdbc_live) but has no
    # DuckDB parse; the replay fuzzes the two dialects DuckDB can run
    dialect = rng.choice(["postgresql", "mssql"])
    n = rng.randint(5, 9)
    api = FakeSriApi(path="/a", n=n, page_size=rng.randint(2, 4))
    api.broken_next_links = rng.random() < 0.3

    dup_rng = random.Random(seed + 10_000)
    real_fetch = api.fetch_json

    def fetch(url):
        doc = real_fetch(url)
        if (
            dup_rng.random() < 0.4
            and isinstance(doc, dict)
            and doc.get("results")
            # a real SRI server never returns more than `limit` rows, so
            # the duplicate may only land on a SHORT (final) page — an
            # inflated full page would break offset accounting in a way no
            # real server does
            and len(doc["results"]) < api.page_size
        ):
            # page-shift duplicate: the same resource seen again, as when a
            # concurrent insert shifts pagination between two page reads
            doc = dict(doc)
            doc["results"] = [doc["results"][0], *doc["results"]]
        return doc

    mc = CrashingCommitter()
    sync = Sri2DbSync(
        reader=SriApiReader(
            spark, BASEURL, fetch_json=fetch, limit=api.page_size,
            # the reference's nextLinksBroken config: the fake omits
            # $$meta.next, so the reader must page by offset itself
            next_links_broken=api.broken_next_links,
        ),
        table=LakeTable(spark, str(base / "table"), layout, committer=mc),
        watermarks=WatermarkStore(spark, str(base / "wm"), committer=mc),
        path=api.path,
        baseurl=BASEURL,
        layout=layout,
    )
    sync.full_sync()
    assert _table_state(sync) == _api_state(api)

    t0 = 100
    for _round in range(2):
        muts = [
            (rng.choice(OPS), rng.randint(1, n + 4))
            for _ in range(rng.randint(0, 5))
        ]
        pre = _table_state(sync)
        apply_mutations(api, muts, t0)
        synctype = rng.choice(["full", "delta", "safe"])
        run = {
            "full": sync.full_sync,
            "delta": sync.delta_sync,
            "safe": sync.safe_delta_sync,
        }[synctype]

        if rng.random() < 0.4:
            mc.arm(rng.randint(1, 2))
            try:
                run()
            except SimulatedCrash:
                pass
            finally:
                mc.disarm()
            # old-or-new, never partial: the table still reads, hrefs unique
            crashed_state = _table_state(sync)
            assert crashed_state is not None
            run = {
                "full": sync.full_sync,
                "delta": sync.delta_sync,
                "safe": sync.safe_delta_sync,
            }[synctype]

        run()

        state = _table_state(sync)
        if synctype in ("full", "safe"):
            assert state == _api_state(api), (synctype, layout.name)
        else:
            for href in api.deleted:
                assert href not in state, "tombstone resurrected"
            for op, i in muts:
                href = f"{api.path}/{i}"
                if op in ("update", "add", "touch") and href in api.resources:
                    assert state.get(href) == api.resources[href]["name"]

        _replay_dialect(rng, layout, dialect, synctype, pre, api, muts, t0)
        t0 += 100


def test_fuzz_merge_lifecycle_50_seeds(spark, tmp_path):
    failures = []
    for seed in range(N_SEEDS):
        try:
            _run_seed(spark, tmp_path / f"s{seed}", seed)
        except Exception as e:  # noqa: BLE001 - collected and reported
            failures.append((seed, f"{type(e).__name__}: {e}"[:400]))
    assert not failures, f"{len(failures)}/{N_SEEDS} seeds failed: {failures}"
