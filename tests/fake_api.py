"""Deterministic in-process fake SRI API for tests.

Mirrors the reference's express fixture (``/root/reference/test/index.mjs:
40-77``): a paginated collection with $$meta.next links, tombstone feed,
modifiedSince / keyIn / expand handling, and mutation helpers for the delta /
safe-delta scenarios in FIXTURES.md §5. Exposes ``fetch_json(url)`` so the
reader needs no HTTP server.
"""

from __future__ import annotations

import datetime as dt
import urllib.parse

_BASE = dt.datetime(2019, 7, 16, 7, 0, 0, tzinfo=dt.timezone.utc)


def seq_ts(i: int) -> str:
    """Valid, strictly increasing ISO timestamp for any index."""
    return (_BASE + dt.timedelta(seconds=i)).strftime("%Y-%m-%dT%H:%M:%S.000Z")


def make_resource(path: str, i: int, modified: str, name: str | None = None) -> dict:
    return {
        "$$meta": {
            "type": "_" + path.strip("/").upper(),
            "permalink": f"{path}/{i}",
            "modified": modified,
            "deleted": False,
        },
        "key": str(i),
        "name": name or f"Name of resource {path}",
    }


class RequestRecorder:
    """``fetch_json`` wrapper that appends each requested URL to a file.

    Offset shards and keyIn batches fetch inside executor Python workers,
    from pickled copies of the transport, so their requests never reach
    the driver's ``FakeSriApi.request_log``. This wrapper pickles along
    with the API it wraps, and every copy appends to the same file, one
    URL per line."""

    def __init__(self, fetch, path) -> None:
        self.fetch = fetch
        self.path = str(path)

    def __call__(self, url: str) -> dict:
        with open(self.path, "a", encoding="utf-8") as f:
            f.write(url + "\n")
        return self.fetch(url)

    def urls(self) -> list[str]:
        try:
            with open(self.path, encoding="utf-8") as f:
                return f.read().splitlines()
        except FileNotFoundError:
            return []

    def clear(self) -> None:
        open(self.path, "w").close()


class SyntheticSriApi:
    """Stateless GENERATED SRI API for scale benches (2M+ resources).

    Resources are a pure function of index — nothing is stored, so the
    object pickles to executor Python workers in bytes (the offset-sharded
    reader ships ``fetch_json`` into ``mapInPandas`` tasks) and a
    2M-resource corpus costs no driver memory. Protocol mirrors
    :class:`FakeSriApi` (limit/offset paging, ``$$meta.count``, next
    links, ``modifiedSince``, ``$$meta.deleted=true``, ``expand=NONE``).

    Base resources: index 1..n, modified = seq_ts(60·i).
    Delta feed (``modifiedSince`` past the base): ``n_updates`` updated
    resources at spread indices (k·stride+1), each ONCE, plus
    ``n_hot_echoes`` exact duplicate rows of the first ``n_hot`` updated
    resources — the paging-drift/retry duplication the C1 dedup window
    exists for, concentrated on a few hrefs (the skew case).
    Tombstones: the LAST ``n_tombstones`` indices, modified after every
    update.
    """

    def __init__(
        self,
        path: str = "/a",
        n: int = 2_000_000,
        page_size: int = 5000,
        n_updates: int = 0,
        n_hot_echoes: int = 0,
        n_hot: int = 50,
        n_tombstones: int = 0,
    ) -> None:
        self.path = path
        self.n = n
        self.page_size = page_size
        self.n_updates = n_updates
        self.n_hot_echoes = n_hot_echoes
        self.n_hot = min(n_hot, max(n_updates, 1))
        self.n_tombstones = n_tombstones
        # stride over the LIVE (non-tombstoned) index range so update
        # indices are distinct and never wrap onto each other
        live = n - n_tombstones
        self.stride = max(1, live // n_updates) if n_updates else 1

    # -- feed arithmetic -----------------------------------------------------

    def _upd_idx(self, k: int) -> int:
        # updates never touch the tombstone range (a real API stops
        # listing a deleted resource — it appears only in the tombstone
        # feed), so rows_after is exactly n - n_tombstones
        live = self.n - self.n_tombstones
        return (k * self.stride) % max(1, live) + 1

    def _upd_ts(self, k: int) -> str:
        return seq_ts(60 * self.n + 60 + k)

    def _tomb_idx(self, k: int) -> int:
        return self.n - k

    def _tomb_ts(self, k: int) -> str:
        return seq_ts(60 * self.n + 60 + self.n_updates + k)

    def _update_row(self, k: int) -> tuple[str, dict]:
        r = make_resource(self.path, self._upd_idx(k), self._upd_ts(k))
        return r["$$meta"]["permalink"], r

    def _feed_item(self, j: int) -> tuple[str, dict]:
        """j-th row of the delta feed: first every update once, then the
        hot-duplicate echoes (identical payloads of the first n_hot)."""
        if j < self.n_updates:
            return self._update_row(j)
        return self._update_row((j - self.n_updates) % self.n_hot)

    # -- request handling ------------------------------------------------------

    def fetch_json(self, url: str) -> dict:
        parsed = urllib.parse.urlparse(url)
        q = dict(urllib.parse.parse_qsl(parsed.query, keep_blank_values=True))
        if "keyIn" in q:
            # the generated API serves full/delta bench scans only; a
            # silent empty/stale answer here would make a safe-delta sync
            # quietly wrong — fail loudly instead
            raise NotImplementedError(
                "SyntheticSriApi does not implement keyIn (safe-delta); "
                "use FakeSriApi for safe-delta scenarios"
            )
        limit_raw = q.get("limit", "500")
        offset = int(q.get("offset", "0"))
        expand = q.get("expand", "FULL")
        want_deleted = q.get("$$meta.deleted") == "true"
        modified_since = q.get("modifiedSince")

        if want_deleted:
            idxs = [
                k
                for k in range(self.n_tombstones)
                if not modified_since or self._tomb_ts(k) > modified_since
            ]
            total = len(idxs)
            limit = total if limit_raw == "*" else min(int(limit_raw), self.page_size)
            page = idxs[offset : offset + limit]
            results = []
            for k in page:
                href = f"{self.path}/{self._tomb_idx(k)}"
                row = {
                    "$$meta": {
                        "permalink": href,
                        "modified": self._tomb_ts(k),
                        "deleted": True,
                    }
                }
                results.append({"href": href, "$$expanded": row})
        elif modified_since and modified_since >= seq_ts(60 * self.n):
            # delta feed: updates + hot echoes (all after the base)
            total = self.n_updates + self.n_hot_echoes
            limit = total if limit_raw == "*" else min(int(limit_raw), self.page_size)
            results = []
            for j in range(offset, min(offset + limit, total)):
                href, r = self._feed_item(j)
                results.append(
                    {"href": href}
                    if expand == "NONE"
                    else {"href": href, "$$expanded": r}
                )
        else:
            # base listing; modifiedSince inside the base range selects the
            # tail i > t(ms) (timestamps are monotone in the index)
            lo = 1
            if modified_since:
                lo_s, hi_s = 1, self.n + 1
                while lo_s < hi_s:
                    mid = (lo_s + hi_s) // 2
                    if seq_ts(60 * mid) > modified_since:
                        hi_s = mid
                    else:
                        lo_s = mid + 1
                lo = lo_s
            total = self.n - lo + 1 + (self.n_updates + self.n_hot_echoes if modified_since else 0)
            limit = total if limit_raw == "*" else min(int(limit_raw), self.page_size)
            results = []
            for j in range(offset, min(offset + limit, total)):
                if j < self.n - lo + 1:
                    i = lo + j
                    r = make_resource(self.path, i, seq_ts(60 * i))
                    href = r["$$meta"]["permalink"]
                else:
                    href, r = self._feed_item(j - (self.n - lo + 1))
                results.append(
                    {"href": href}
                    if expand == "NONE"
                    else {"href": href, "$$expanded": r}
                )

        meta: dict = {"current": url, "count": total}
        if offset + len(results) < total and results:
            nxt_q = dict(q, offset=str(offset + len(results)))
            meta["next"] = f"{parsed.path}?{urllib.parse.urlencode(nxt_q)}"
        return {"$$meta": meta, "results": results}


class FakeSriApi:
    def __init__(self, path: str = "/a", n: int = 10, page_size: int = 3) -> None:
        self.path = path
        self.page_size = page_size
        self.resources: dict[str, dict] = {}
        self.deleted: dict[str, str] = {}  # href -> modified (tombstones)
        self.filters: dict[str, str] = {}  # attribute filters, e.g. {"gender": "F"}
        self.request_log: list[str] = []
        self.broken_next_links = False
        for i in range(1, n + 1):
            r = make_resource(path, i, seq_ts(60 * i))
            self.resources[r["$$meta"]["permalink"]] = r

    # -- mutation helpers (delta scenarios) ---------------------------------

    def update(self, i: int, modified: str, name: str | None = None) -> None:
        href = f"{self.path}/{i}"
        r = dict(self.resources[href])
        r["$$meta"] = dict(r["$$meta"], modified=modified)
        if name is not None:
            r["name"] = name
        self.resources[href] = r

    def touch_without_change(self, i: int, modified: str) -> None:
        """Same payload semantics the reference skips via null-aware <>: only
        $$meta.modified changes, document otherwise identical."""
        self.update(i, modified)

    def delete(self, i: int, modified: str) -> None:
        href = f"{self.path}/{i}"
        self.resources.pop(href, None)
        self.deleted[href] = modified

    def drop_silently(self, i: int) -> None:
        """Membership exit without a tombstone (safe-delta scenario)."""
        self.resources.pop(f"{self.path}/{i}", None)

    def add(self, i: int, modified: str) -> None:
        r = make_resource(self.path, i, modified)
        href = r["$$meta"]["permalink"]
        self.resources[href] = r
        # a recreated resource no longer appears in the deleted feed
        self.deleted.pop(href, None)

    # -- request handling ----------------------------------------------------

    def fetch_json(self, url: str) -> dict:
        self.request_log.append(url)
        parsed = urllib.parse.urlparse(url)
        q = dict(urllib.parse.parse_qsl(parsed.query, keep_blank_values=True))
        limit_raw = q.get("limit", "500")
        offset = int(q.get("offset", "0"))
        expand = q.get("expand", "FULL")
        want_deleted = q.get("$$meta.deleted") == "true"
        modified_since = q.get("modifiedSince")
        key_in = q.get("keyIn")

        if want_deleted:
            items = [
                (href, {"$$meta": {"permalink": href, "modified": m, "deleted": True}})
                for href, m in sorted(self.deleted.items())
            ]
            if modified_since:
                items = [(h, r) for h, r in items if r["$$meta"]["modified"] > modified_since]
        else:
            items = sorted(self.resources.items())
            if modified_since:
                items = [
                    (h, r) for h, r in items if r["$$meta"]["modified"] > modified_since
                ]
            if key_in:
                keys = set(key_in.split(","))
                items = [(h, r) for h, r in items if r.get("key") in keys]

        limit = len(items) if limit_raw == "*" else min(int(limit_raw), self.page_size)
        page = items[offset : offset + limit]
        results = []
        for href, r in page:
            if expand == "NONE":
                results.append({"href": href})
            else:
                results.append({"href": href, "$$expanded": r})

        meta: dict = {"current": url, "count": len(items)}
        if offset + limit < len(items) and not self.broken_next_links:
            nxt_q = dict(q, offset=str(offset + limit))
            meta["next"] = f"{parsed.path}?{urllib.parse.urlencode(nxt_q)}"
        return {"$$meta": meta, "results": results}
