"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of (seed, epoch, index): the same seed
always yields the same inputs.

- ``DeltaFeed``: an SRI endpoint whose state moves one *epoch* per published
  batch. The base (epoch 0) is loaded straight into the lake; each later
  epoch updates ``n_changed`` live resources, echoes the first ``n_hot`` of
  them ``n_echoes`` times (the C1 paging-duplicate skew case), tombstones
  ``n_churn`` base resources and inserts ``n_churn`` new ones, so the
  partition size stays constant.
- ``make_corpus``: documents with planted near-duplicate clusters, so the
  dedup survivor count is known exactly.
"""

from __future__ import annotations

import datetime as dt
import json
import random
import urllib.parse

BASE = dt.datetime(2019, 7, 16, 7, 0, 0, tzinfo=dt.timezone.utc)
BASE_MS = int(BASE.timestamp() * 1000)
DAY_MS = 86_400_000
HOUR_MS = 3_600_000
# one multiplier for every seeded integer field: identical in Python and in
# the Spark SQL expression that writes the delta base (both stay < 2**63)
VALUE_MUL = 1_000_003
VALUE_MOD = 1_000_000_007
MAX_PAGE = 5000  # server-side page-size cap


def iso(ms: int) -> str:
    """Epoch millis → the SRI ``$$meta.modified`` format."""
    t = BASE + dt.timedelta(milliseconds=ms - BASE_MS)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def iso_to_ms(s: str) -> int:
    t = dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    )
    return int(t.timestamp() * 1000)


def value_of(seed: int, i: int, rev: int) -> int:
    return (i * VALUE_MUL + seed * 7919 + rev * 104_729) % VALUE_MOD


def make_doc(path: str, i: int, modified_ms: int, seed: int, rev: int) -> dict:
    v = value_of(seed, i, rev)
    return {
        "$$meta": {
            "deleted": False,
            "modified": iso(modified_ms),
            "permalink": f"{path}/{i}",
            "type": "_RESOURCE",
        },
        "key": str(i),
        "name": f"Resource {i} revision {rev}",
        "tag": f"t{v % 97}",
        "value": v,
    }


def dumps(doc: dict) -> str:
    """The reader's canonical JSON form (``translate_page``)."""
    return json.dumps(doc, separators=(",", ":"), sort_keys=True)


def _page(url: str, q: dict, items: list, meta_count: int, offset: int) -> dict:
    meta: dict = {"current": url, "count": meta_count}
    if offset + len(items) < meta_count and items:
        nxt = dict(q, offset=str(offset + len(items)))
        meta["next"] = f"{urllib.parse.urlparse(url).path}?{urllib.parse.urlencode(nxt)}"
    return {"$$meta": meta, "results": items}


def _query(url: str) -> dict:
    return dict(urllib.parse.parse_qsl(urllib.parse.urlparse(url).query, keep_blank_values=True))


class DeltaFeed:
    """Delta-feed endpoint over a base of ``n_base`` resources.

    Timestamps: base resource i was modified at BASE + i s. Epoch e's rows
    sit at ``epoch_ms(e) + j`` ms, except its last insert (the *marker*),
    which sits one hour later. The engine's conservative watermark lands
    about one sync duration below the newest row it saw, so the next delta
    re-reads exactly that marker row (unchanged, so the merge skips it)
    and nothing else of the previous epoch.

    Updates draw from the lower half of the base; tombstones walk down the
    upper half, so an update never touches a deleted resource.
    """

    def __init__(
        self,
        seed: int,
        n_base: int,
        n_changed: int,
        n_echoes: int,
        n_churn: int,
        n_hot: int = 50,
        path: str = "/resources",
    ) -> None:
        self.seed = seed
        self.n_base = n_base
        self.n_changed = n_changed
        self.n_echoes = n_echoes
        self.n_churn = n_churn
        self.n_hot = min(n_hot, n_changed)
        self.path = path
        self.epoch = 0
        self._memo: dict = {}

    # -- epoch arithmetic ------------------------------------------------------

    @property
    def base_end_ms(self) -> int:
        return BASE_MS + (self.n_base + 1) * 1000

    def epoch_ms(self, e: int) -> int:
        return self.base_end_ms + e * DAY_MS

    def max_epochs(self) -> int:
        return (self.n_base - self.n_base // 2) // max(1, self.n_churn)

    def publish(self) -> int:
        """Advance the endpoint by one epoch (a new batch of changes)."""
        if self.epoch + 1 > self.max_epochs():
            raise RuntimeError("DeltaFeed ran out of base rows to tombstone")
        self.epoch += 1
        self.reset_cache()
        return self.epoch

    def reset_cache(self) -> None:
        self._memo = {}

    def changes(self, e: int) -> tuple[list[tuple[str, dict]], list[tuple[str, int]]]:
        """(feed rows in publish order, tombstones as (href, modified_ms))
        of epoch ``e``. Feed rows: updates, then inserts (the last is the
        marker), then the hot echoes."""
        rng = random.Random(self.seed * 1_000_003 + e)
        t0 = self.epoch_ms(e)
        upd = rng.sample(range(1, self.n_base // 2 + 1), self.n_changed)
        rows: list[tuple[str, dict]] = []
        j = 0
        for i in upd:
            rows.append((f"{self.path}/{i}", make_doc(self.path, i, t0 + j, self.seed, e)))
            j += 1
        first_new = self.n_base + (e - 1) * self.n_churn + 1
        for k in range(self.n_churn):
            i = first_new + k
            ts = t0 + HOUR_MS if k == self.n_churn - 1 else t0 + j
            rows.append((f"{self.path}/{i}", make_doc(self.path, i, ts, self.seed, e)))
            j += 1
        rows.extend(rows[k % self.n_hot] for k in range(self.n_echoes))
        top = self.n_base - (e - 1) * self.n_churn
        tombs = [(f"{self.path}/{top - k}", t0 + self.n_changed + k) for k in range(self.n_churn)]
        return rows, tombs

    def _feed(self, since_ms: int, deleted: bool) -> list[tuple[str, dict]]:
        """Current state of every resource (or tombstone) modified after
        ``since_ms``: newest epoch first, each href once in its newest form."""
        key = (since_ms, deleted)
        if key in self._memo:
            return self._memo[key]
        if since_ms < self.base_end_ms:
            raise ValueError(
                "DeltaFeed serves epochs only; the base is loaded into the lake directly"
            )
        seen: set[str] = set()
        out: list[tuple[str, dict]] = []
        for e in range(self.epoch, 0, -1):
            if self.epoch_ms(e) + HOUR_MS <= since_ms:
                break
            rows, tombs = self.changes(e)
            live: list[tuple[str, dict]] = []
            for href, doc in rows:
                if href in seen:
                    continue
                if not deleted and iso_to_ms(doc["$$meta"]["modified"]) > since_ms:
                    live.append((href, doc))
            dead = [
                (href, {"$$meta": {"deleted": True, "modified": iso(ms), "permalink": href}})
                for href, ms in tombs
                if href not in seen and ms > since_ms
            ]
            out.extend(dead if deleted else live)
            seen.update(h for h, _ in rows)
            seen.update(h for h, _ in tombs)
        self._memo[key] = out
        return out

    def fetch_json(self, url: str) -> dict:
        q = _query(url)
        if "modifiedSince" not in q:
            raise ValueError("DeltaFeed answers modifiedSince queries only")
        items = self._feed(iso_to_ms(q["modifiedSince"]), q.get("$$meta.deleted") == "true")
        offset = int(q.get("offset", "0"))
        limit = min(int(q.get("limit", "500")), MAX_PAGE)
        page = items[offset : offset + limit]
        expand = q.get("expand", "FULL")
        results = [
            {"href": h} if expand == "NONE" else {"href": h, "$$expanded": d} for h, d in page
        ]
        return _page(url, q, results, len(items), offset)


def make_corpus(seed: int, n_docs: int, words: int = 60, vocab: int = 50_000):
    """(docs, clusters): ``n_docs`` (doc_id, text) rows in a shuffled id
    order, grouped into ``clusters`` near-duplicate clusters.

    A cluster is a random base text plus 0-4 copies with one word replaced
    (3-shingle Jaccard >= 0.9 to the base, >= 0.8 between copies). Words
    come from a large vocabulary, so texts of different clusters share no
    3-shingle in practice and the survivor count equals ``clusters``.
    """
    rng = random.Random(seed)
    texts: list[str] = []
    clusters = 0
    while len(texts) < n_docs:
        base = [f"w{rng.randrange(vocab)}" for _ in range(words)]
        clusters += 1
        texts.append(" ".join(base))
        for _ in range(min(rng.choice((0, 0, 1, 2, 4)), n_docs - len(texts))):
            copy = list(base)
            copy[rng.randrange(words)] = f"x{rng.randrange(vocab)}"
            texts.append(" ".join(copy))
    ids = list(range(1, n_docs + 1))
    rng.shuffle(ids)
    return list(zip(ids, texts)), clusters
