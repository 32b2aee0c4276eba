"""The benchmark workloads.

Each workload owns its generated input and exposes the same closed-loop
surface to ``run.py``:

- ``LOADS`` × ``load()``: set-up work that ``setup_s`` repeats and reports
  at its median (the delta workload's base partition load);
- ``WARMUP`` × ``op()``: untimed ops until the JIT warm-up slope flattens
  (counts measured from the per-op walls in the run diagnostics);
- ``op()``: publish fresh input, run one op, check its output; returns
  (wall seconds, input records, ok);
- ``traced_op(i)``: the same op with the layer prefixes run first and the
  public calls wrapped; returns (wall seconds, ok, layer values) and
  records in ``layers[i]`` how the op's job groups combine into layers;
- ``final_check()``: a content check after the last op.
"""

from __future__ import annotations

import copy
import datetime as dt
import os
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from sri2db_spark.functions.dedup import (
    connected_components,
    dedup_survivors,
    minhash_lsh_pairs,
    oph_signatures,
)
from sri2db_spark.model.schema import LAYOUT_LARGE
from sri2db_spark.operators.merge import merge_incremental
from sri2db_spark.operators.normalize import project_to_row, repair_resources
from sri2db_spark.operators.watermark import WatermarkStore
from sri2db_spark.sinks.committer import RenameCommitter
from sri2db_spark.sinks.lake import LakeTable
from sri2db_spark.sources.sri_api import SriApiReader
from sri2db_spark.sync.engine import Sri2DbSync

from .gen import BASE_MS, VALUE_MOD, VALUE_MUL, DeltaFeed, dumps, iso, make_corpus
from .trace import RecordingFetch, Spans, combine, job_group, read_requests, run_noop

BASEURL = "https://api.perfbench.invalid"
TABLENAME = "resources"
PAGE_LIMIT = 5000


def _stage(raw, path: str):
    """The engine's staging chain (repair → project), as ``Sri2DbSync``
    composes it."""
    ingest = F.lit(dt.datetime.now(tz=dt.timezone.utc))
    return project_to_row(repair_resources(raw, ingest), LAYOUT_LARGE, BASEURL, path)


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, parquet files) under a directory."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


class DeltaSync:
    """Sequential reader, read-modify-write: a small watermark-driven delta
    against a large partition, so target scan, merge and the partition
    rewrite dominate the op."""

    name = "delta_sync"
    path = "/resources"
    N_BASE = 100_000
    N_CHANGED = 4_000
    N_ECHOES = 1_000
    N_CHURN = 400
    WARMUP = 5
    LOADS = 3

    def __init__(self, spark, work: str, seed: int, trace: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.feed = DeltaFeed(seed, self.N_BASE, self.N_CHANGED, self.N_ECHOES, self.N_CHURN, path=self.path)
        self.req_log = os.path.join(work, "requests.log")
        fetch = RecordingFetch(self.feed.fetch_json, self.req_log) if trace else self.feed.fetch_json
        self.reader = SriApiReader(spark, BASEURL, fetch_json=fetch, limit=PAGE_LIMIT)
        # the traced op's prefixes read through an unrecorded reader
        self.plain_reader = SriApiReader(spark, BASEURL, fetch_json=self.feed.fetch_json, limit=PAGE_LIMIT)
        self.committer = RenameCommitter()
        self.table = LakeTable(spark, os.path.join(work, "lake"), LAYOUT_LARGE, committer=self.committer)
        self.marks = WatermarkStore(spark, os.path.join(work, "synctimes"))
        self.sync = Sri2DbSync(self.reader, self.table, self.path, baseurl=BASEURL, watermarks=self.marks)
        self.spans = Spans()
        self.layers: dict[int, list] = {}
        self._group = "idle"
        if trace:
            for obj, attr, name, grp in (
                (self.reader, "read_collection", "sources.read_s", None),
                (self.marks, "get", "watermark.get_s", "watermark"),
                (self.marks, "put", "watermark.put_s", "watermark"),
                (self.committer, "commit", "lake.commit_s", None),
                (self.table, "replace_partition", "lake.replace_s", "lake"),
            ):
                group = None if grp is None else (lambda grp=grp: f"{self._group}:{grp}")
                self.spans.wrap(obj, attr, name, self.sc, group)

    def base_frame(self):
        """The epoch-0 (href, resource) rows, built in the JVM with the
        same canonical JSON ``gen.make_doc`` + ``gen.dumps`` produce."""
        i = F.col("id")
        v = (i * F.lit(VALUE_MUL) + F.lit(self.seed * 7919)) % F.lit(VALUE_MOD)
        ts = F.date_format(F.timestamp_millis(F.lit(BASE_MS) + i * 1000), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
        href = F.concat(F.lit(self.path + "/"), i.cast("string"))
        doc = F.concat(
            F.lit('{"$$meta":{"deleted":false,"modified":"'), ts,
            F.lit('","permalink":"'), href,
            F.lit('","type":"_RESOURCE"},"key":"'), i.cast("string"),
            F.lit('","name":"Resource '), i.cast("string"),
            F.lit(' revision 0","tag":"t'), (v % 97).cast("string"),
            F.lit('","value":'), v.cast("string"), F.lit("}"),
        )
        return self.spark.range(1, self.N_BASE + 1).select(href.alias("href"), doc.alias("resource"))

    def load(self) -> None:
        """Base partition through the engine's staging and partition
        replace; seeds the DELTA watermark at the end of the base."""
        n = self.table.replace_partition(_stage(self.base_frame(), self.path), BASEURL, self.path)
        if n != self.N_BASE:
            raise RuntimeError(f"base load wrote {n} rows, expected {self.N_BASE}")
        self.marks.put(TABLENAME, BASEURL, self.path, "DELTA", self.feed.base_end_ms, int(time.time() * 1000))

    def expected(self, epoch: int) -> tuple[int, int]:
        """(resources_synced, deletes_synced) of the op reading ``epoch``:
        its rows, plus the previous epoch's marker row that the
        conservative watermark re-reads."""
        synced = self.N_CHANGED + self.N_CHURN + self.N_ECHOES + (1 if epoch >= 2 else 0)
        return synced, self.N_CHURN

    def _run(self, epoch: int):
        t0 = time.perf_counter()
        r = self.sync.delta_sync()
        wall = time.perf_counter() - t0
        synced, deletes = self.expected(epoch)
        ok = (r.resources_synced, r.deletes_synced, r.rows_after) == (synced, deletes, self.N_BASE)
        return wall, synced + deletes, ok, r

    def op(self):
        wall, records, ok, _ = self._run(self.feed.publish())
        return wall, records, ok

    def traced_op(self, i: int):
        epoch = self.feed.publish()
        g = f"op{i}"
        wm_ms, _ = WatermarkStore.get(self.marks, TABLENAME, BASEURL, self.path, "DELTA")  # unwrapped
        since = iso(wm_ms)
        raw = self.plain_reader.read_collection(self.path, modified_since=since, expand="FULL")
        raw_del = self.plain_reader.read_collection(self.path, modified_since=since, expand="NONE", deleted=True)
        staged = _stage(raw, self.path)
        deletes = _stage(raw_del, self.path).select(*LAYOUT_LARGE.key_columns)
        t_stage = run_noop(staged, self.sc, f"{g}:normalize") + run_noop(deletes, self.sc, f"{g}:normalize")
        target = self.table.read_partition(BASEURL, self.path)
        t_scan = run_noop(target, self.sc, f"{g}:lake.scan")
        merged = merge_incremental(target, staged, deletes, LAYOUT_LARGE.key_columns)
        t_merge = run_noop(merged, self.sc, f"{g}:merge")
        with job_group(self.sc, f"{g}:extra"):
            distinct = staged.select("href").distinct().count()

        self.feed.reset_cache()
        if os.path.exists(self.req_log):
            os.remove(self.req_log)
        self.spans.t.clear()
        self._group = g
        wall, _records, ok, r = self._run(epoch)
        self._group = "idle"

        sp = self.spans.t
        v = {
            "sources.read_s": sp["sources.read_s"],
            "normalize.stage_s": t_stage,
            "lake.scan_s": t_scan,
            "merge.merge_s": max(0.0, t_merge - t_stage - t_scan),
            "lake.commit_s": sp["lake.commit_s"],
            "lake.write_s": max(0.0, sp["lake.replace_s"] - sp["lake.commit_s"] - t_merge),
            "watermark.get_s": sp["watermark.get_s"],
            "watermark.put_s": sp["watermark.put_s"],
            "merge.rows_in": float(r.resources_synced + r.deletes_synced),
            "merge.rows_out": float(r.rows_after),
            "merge.dups_dropped": float(r.resources_synced - distinct),
        }
        v.update(self._requests())
        # the lake holds this workload's one partition and nothing else
        nbytes, nfiles = _dir_bytes(self.table.location)
        v.update(
            {
                "lake.bytes_written": float(nbytes),
                "lake.files_written": float(nfiles),
                # rows rewritten per row updated, inserted or deleted
                "lake.write_amp": r.rows_after / (self.N_CHANGED + 2 * self.N_CHURN),
                "lake.stored_bytes_per_row": nbytes / max(1, r.rows_after),
            }
        )
        self.layers[i] = [
            ("normalize", [(f"{g}:normalize", 1)]),
            ("lake", [(f"{g}:lake.scan", 1), (f"{g}:lake", 1), (f"{g}:merge", -1)]),
            ("merge", [(f"{g}:merge", 1), (f"{g}:normalize", -1), (f"{g}:lake.scan", -1)]),
            ("watermark", [(f"{g}:watermark", 1)]),
        ]
        return wall, ok, v

    def _requests(self) -> dict[str, float]:
        """Request counts of the real op, and the generator's own time to
        answer the same requests again from a cold cache."""
        reqs = read_requests(self.req_log)
        replay = copy.copy(self.feed)
        replay.reset_cache()
        t0 = time.perf_counter()
        for url, _size, _rows in reqs:
            replay.fetch_json(url)
        return {
            "sources.server_s": time.perf_counter() - t0,
            "sources.requests": float(len(reqs)),
            "sources.rows": float(sum(r for _, _, r in reqs)),
            "sources.bytes": float(sum(b for _, b, _ in reqs)),
        }

    def final_check(self) -> bool:
        """Partition content equals the generator's expected state: the
        base, minus every tombstone, overlaid with each href's newest row."""
        overlay: dict[str, str | None] = {}
        for e in range(1, self.feed.epoch + 1):
            rows, tombs = self.feed.changes(e)
            for href, doc in rows:
                overlay[href] = dumps(doc)
            for href, _ms in tombs:
                overlay[href] = None
        ov = self.spark.createDataFrame(list(overlay.items()), "href string, resource string")
        expected = self.base_frame().join(ov.select("href"), "href", "left_anti").unionByName(
            ov.filter(F.col("resource").isNotNull())
        )
        got = self.table.read_partition(BASEURL, self.path).select("href", F.col("jsondata").alias("resource"))

        def digest(df):
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.xxhash64("href", "resource").cast("decimal(38,0)")).alias("x"),
            ).first()
            return row["n"], row["x"]

        return digest(got) == digest(expected)


class CorpusDedup:
    """MinHash-LSH pairs → connected components → survivors over a fresh
    corpus with planted near-duplicate clusters; no lake I/O."""

    name = "corpus_dedup"
    N_DOCS = 1_000
    WARMUP = 3
    LOADS = 0

    def __init__(self, spark, work: str, seed: int, trace: bool) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.work = work
        self.seed = seed
        self.n_ops = 0
        self.layers: dict[int, list] = {}

    def _corpus(self):
        """Publish a corpus no earlier op has seen, as parquet."""
        self.n_ops += 1
        docs, clusters = make_corpus(self.seed * 100_003 + self.n_ops, self.N_DOCS)
        path = os.path.join(self.work, f"corpus_{self.n_ops}.parquet")
        ids, texts = zip(*docs)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}), path)
        return self.spark.read.parquet(path), clusters

    @staticmethod
    def _survivors(docs) -> int:
        return dedup_survivors(docs, minhash_lsh_pairs(docs, "doc_id", "text"), "doc_id").count()

    def op(self):
        docs, clusters = self._corpus()
        t0 = time.perf_counter()
        n = self._survivors(docs)
        return time.perf_counter() - t0, self.N_DOCS, n == clusters

    def traced_op(self, i: int):
        docs, clusters = self._corpus()
        g = f"op{i}"
        # each prefix recomputes from scratch: minhash_lsh_pairs leaves its
        # signature and band frames cached
        clear = self.spark.catalog.clearCache
        t_sig = run_noop(oph_signatures(docs, "doc_id", "text"), self.sc, f"{g}:dedup.signatures")
        clear()
        obs = Observation()
        pairs = minhash_lsh_pairs(docs, "doc_id", "text").observe(obs, F.count(F.lit(1)).alias("n"))
        t_lsh = run_noop(pairs, self.sc, f"{g}:dedup.lsh")
        n_pairs = obs.get["n"]
        clear()
        with job_group(self.sc, f"{g}:dedup.cc"):
            t0 = time.perf_counter()
            comp = connected_components(minhash_lsh_pairs(docs, "doc_id", "text"))
            t_cc = time.perf_counter() - t0
        t_cc += run_noop(comp, self.sc, f"{g}:dedup.cc")
        clear()
        with job_group(self.sc, f"{g}:dedup"):
            t0 = time.perf_counter()
            n = self._survivors(docs)
            wall = time.perf_counter() - t0
        v = {
            "dedup.signatures_s": t_sig,
            "dedup.lsh_s": max(0.0, t_lsh - t_sig),
            "dedup.cc_s": max(0.0, t_cc - t_lsh),
            "dedup.survivors_s": max(0.0, wall - t_cc),
            "dedup.pairs": float(n_pairs),
            "dedup.survivors": float(n),
        }
        self.layers[i] = [
            ("dedup", [(f"{g}:dedup", 1)]),
            ("dedup.cc", [(f"{g}:dedup.cc", 1), (f"{g}:dedup.lsh", -1)]),
        ]
        return wall, n == clusters, v

    def final_check(self) -> bool:
        return True  # every op's survivor count was checked exactly


WORKLOADS = {w.name: w for w in (DeltaSync, CorpusDedup)}


def layer_values(layers: list, groups: dict) -> dict[str, float]:
    """Executor stats per layer for one traced op. ``dedup.cc`` contributes
    only its job count (the connected-components rounds)."""
    out: dict[str, float] = {}
    for layer, terms in layers:
        stats = combine(groups, terms)
        if layer == "dedup.cc":
            out["dedup.cc_jobs"] = stats["jobs"]
            continue
        for k, val in stats.items():
            out[f"{layer}.{k}"] = val
    return out
