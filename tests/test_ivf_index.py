"""Persisted IVF index (functions/similarity.build_ivf_index /
ivf_query_index): build-once/query-many equals the inline operator, and the
cid-partitioned cell layout actually prunes at the file level."""

from __future__ import annotations

import contextlib
import io
import os
import tempfile

import pytest
from pyspark.sql import functions as F

import sri2db_spark.functions.similarity as S
from sri2db_spark.plans.analytics import _tp

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def index(spark):
    emb = _tp(spark, SF, "embeddings")
    tmp = tempfile.mkdtemp(prefix="ivf_test_")
    S.build_ivf_index(emb, tmp, nlist=16)
    yield emb, tmp
    import shutil

    shutil.rmtree(tmp, ignore_errors=True)


def test_layout_on_disk(index):
    _, tmp = index
    cells = os.path.join(tmp, "cells")
    cids = sorted(d for d in os.listdir(cells) if d.startswith("cid="))
    assert len(cids) >= 2  # multiple cells materialized as directories
    assert os.path.isdir(os.path.join(tmp, "centroids"))


def test_saved_index_equals_inline_operator(spark, index):
    emb, tmp = index
    queries = emb.filter(F.col("vec_id") < 8)
    inline = S.ivf_ann_topk(emb, queries, k=5, nlist=16, nprobe=4)
    saved = S.ivf_query_index(spark, tmp, queries, k=5, nprobe=4)
    a = sorted(map(tuple, inline.collect()))
    b = sorted(map(tuple, saved.collect()))
    assert a == b  # float round-trip through parquet is bit-exact


def test_query_prunes_cells_dynamically(spark, index):
    """The probe->cells join is on the partition column with a broadcast
    probe side, so Spark must inject a dynamic-partition-pruning subquery:
    only the probed cid directories are read."""
    emb, tmp = index
    out = S.ivf_query_index(spark, tmp, emb.filter(F.col("vec_id") < 2), k=3, nprobe=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(True)
    assert "dynamicpruning" in buf.getvalue().lower()


def test_nprobe_caps_at_nlist(spark, index):
    emb, tmp = index
    out = S.ivf_query_index(spark, tmp, emb.filter(F.col("vec_id") < 2), k=3, nprobe=99)
    # probing every cell == exact search over the whole corpus
    exact = S.cosine_topk(emb, emb.filter(F.col("vec_id") < 2), k=3)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, exact.collect()))


def test_upsert_appends_without_retraining(spark):
    """build(base) + ivf_index_upsert(batch) must leave the centroids
    byte-identical, hold every id exactly once, and answer queries exactly
    like an argmin assignment of the batch to the SAME centroids (numpy
    reference, independent of the Spark plan)."""
    import numpy as np

    emb = _tp(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    tmp = tempfile.mkdtemp(prefix="ivf_ups_test_")
    try:
        S.build_ivf_index(base, tmp, nlist=16)
        cent_before = sorted(
            map(tuple, spark.read.parquet(f"{tmp}/centroids").collect())
        )
        S.ivf_index_upsert(spark, tmp, batch)
        cent_after = sorted(
            map(tuple, spark.read.parquet(f"{tmp}/centroids").collect())
        )
        assert cent_before == cent_after  # no retrain
        cells = spark.read.parquet(f"{tmp}/cells")
        ids = [r["id"] for r in cells.select("id").collect()]
        assert sorted(ids) == sorted(r[0] for r in emb.select("vec_id").collect())
        # batch rows landed in their numpy-argmin cell (lowest-cid tie-break)
        C = np.array(
            [r["centroid"] for r in spark.read.parquet(f"{tmp}/centroids")
             .orderBy("cid").collect()]
        )
        got = {r["id"]: r["cid"] for r in cells.collect()}
        for r in batch.collect():
            v = np.array([float(x) for x in r["embedding"]])
            d = ((C - v) ** 2).sum(axis=1)
            assert got[r["vec_id"]] == int(np.argmin(d)), r["vec_id"]
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


def test_ivfpq_index_prunes_and_scores_codes(spark):
    """IVF-PQ saved index: the probe->cells join must trigger dynamic
    partition pruning (only probed cell dirs are read), and scoring must
    consume the m-byte codes, not the float vectors."""
    import contextlib
    import io
    import shutil

    emb = _tp(spark, SF, "embeddings")
    tmp = tempfile.mkdtemp(prefix="ivfpq_test_")
    try:
        S.build_ivfpq_index(emb, tmp, nlist=16, m=4, ksub=16, pq_iters=1)
        out = S.ivfpq_query_index(
            spark, tmp, emb.filter(F.col("vec_id") < 4), k=3, nprobe=2
        )
        rows = out.collect()
        assert len(rows) == 12  # 4 queries x top-3
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            out.explain(True)
        plan = buf.getvalue()
        assert "dynamicpruning" in plan.lower()
        # the scoring scan must not read the float vector column
        import re

        scans = [l for l in plan.splitlines() if "ReadSchema" in l and "code" in l]
        assert scans and all("v:" not in s for s in scans)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.full  # evidence lane (r13 split): recall/equivalence soak
def test_residual_ivfpq_beats_raw_on_adc_recall(spark):
    """Residual encoding must not lose to raw-vector encoding: with the same
    code budget, ADC over residuals resolves distances at least as well
    (FAISS IVFPQ rationale), and the meta flag round-trips so queries
    self-configure."""
    import numpy as np

    emb = _tp(spark, SF, "embeddings")
    data = {r.vec_id: np.array([float(x) for x in r.embedding]) for r in emb.collect()}
    exact = {}
    for qid in range(8):
        qv = data[qid]
        d = sorted((float(((v - qv) ** 2).sum()), i) for i, v in data.items() if i != qid)
        exact[qid] = {i for _, i in d[:5]}
    q = emb.filter(F.col("vec_id") < 8)

    def recall(residual):
        tmp = tempfile.mkdtemp(prefix="ivfpqr_test_")
        try:
            S.build_ivfpq_index(
                emb, tmp, nlist=8, m=8, ksub=16, pq_iters=2, residual=residual
            )
            meta = spark.read.parquet(f"{tmp}/meta").first()["residual"]
            assert meta == residual
            rows = S.ivfpq_query_index(spark, tmp, q, k=5, nprobe=4).collect()
            got = {}
            for r in rows:
                got.setdefault(r.query_id, set()).add(r.neighbor_id)
            return sum(len(exact[k] & v) for k, v in got.items()) / (5 * len(got))
        finally:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)

    raw, res = recall(False), recall(True)
    assert res >= raw - 0.05  # residual never materially worse
    assert res >= 0.15  # near-random 500-vector corpus: a loose sanity floor


@pytest.mark.full  # evidence lane (r13 split): recall/equivalence soak
def test_ivfpq_rerank_recall_beats_adc(spark):
    """The shortlist + exact re-rank path must recover at least the raw ADC
    ranking's recall (it re-orders a superset by exact distance)."""
    import numpy as np

    emb = _tp(spark, SF, "embeddings")
    data = {r.vec_id: np.array([float(x) for x in r.embedding]) for r in emb.collect()}
    exact = {}
    for qid in range(8):
        qv = data[qid]
        d = sorted((float(((v - qv) ** 2).sum()), i) for i, v in data.items() if i != qid)
        exact[qid] = {i for _, i in d[:5]}
    q = emb.filter(F.col("vec_id") < 8)
    tmp = tempfile.mkdtemp(prefix="ivfpqrr_test_")
    try:
        S.build_ivfpq_index(emb, tmp, nlist=8, m=8, ksub=16, pq_iters=2, residual=True)

        def recall(rows):
            got = {}
            for r in rows:
                got.setdefault(r.query_id, set()).add(r.neighbor_id)
            return sum(len(exact[k] & v) for k, v in got.items()) / (5 * len(got))

        adc = recall(S.ivfpq_query_index(spark, tmp, q, k=5, nprobe=4).collect())
        rr = recall(
            S.ivfpq_query_index(
                spark, tmp, q, k=5, nprobe=4, rerank_shortlist=50
            ).collect()
        )
        assert rr >= adc
        assert rr >= 0.4
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


def test_ivfpq_upsert_appends_codes_in_right_layout(spark):
    """ivfpq_index_upsert must reuse the saved codebooks (no retrain), land
    batch rows in the (cell, batch_id) layout with codes identical to what
    a fresh encode of the same vectors against the same books produces, and
    leave the index queryable over base ∪ batch."""
    emb = _tp(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    tmp = tempfile.mkdtemp(prefix="ivfpq_ups_test_")
    try:
        S.build_ivfpq_index(base, tmp, nlist=8, m=4, ksub=16, residual=True)
        books_before = sorted(
            map(tuple, spark.read.parquet(f"{tmp}/codebooks").collect())
        )
        assert S.saved_index_kind(spark, tmp) == "ivfpq"
        S.ivfpq_index_upsert(spark, tmp, batch)
        books_after = sorted(
            map(tuple, spark.read.parquet(f"{tmp}/codebooks").collect())
        )
        assert books_before == books_after  # no retrain
        cells = spark.read.parquet(f"{tmp}/cells")
        assert set(cells.columns) >= {"id", "v", "code", "cell"}
        ids = [r["id"] for r in cells.select("id").collect()]
        assert sorted(ids) == sorted(r[0] for r in emb.select("vec_id").collect())
        # queries over the upserted index see batch rows: probe every cell
        # with a shortlist wider than the corpus (exact search), querying
        # vec 0's embedding under a FRESH id (the query path excludes
        # query_id == neighbor_id self-matches) — the upserted vec 0 must
        # come back at distance 0
        v0 = emb.filter(F.col("vec_id") == 0).first()["embedding"]
        q = spark.createDataFrame(
            [(-999, [float(x) for x in v0])],
            "vec_id long, embedding array<double>",
        )
        out = S.ivfpq_query_index(
            spark, tmp, q, k=1, nprobe=8, rerank_shortlist=emb.count() + 1
        )
        top = out.first()
        assert top["neighbor_id"] == 0 and top["l2_dist"] == 0.0
        # and the upserted row's stored code equals a driver-side re-encode
        # against the saved books (residual vs its assigned cell centroid)
        import numpy as np

        cents = [
            [float(x) for x in r["centroid"]]
            for r in spark.read.parquet(f"{tmp}/centroids").orderBy("cid").collect()
        ]
        bks = S._load_codebooks(spark, tmp)
        dsub = len(bks[0][0])
        row0 = cells.filter(F.col("id") == 0).first()
        v0 = [float(x) for x in row0["v"]]
        qr = [v0[i] - cents[row0["cell"]][i] for i in range(len(v0))]
        expected = [
            int(np.argmin([S._py_sqdist(qr[j * dsub:(j + 1) * dsub], c)
                           for c in bks[j]]))
            for j in range(len(bks))
        ]
        assert list(row0["code"]) == expected
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


def test_saved_index_kind_detects_and_guards(spark):
    """Kind detection (used by the CLI to route upserts): ivf vs ivfpq by
    on-disk artifacts; a non-index path is rejected outright."""
    emb = _tp(spark, SF, "embeddings")
    tmp_ivf = tempfile.mkdtemp(prefix="kind_ivf_")
    tmp_none = tempfile.mkdtemp(prefix="kind_none_")
    try:
        S.build_ivf_index(emb, tmp_ivf, nlist=4)
        assert S.saved_index_kind(spark, tmp_ivf) == "ivf"
        with pytest.raises(ValueError, match="not a saved ANN index"):
            S.saved_index_kind(spark, tmp_none)
    finally:
        import shutil

        shutil.rmtree(tmp_ivf, ignore_errors=True)
        shutil.rmtree(tmp_none, ignore_errors=True)


def test_pq_train_rejects_indivisible_m(spark):
    """dim % m != 0 must raise (FAISS parity) instead of silently dropping
    the trailing dimensions from every ADC distance."""
    emb = _tp(spark, SF, "embeddings")  # 64-dim vectors
    with pytest.raises(ValueError, match="not divisible"):
        S.pq_train(emb, m=7)
    with pytest.raises(ValueError, match="not divisible"):
        S.build_ivfpq_index(emb, "/tmp/never_written_ivfpq", nlist=4, m=7)


def test_ivfpq_auto_recall_floor(spark):
    """The auto-tuned production path (nprobe=None, rerank_shortlist="auto")
    must hold recall@5 >= 0.75 against exact L2 ground truth — the floor
    the round-4 evidence measured; this guard keeps index-layout or tuning
    changes from silently degrading it."""
    import numpy as np

    emb = _tp(spark, SF, "embeddings").cache()
    data = {
        r.vec_id: np.array([float(x) for x in r.embedding])
        for r in emb.collect()
    }
    ids = np.array(list(data.keys()))
    M = np.stack(list(data.values()))
    n_q = 16
    exact = {}
    for qid in range(n_q):
        qv = data[qid]
        l2 = ((M - qv) ** 2).sum(axis=1)
        mask = ids != qid
        exact[qid] = set(ids[mask][np.argsort(l2[mask], kind="stable")[:5]])
    queries = emb.filter(F.col("vec_id") < n_q)
    tmp = tempfile.mkdtemp(prefix="recall_floor_")
    try:
        S.build_ivfpq_index(emb, tmp, nlist=16, m=4, ksub=16, residual=True)
        rows = S.ivfpq_query_index(
            spark, tmp, queries, k=5, nprobe=None, rerank_shortlist="auto"
        ).collect()
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        recall = sum(len(exact[q] & v) for q, v in got.items()) / (5 * len(got))
        assert recall >= 0.75, f"recall@5 {recall:.3f} fell below the floor"
        # and the auto rule itself stays what the floor was measured with
        assert S.ivfpq_auto_params(16, 5) == (4, 50)
    finally:
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.full  # evidence lane (r13 split): recall/equivalence soak
def test_bulk_shuffle_mode_matches_broadcast_mode(spark):
    """broadcast_queries=False (the 10^6-query offline shape) is a physical
    strategy switch only: results are row-identical to the broadcast path in
    all three variants (raw, residual, rerank), and the probe->cells join
    really is a sort-merge join on cell with no broadcast of the LUT side."""
    emb = _tp(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        (F.col("vec_id") + 100_000).alias("vec_id"), "embedding"
    )
    for residual in (False, True):
        tmp = tempfile.mkdtemp(prefix="bulk_shuffle_")
        try:
            S.build_ivfpq_index(
                emb, tmp, nlist=8, m=4, ksub=16, pq_iters=1, residual=residual
            )
            for shortlist in (None, 20):
                bcast = S.ivfpq_query_index(
                    spark, tmp, queries, k=5, nprobe=3,
                    rerank_shortlist=shortlist, broadcast_queries=True,
                )
                shuf = S.ivfpq_query_index(
                    spark, tmp, queries, k=5, nprobe=3,
                    rerank_shortlist=shortlist, broadcast_queries=False,
                )
                assert sorted(map(tuple, bcast.collect())) == sorted(
                    map(tuple, shuf.collect())
                ), f"residual={residual} shortlist={shortlist}"
            # plan shape: SMJ on cell, LUT side never broadcast
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                S.ivfpq_query_index(
                    spark, tmp, queries, k=5, nprobe=3, broadcast_queries=False
                ).explain(True)
            plan = buf.getvalue()
            physical = plan[plan.index("== Physical Plan =="):]
            assert "SortMergeJoin" in physical
            assert "BroadcastExchange" not in physical
        finally:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)


def _file_census(root):
    """(relpath, mtime_ns, size) of every file under root."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_mtime_ns, st.st_size)
    return out


def test_delete_removes_vectors_and_touches_only_their_cells(spark):
    """ann_index_delete (RTBF for embeddings): victims disappear from
    every later query, survivors are intact, and — the O(touched-cells)
    claim — every cell partition without a victim is byte-untouched."""
    import shutil

    emb = _tp(spark, SF, "embeddings")
    tmp = tempfile.mkdtemp(prefix="ivf_del_")
    try:
        S.build_ivf_index(emb, tmp, nlist=16)
        all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
        cells = os.path.join(tmp, "cells")
        before = _file_census(cells)

        victims = sorted(all_ids)[:3]
        n = S.ann_index_delete(spark, tmp, victims)
        assert n == 3

        left = {
            r["id"]
            for r in spark.read.parquet(cells).select("id").collect()
        }
        assert left == all_ids - set(victims)

        # untouched cells byte-identical; only victim cells rewritten
        after = _file_census(cells)
        victim_cells = {
            rel.split(os.sep)[0]
            for rel in set(before) - set(after)
        } | {
            rel.split(os.sep)[0]
            for rel in set(after) - set(before)
        }
        for rel, sig in after.items():
            if rel.split(os.sep)[0] not in victim_cells:
                assert before[rel] == sig, rel
        assert victim_cells, "victims lived somewhere"

        # queries never return a deleted neighbor
        res = S.ivf_query_index(
            spark, tmp, emb.filter(F.col("vec_id") < 8), k=5, nprobe=16
        )
        assert not {
            r["neighbor_id"] for r in res.collect()
        } & set(victims)

        # deleting absent ids is a no-op: 0 removed, nothing touched
        census2 = _file_census(cells)
        assert S.ann_index_delete(spark, tmp, [10**9, 10**9 + 1]) == 0
        assert _file_census(cells) == census2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_delete_whole_cell_drops_partition_dir(spark):
    """A cell whose every vector is deleted must vanish from disk —
    dynamic overwrite alone would leave the old files (and resurrect the
    victims on the next read)."""
    import shutil

    emb = _tp(spark, SF, "embeddings")
    tmp = tempfile.mkdtemp(prefix="ivf_delall_")
    try:
        S.build_ivf_index(emb, tmp, nlist=16)
        cells = os.path.join(tmp, "cells")
        # pick one whole cell's membership as the victim set
        rows = spark.read.parquet(cells).select("id", "cid").collect()
        by_cell = {}
        for r in rows:
            by_cell.setdefault(r["cid"], []).append(r["id"])
        cell, victims = min(by_cell.items(), key=lambda kv: len(kv[1]))
        n = S.ann_index_delete(spark, tmp, victims)
        assert n == len(victims)
        assert not os.path.exists(os.path.join(cells, f"cid={cell}"))
        left = {r["id"] for r in spark.read.parquet(cells).select("id").collect()}
        assert left == {r["id"] for r in rows} - set(victims)
        # index still answers queries
        res = S.ivf_query_index(
            spark, tmp, emb.filter(F.col("vec_id") < 4), k=3, nprobe=16
        )
        assert res.count() > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_delete_from_ivfpq_and_upserted_batch(spark):
    """IVF-PQ layout (cell/batch_id, code column preserved) and a victim
    living in an UPSERTED batch partition (batch_id=-1): both delete
    cleanly and later queries are code-scored without the victims."""
    import shutil

    emb = _tp(spark, SF, "embeddings")
    tmp = tempfile.mkdtemp(prefix="ivfpq_del_")
    try:
        base = emb.filter(F.col("vec_id") % 5 != 0)
        batch = emb.filter(F.col("vec_id") % 5 == 0)
        S.build_ivfpq_index(base, tmp, nlist=8, m=4, ksub=16)
        S.ivfpq_index_upsert(spark, tmp, batch)
        cells = os.path.join(tmp, "cells")
        all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}

        batch_victim = [
            r["vec_id"] for r in batch.select("vec_id").limit(2).collect()
        ]
        base_victim = [
            r["vec_id"] for r in base.select("vec_id").limit(1).collect()
        ]
        victims = batch_victim + base_victim
        n = S.ann_index_delete(spark, tmp, victims)
        assert n == len(victims)

        read_back = spark.read.parquet(cells)
        assert "code" in read_back.columns  # layout intact
        left = {r["id"] for r in read_back.select("id").collect()}
        assert left == all_ids - set(victims)

        res = S.ivfpq_query_index(
            spark, tmp, emb.filter(F.col("vec_id") < 8), k=5, nprobe=8
        )
        assert not {r["neighbor_id"] for r in res.collect()} & set(victims)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_mass_delete_membership_is_join_not_literal_chain(spark, index):
    """Above _HIT_PAIR_LITERAL_MAX touched partitions the delete's
    membership predicate must be a broadcast semi-join on a pairs frame,
    never an OR-chain of literal equalities (a ~10^4-term codegen
    expression at mass-deletion scale — the giant-IN anti-pattern the
    drop set itself avoids)."""
    _, tmp = index
    cells = spark.read.parquet(os.path.join(tmp, "cells"))
    pairs = [(c, -1) for c in range(S._HIT_PAIR_LITERAL_MAX + 10)]
    touched = S._touched_partitions(spark, cells, "cid", pairs)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        touched.explain(True)
    plan = buf.getvalue()
    physical = plan[plan.index("== Physical Plan ==") :]
    assert "Join LeftSemi" in plan or "BroadcastHashJoin" in physical
    # no literal-equality chain survives anywhere in the plan tree
    assert physical.count("cid = ") <= 1
    # small requests keep the statically-pruned literal path
    small = S._touched_partitions(spark, cells, "cid", [(0, -1), (1, -1)])
    buf2 = io.StringIO()
    with contextlib.redirect_stdout(buf2):
        small.explain(True)
    assert "Join" not in buf2.getvalue()[buf2.getvalue().index("== Physical") :]


def test_mass_delete_join_path_end_to_end(spark, monkeypatch):
    """Force the join regime (threshold lowered to 1) through a real
    multi-partition delete: victims spanning several cells vanish,
    survivors and untouched cells are intact — byte-identical to what the
    literal path produces."""
    import shutil

    monkeypatch.setattr(S, "_HIT_PAIR_LITERAL_MAX", 1)
    emb = _tp(spark, SF, "embeddings")
    tmp = tempfile.mkdtemp(prefix="ivf_massdel_")
    try:
        S.build_ivf_index(emb, tmp, nlist=16)
        all_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
        victims = sorted(all_ids)[::7]  # spread across many cells
        n = S.ann_index_delete(spark, tmp, victims)
        assert n == len(victims)
        left = {
            r["id"]
            for r in spark.read.parquet(
                os.path.join(tmp, "cells")
            ).select("id").collect()
        }
        assert left == all_ids - set(victims)
        res = S.ivf_query_index(
            spark, tmp, emb.filter(F.col("vec_id") < 8), k=5, nprobe=16
        )
        assert not {r["neighbor_id"] for r in res.collect()} & set(victims)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_ivfpq_rebuild_crash_never_serves_the_old_header(spark, monkeypatch):
    """A rebuild that dies after its first artifact write must not leave
    the previous build's composite header behind: queries prefer the
    header, so they would silently pair old centroids and codebooks with
    the new artifacts. The header is dropped before anything is rewritten,
    and the query-side loader falls back to the fresh per-artifact files."""
    import shutil

    from pyspark.sql.readwriter import DataFrameWriter

    emb = _tp(spark, SF, "embeddings").filter(F.col("vec_id") < 400)
    tmp = tempfile.mkdtemp(prefix="ivfpq_crash_")
    try:
        S.build_ivfpq_index(emb, tmp, nlist=4, m=4, ksub=16, pq_iters=1)
        old_centroids, _, _ = S._load_ivfpq_constants(spark, tmp)
        assert len(old_centroids) == 4
        assert os.path.isdir(os.path.join(tmp, "header"))

        real_parquet = DataFrameWriter.parquet

        def dying_parquet(self, path, *a, **kw):
            real_parquet(self, path, *a, **kw)
            if path.endswith("/centroids"):
                raise RuntimeError("crash after the first artifact write")

        monkeypatch.setattr(DataFrameWriter, "parquet", dying_parquet)
        with pytest.raises(RuntimeError, match="first artifact"):
            S.build_ivfpq_index(emb, tmp, nlist=8, m=4, ksub=16, pq_iters=1)
        monkeypatch.undo()

        assert not os.path.exists(os.path.join(tmp, "header"))
        fresh = [
            [float(x) for x in r["centroid"]]
            for r in spark.read.parquet(os.path.join(tmp, "centroids"))
            .orderBy("cid")
            .collect()
        ]
        centroids, _, _ = S._load_ivfpq_constants(spark, tmp)
        assert len(centroids) == 8
        assert centroids == fresh
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
