"""Unit/behavior tests for the scale-extension operators (dedup, similarity,
text, multimodal) — correctness against exact ground truth, plus plan probes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sri2db_spark.functions import dedup as D
from sri2db_spark.functions import similarity as S
from sri2db_spark.functions import text as X
from sri2db_spark.functions.multimodal import (
    decode_image_features,
    frame_sample,
    to_media_table,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_counts(spark, docs):
    out = D.exact_dedup(docs, "doc_id", "text")
    n_docs = docs.count()
    agg = out.agg(F.sum("n_copies").alias("s"), F.count("*").alias("groups")).first()
    assert agg["s"] == n_docs
    assert agg["groups"] <= n_docs


def test_minhash_lsh_equals_exact_jaccard(spark, docs):
    """LSH (64 bands × 2 rows) + exact verification must reproduce the exact
    all-pairs algorithm (miss prob ≤ 1e-8 per true pair at j ≥ 0.5)."""
    exact = {
        (r.id_a, r.id_b) for r in D.ngram_jaccard_pairs(docs, "doc_id", "text").collect()
    }
    lsh = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    assert lsh == exact
    assert len(exact) > 0  # the corpus has planted near-dups


def test_incremental_neardup_matches_full_run(spark, docs, tmp_path):
    """Incremental processing of an ingest batch against a signature store
    must emit exactly the full-run pairs that involve ≥1 batch doc — no extra
    signatures computed for the base corpus."""
    store = str(tmp_path / "sigstore")
    base = docs.filter(F.col("doc_id") % 7 != 0)
    batch = docs.filter(F.col("doc_id") % 7 == 0)
    D.write_signature_store(base, "doc_id", "text", store)
    inc = {
        (r.id_a, r.id_b)
        for r in D.incremental_neardup_pairs(
            spark, store, batch, docs, "doc_id", "text"
        ).collect()
    }
    full = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(docs, "doc_id", "text").collect()
        if r.id_a % 7 == 0 or r.id_b % 7 == 0
    }
    assert inc == full
    assert len(inc) > 0  # the planted near-dups straddle the batch split


@pytest.mark.full  # evidence lane (r13 split): multi-batch chain/replay soak
def test_incremental_neardup_store_append_chains_batches(spark, docs, tmp_path):
    """update_store appends the batch signatures, so a SECOND batch sees
    first-batch docs as store members; an empty store bootstraps cleanly."""
    store = str(tmp_path / "sigstore2")
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    # batch 0 bootstraps an empty store: no prior sigs → only b0×b0 pairs
    p0 = {
        (r.id_a, r.id_b)
        for r in D.incremental_neardup_pairs(
            spark, store, b0, docs, "doc_id", "text"
        ).collect()
    }
    p1 = {
        (r.id_a, r.id_b)
        for r in D.incremental_neardup_pairs(
            spark, store, b1, docs, "doc_id", "text"
        ).collect()
    }
    p2 = {
        (r.id_a, r.id_b)
        for r in D.incremental_neardup_pairs(
            spark, store, b2, docs, "doc_id", "text"
        ).collect()
    }
    full = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    # each pair surfaces exactly once: in the batch where its LATER member
    # arrives (the earlier member is already in the store by then)
    assert p0 | p1 | p2 == full
    assert not (p0 & p1) and not (p0 & p2) and not (p1 & p2)
    # store now holds every doc's signature exactly once
    n_sigs = spark.read.parquet(store).count()
    assert n_sigs == docs.count()


def test_simhash_pairs_are_true_near_dups(spark, docs):
    """SimHash(hamming≤3) over trigram shingles: high precision against the
    exact trigram-Jaccard ground truth (it's a stricter sketch)."""
    sh = {(r.id_a, r.id_b) for r in D.simhash_pairs(docs, "doc_id", "text").collect()}
    exact = {
        (r.id_a, r.id_b)
        for r in D.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3).collect()
    }
    assert len(sh) > 0
    precision = len(sh & exact) / len(sh)
    assert precision >= 0.9


def test_cosine_topk_is_correct(spark, emb):
    """Brute-force top-k agrees with a NumPy reference on a small query set."""
    import numpy as np

    rows = emb.filter(F.col("vec_id") < 50).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    corpus = emb.filter(F.col("vec_id") < 50)
    out = S.cosine_topk(corpus, corpus.filter(F.col("vec_id") < 3), k=3).collect()
    got = {(r.query_id, r.rank): r.neighbor_id for r in out}
    for qid in range(3):
        q = vecs[qid]
        sims = sorted(
            (
                (-(q @ v) / (np.linalg.norm(q) * np.linalg.norm(v)), nid)
                for nid, v in vecs.items()
                if nid != qid
            ),
        )
        for rank in range(1, 4):
            assert got[(qid, rank)] == sims[rank - 1][1]


@pytest.mark.full  # evidence lane (r13 split): recall/equivalence soak
def test_lsh_ann_recall(spark, emb):
    """Near-random 64-d embeddings are LSH's worst case; still require
    recall@5 ≥ 0.4 at a fraction of brute-force cost."""
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.neighbor_id) for r in S.cosine_topk(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in S.lsh_ann_topk(emb, queries, k=5).collect()}
    assert len(exact & approx) / len(exact) >= 0.4


def test_text_features_sane(spark, docs):
    out = X.add_text_features(docs).collect()
    for r in out[:50]:
        assert r.n_tokens_ws >= 1
        assert 0.0 <= r.stopword_ratio <= 1.0
        assert r.avg_word_len > 0
        assert 0.0 <= r.quality <= 1.0
        assert r.lang_pred in ("en", "de", "fr", "und")
        assert len(r.fingerprint) == 32  # md5 hex


def test_multimodal_decode_plumbing(spark, docs):
    media = to_media_table(docs, "doc_id", "text")
    feats = decode_image_features(media, batch_partitions=4)
    rows = feats.collect()
    assert len(rows) == docs.count()
    for r in rows[:20]:
        assert 64 <= r.width < 128 and 64 <= r.height < 128
        assert r.n_channels == 3
        assert 0.0 <= r.mean_luma < 256.0
    # metadata is real (computed without decoding)
    meta = media.select("meta.n_bytes", "meta.content_hash").first()
    assert meta["n_bytes"] > 0 and len(meta["content_hash"]) == 32


def test_frame_sample_offsets(spark, docs):
    media = to_media_table(docs.limit(5), "doc_id", "text")
    frames = frame_sample(media, every_n_bytes=100).collect()
    by_id: dict[int, list[int]] = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r.frame_offset)
    for offsets in by_id.values():
        assert offsets == sorted(offsets)
        assert offsets[0] == 0


def test_no_python_udfs_in_hot_paths(spark, docs):
    """Dedup/text plans must stay JVM-side: no BatchEvalPython / PythonUDF
    nodes in the physical plan (mapInPandas is only for multimodal decode)."""
    for df in (
        D.minhash_lsh_pairs(docs, "doc_id", "text"),
        D.simhash_pairs(docs, "doc_id", "text"),
        X.add_text_features(docs),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_ivf_ann_recall_beats_coverage(spark, emb):
    """IVF with nprobe/nlist = 4/16 scans ~25% of the corpus but must find
    far more than 25% of true neighbors (clusters concentrate neighbors)."""
    queries = emb.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.neighbor_id) for r in S.cosine_topk(emb, queries, k=5).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_ann_topk(emb, queries, k=5, nlist=16, nprobe=4).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.6


def test_connected_components_chains_and_singletons(spark):
    """Min-label propagation reaches the fixpoint across multi-hop chains
    (diameter > 1 iteration) and keeps disjoint clusters apart."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (23, 22), (21, 20), (21, 22)],
        "id_a long, id_b long",
    )
    comp = {r.id: r.component for r in D.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_tfidf_topk_ranks_rare_terms_first(spark):
    docs = spark.createDataFrame(
        [
            (1, "common rare1 rare1"),
            (2, "common shared"),
            (3, "common shared other"),
        ],
        "doc_id long, text string",
    )
    out = X.tfidf_topk(docs, "doc_id", "text", k=1).collect()
    top = {r.doc_id: r.term for r in out}
    # 'common' is in every doc -> lowest idf; doc 1's top term is its rare one
    assert top[1] == "rare1"
    assert top[2] == "shared"


def test_stratified_sample_rates(spark):
    docs = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "de") for i in range(400)],
        "doc_id long, lang string",
    )
    out = X.stratified_sample(docs, "doc_id", "lang", {"en": 50}, default_pct=10).collect()
    en = sum(1 for r in out if r.lang == "en")
    de = sum(1 for r in out if r.lang == "de")
    # en docs are the even ids: exactly those with id%100 in {0,2,...,48} -> 50/200
    assert en == 100 // 2 * 200 // 100  # 50% of 200
    assert de == 10 * 200 // 100  # 10% of 200


def test_repetition_metrics_flags_loops(spark):
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),  # one bigram repeated 5x
            (2, "every word here is fully unique"),
        ],
        "doc_id long, text string",
    )
    m = {r.doc_id: r for r in X.repetition_metrics(docs, "doc_id", "text", k=2).collect()}
    assert m[1].n_ngrams == 5 and m[1].n_distinct == 1
    assert m[1].dup_ngram_frac == 0.8 and m[1].top_ngram_frac == 1.0
    assert m[2].dup_ngram_frac == 0.0 and m[2].top_ngram_frac == 0.2


def test_boilerplate_dictionary_and_fraction(spark):
    footer = "all rights reserved worldwide"
    docs = spark.createDataFrame(
        [(i, f"unique{i} body text {i} " + footer) for i in range(6)]
        + [(99, "no shared fragment at all here")],
        "doc_id long, text string",
    )
    bp = X.boilerplate_shingles(docs, "doc_id", "text", k=3, min_docs=5)
    shingles = {r.shingle for r in bp.collect()}
    assert "all rights reserved" in shingles and "rights reserved worldwide" in shingles
    assert not any("unique" in s for s in shingles)
    frac = {r.doc_id: r for r in
            X.boilerplate_fraction(docs, "doc_id", "text", k=3, min_docs=5).collect()}
    assert frac[99].n_boilerplate == 0 and frac[99].boilerplate_frac == 0.0
    assert frac[0].n_boilerplate == 2  # the two footer shingles
    assert 0.0 < frac[0].boilerplate_frac < 1.0


def test_dedup_survivors_keeps_min_id_per_cluster(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 5, 7, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (9, 7)], "id_a long, id_b long"
    )
    kept = sorted(r.doc_id for r in D.dedup_survivors(docs, pairs).collect())
    assert kept == [1, 5, 7]  # {1,2,3}->1, {7,9}->7, singleton 5 untouched


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Driver-side reference: node -> minimum id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    return {n: min(m for m in parent if find(m) == find(n)) for n in parent}


def _components(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    return {r.id: r.component for r in D.connected_components(pairs).collect()}


@pytest.mark.full  # evidence lane (r13 split): recall/equivalence soak
def test_connected_components_matches_union_find_on_random_graphs(spark):
    """Property: connected components equal a driver-side union-find on
    arbitrary edge lists (cycles, self-loops, disconnected chunks)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    edge = st.tuples(st.integers(0, 30), st.integers(0, 30))

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(edge, min_size=1, max_size=25))
    def check(edges):
        assert _components(spark, edges) == _union_find_components(edges)

    check()


def test_connected_components_star_on_stars_chains_and_mixtures(spark):
    """Large-star/small-star (Kiveris et al. 2014) equals a driver-side
    union-find on the shapes that stress it: a giant star (the
    boilerplate-component skew case it exists for), a long chain (many
    rounds for min-label propagation, few for star), and a mixture with
    singles and reversed orientations."""
    cases = [
        # giant star centered on a HIGH id: every leaf hangs off 500
        [(500, i) for i in range(1, 60)],
        # 40-hop chain
        [(i, i + 1) for i in range(1, 41)],
        # two components + reversed edges + self-loop
        [(5, 3), (3, 9), (9, 5), (100, 101), (101, 100), (7, 7)],
    ]
    for edges in cases:
        assert _components(spark, edges) == _union_find_components(edges)


def test_curate_corpus_every_stage_drops(spark, docs):
    """The composed pipeline must exercise all stages: quality filter,
    exact dedup, decontamination, and sampling each remove documents."""
    from pyspark.sql import functions as F

    from sri2db_spark.functions.pipeline import curate_corpus

    benchmark = docs.filter(F.pmod(F.col("doc_id"), F.lit(100)) < 2)
    corpus = docs.filter(F.pmod(F.col("doc_id"), F.lit(100)) >= 2)
    n_corpus = corpus.count()
    out = curate_corpus(
        corpus, benchmark, min_quality=0.24, rates_pct={"en": 80}, default_pct=50
    )
    rows = out.collect()
    assert 0 < len(rows) < n_corpus
    assert all(r.quality >= 0.24 for r in rows)
    assert all(r.n_tokens > 0 for r in rows)
    # sampling respects strata arithmetic
    for r in rows:
        cap = 80 if r.lang == "en" else 50
        assert r.doc_id % 100 < cap


def test_lsh_bucket_cap_survives_boilerplate_corpus(spark):
    """Adversarial near-identical corpus: 200 clones share every LSH bucket,
    which un-capped would generate ~20k candidate pairs from one bucket.
    With the cap, the clone buckets are dropped (logged), the query stays
    linear, and pairs living in normal-sized buckets are still found."""
    clone = "the quick brown fox jumps over the lazy dog again and again " * 5
    # varied vocabulary → many distinct shared shingles → tiny Hamming gap
    base = " ".join(f"token{i} word{i * 3 % 97}" for i in range(150))
    pair_a = base + " with a final note on shuffles"
    pair_b = base + " with a final note on sorting"
    rows = [(i, clone) for i in range(200)]
    rows += [(1000, pair_a), (1001, pair_b)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(
            df, "doc_id", "text", threshold=0.5, max_bucket_size=50
        ).collect()
    }
    assert (1000, 1001) in out  # normal near-dup pair preserved
    assert not any(a < 200 and b < 200 for a, b in out)  # clone bucket dropped
    # same corpus under simhash's cap
    sim = {
        (r.id_a, r.id_b)
        for r in D.simhash_pairs(df, "doc_id", "text", max_bucket_size=50).collect()
    }
    assert (1000, 1001) in sim
    assert not any(a < 200 and b < 200 for a, b in sim)


def test_ivf_fps_recall_on_clustered_corpus(spark):
    """Farthest-point (k-means++-style) seeding: on a tightly clustered
    corpus whose ids are assigned cluster-by-cluster — the adversarial case
    for lowest-id seeding, which would put every seed in cluster 0 — IVF
    with one probe must still recover ≥0.9 of true neighbors, because FPS
    guarantees one seed per separated cluster."""
    rows = []
    vid = 0
    for c in range(8):
        for _ in range(24):
            vec = [10.0 * (d == c) + 0.01 * ((vid * 7 + d * 3) % 5) for d in range(8)]
            rows.append((vid, c, vec))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    queries = df.filter(F.col("vec_id") % 24 == 0)  # one query per cluster
    exact = {(r.query_id, r.neighbor_id) for r in S.cosine_topk(df, queries, k=5).collect()}
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_ann_topk(
            df, queries, k=5, nlist=8, nprobe=1, kmeans_iters=2, seeding="farthest"
        ).collect()
    }
    assert len(exact & approx) / len(exact) >= 0.9


def test_kmeans_lite_deterministic(spark, emb):
    c1, a1 = S.kmeans_lite(emb, k=8, iters=2)
    c2, a2 = S.kmeans_lite(emb, k=8, iters=2)
    assert c1 == c2
    assert a1.collect() == a2.collect()


def test_semantic_dedup_pairs(spark):
    """Near-identical vectors in the same k-means block dedup to the
    lowest-id keeper; well-separated vectors survive untouched."""
    import sri2db_spark.functions.dedup as D

    rows = []
    vid = 0
    for c in range(4):
        base = [5.0 * (d == c) for d in range(8)]
        # 3 near-identical copies per cluster + 1 distinct outlier direction
        for j in range(3):
            rows.append((vid, c, [x + 0.001 * j for x in base]))
            vid += 1
        rows.append((vid, c, [-x for x in base]))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    pairs = D.semantic_dedup_pairs(df, "vec_id", "embedding", k=4, iters=2, threshold=0.99, seeding="farthest")
    got = {(r.id_keep, r.id_dup) for r in pairs.collect()}
    # every higher-id copy collapses onto the lowest id of its triple
    expect = {(c * 4, c * 4 + 1) for c in range(4)} | {(c * 4, c * 4 + 2) for c in range(4)}
    assert got == expect
    # one row per duplicate, keeper is always the minimum matching id
    ids_dup = [r.id_dup for r in pairs.collect()]
    assert len(ids_dup) == len(set(ids_dup))
    # deterministic across runs
    again = {(r.id_keep, r.id_dup) for r in
             D.semantic_dedup_pairs(df, "vec_id", "embedding", k=4, iters=2, threshold=0.99, seeding="farthest").collect()}
    assert again == got


def test_weighted_sample_topk(spark):
    import sri2db_spark.functions.text as X

    rows = [(i, "g", 1) for i in range(50)] + [(99, "g", 10**9)]
    df = spark.createDataFrame(rows, "id long, grp string, w long")
    out = X.weighted_sample_topk(df, "id", "w", group_col="grp", k=5).collect()
    assert len(out) == 5
    assert [r.rank for r in sorted(out, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
    # the overwhelming weight wins rank 1 (priority ~ 1e-9 of the others)
    assert sorted(out, key=lambda r: r.rank)[0].id == 99
    # deterministic
    again = X.weighted_sample_topk(df, "id", "w", group_col="grp", k=5).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_char_gini_diversity(spark):
    import sri2db_spark.functions.text as X

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abcd"), (3, "aabb")], "doc_id long, text string"
    )
    got = {r.id: (r.n_chars, r.gini) for r in
           X.char_gini_diversity(df, "doc_id", "text").collect()}
    assert got[1] == (4, 0.0)
    assert got[2] == (4, 0.75)
    assert got[3] == (4, 0.5)


def test_source_quality_stats(spark):
    import sri2db_spark.functions.text as X

    df = spark.createDataFrame(
        [
            (1, "same text", "web", "en"),
            (2, "same text", "web", "en"),
            (3, "unique one", "web", "en"),
            (4, "same text", "book", "en"),
            (5, "autre", "web", "fr"),
        ],
        "doc_id long, text string, source string, lang string",
    )
    got = {(r.source, r.lang): r for r in
           X.source_quality_stats(df, "doc_id", "text", "source", "lang").collect()}
    web_en = got[("web", "en")]
    assert web_en.n_docs == 3 and web_en.n_dup_docs == 2
    # the cross-source copy counts as a duplicate too (corpus-wide hash)
    assert got[("book", "en")].n_dup_docs == 1
    assert got[("web", "fr")].n_dup_docs == 0
    assert web_en.total_chars == 9 + 9 + 10 and abs(web_en.avg_chars - 28 / 3) < 1e-12


def test_vocab_coverage(spark):
    import sri2db_spark.functions.text as X

    df = spark.createDataFrame(
        [
            (1, "common common rare1"),
            (2, "common other rare2"),
            (3, "common other zzz"),
        ],
        "doc_id long, text string",
    )
    # vocab_size=2 -> top terms by doc frequency: common (3 docs), other (2)
    got = {r.id: (r.n_tokens, r.n_in_vocab, r.coverage) for r in
           X.vocab_coverage(df, "doc_id", "text", vocab_size=2).collect()}
    assert got[1] == (3, 2, 2 / 3)   # 'common' twice counts twice
    assert got[2] == (3, 2, 2 / 3)
    assert got[3] == (3, 2, 2 / 3)


def test_segment_dedup_invariants(spark, docs):
    """Per-doc bookkeeping must be internally consistent: token totals add
    up, kept <= total, and a doc whose text is globally unique keeps
    everything."""
    out = X.segment_dedup_stats(docs, "doc_id", "text").collect()
    assert len(out) == docs.count()
    for r in out:
        assert 0 <= r.n_dup_segments <= r.n_segments
        assert 0 <= r.n_tokens_kept <= r.n_tokens
        if r.n_dup_segments == 0:
            assert r.n_tokens_kept == r.n_tokens


def test_segment_dedup_flags_cross_doc_duplicates(spark):
    base = " ".join(f"w{i}" for i in range(20))  # exactly 2 segments of 10
    df = spark.createDataFrame(
        [(1, base), (2, base + " unique tail segment here"), (3, "totally different words")],
        "doc_id long, text string",
    )
    got = {r.id: r for r in X.segment_dedup_stats(df, "doc_id", "text").collect()}
    # docs 1 and 2 share their first two 10-word segments
    assert got[1].n_dup_segments == 2 and got[1].n_tokens_kept == 0
    assert got[2].n_dup_segments == 2 and got[2].n_tokens_kept == 4
    assert got[3].n_dup_segments == 0


def test_bm25_ranks_term_frequency_over_length(spark):
    df = spark.createDataFrame(
        [
            (1, "spark spark spark and nothing else"),
            (2, "spark appears once in a much longer document " + "pad " * 50),
            (3, "no relevant terms at all here"),
        ],
        "doc_id long, text string",
    )
    out = X.bm25_topk(df, "doc_id", "text", ("spark",), k=3).collect()
    ids = [r.id for r in sorted(out, key=lambda r: r.rank)]
    assert ids[0] == 1  # high tf, short doc wins
    assert 3 not in ids  # zero-match docs never score


def test_mixing_rates_caps_at_one(spark):
    df = spark.createDataFrame(
        [(1, "a b c", "big"), (2, "d e", "small")],
        "doc_id long, text string, source string",
    )
    got = {
        r.source: r
        for r in X.mixing_rates(
            df, "doc_id", "text", "source", {"big": 0.5, "small": 0.5}, 1000
        ).collect()
    }
    assert got["big"].sample_rate == 1.0 and got["small"].sample_rate == 1.0
    assert got["big"].n_tokens == 3 and got["small"].n_tokens == 2


@pytest.mark.full  # evidence lane (r13 split): recall/equivalence soak
def test_pq_rerank_recall_beats_raw_adc(spark, emb):
    """Two-stage PQ (ADC shortlist -> exact re-rank) must recover most of the
    exact L2 top-5 where raw ADC@5 cannot: the shortlist bounds the recall
    loss to what the compressed codes miss entirely."""
    import numpy as np

    from pyspark.sql import functions as F

    books = S.pq_train(emb, m=8, ksub=16, iters=2)
    codes = S.pq_encode(emb, books).persist()
    q = emb.filter(F.col("vec_id") < 8)
    data = {r.vec_id: np.array([float(x) for x in r.embedding]) for r in emb.collect()}
    exact = {}
    for qid in range(8):
        qv = data[qid]
        d = sorted((float(((v - qv) ** 2).sum()), i) for i, v in data.items() if i != qid)
        exact[qid] = {i for _, i in d[:5]}

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(exact[k] & v) for k, v in got.items()) / (5 * len(got))

    raw = recall(S.pq_adc_topk(codes, books, q, k=5))
    rr = recall(S.pq_adc_rerank_topk(emb, codes, books, q, k=5, shortlist=50))
    assert rr >= 0.6
    assert rr >= raw  # re-rank never loses to the raw code ranking


def test_resize_media_samples_bytes(spark, docs):
    """resize_media: every output blob is exactly target_bytes long, byte i
    equals input byte (i*n)//target (nearest-neighbor), and the hash covers
    the lowercase hex of the resized payload."""
    import hashlib

    from sri2db_spark.functions.multimodal import resize_media

    media = to_media_table(docs.limit(20), "doc_id", "text")
    src = {r.media_id: bytes(r.content) for r in media.collect()}
    out = resize_media(media, target_bytes=64).collect()
    assert len(out) == 20
    for r in out:
        payload = src[r.media_id]
        n = len(payload)
        assert r.src_bytes == n
        expect = bytes(payload[(i * n) // 64] for i in range(64)) if n else b""
        assert bytes(r.resized) == expect
        assert r.resized_hash == hashlib.md5(expect.hex().encode()).hexdigest()


def test_bigram_lm_scores_rank_junk_below_natural(spark):
    """Docs made of corpus-frequent bigrams must outscore a junk doc whose
    bigrams occur nowhere else; bookkeeping (n_bigrams) must match the
    doc's token count - 1."""
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the rug"),
        (3, "the cat sat on the mat again"),
        (4, "zq xv qj wk vb zz"),  # junk: every bigram unique to this doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in X.bigram_lm_scores(df, "doc_id", "text").collect()}
    for doc_id, text in rows:
        assert out[doc_id].n_bigrams == len(text.split()) - 1
    natural_min = min(out[i].mean_bigram_p for i in (1, 2, 3))
    assert out[4].mean_bigram_p < natural_min


@pytest.mark.full  # evidence lane (r13 split): multi-batch chain/replay soak
def test_curate_batch_incremental_chains_state(spark, tmp_path):
    """Batch-2 docs that duplicate (exactly or nearly) a batch-1 SURVIVOR
    are dropped; duplicates of a batch-1 REJECT are not held against them;
    state grows by survivors only."""
    from sri2db_spark.functions import pipeline as P

    nat = (
        "the quick brown fox jumps over the lazy dog while the rain in "
        "spain falls mainly on the plain and the cat sat on the mat"
    )
    nat2 = (
        "a completely different natural sentence about spark and the art of "
        "distributed systems where the shuffle is the enemy of the fast query"
    )
    state = str(tmp_path / "state")
    base = spark.createDataFrame([(1, nat, "en")], "doc_id long, text string, lang string")
    P.init_curation_state(base, state)
    bench = spark.createDataFrame(
        [(999, "benchmark secret sauce phrase entirely unique here", "en")],
        "doc_id long, text string, lang string",
    )
    b1 = spark.createDataFrame(
        [
            (10, nat2, "en"),                      # survivor
            (11, nat, "en"),                       # exact dup of state doc 1
            (12, nat2 + " extra tail words", "en"),  # near-dup of 10 (larger id)
        ],
        "doc_id long, text string, lang string",
    )
    out1 = {r.doc_id for r in P.curate_batch_incremental(spark, b1, state, bench).collect()}
    assert out1 == {10}
    b2 = spark.createDataFrame(
        [
            (20, nat2, "en"),                      # exact dup of batch-1 survivor 10
            (21, nat2 + " extra tail words", "en"),  # near-dup of 10 via state sigs
            (22, "yet another wholly original passage where the words of the "
                 "story wander through the forest of the night", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    out2 = {r.doc_id for r in P.curate_batch_incremental(spark, b2, state, bench).collect()}
    assert out2 == {22}
    # state corpus = base + survivors only
    ids = sorted(r.id for r in spark.read.parquet(f"{state}/corpus").collect())
    assert ids == [1, 10, 22]


@pytest.mark.full  # evidence lane (r13 split): recall/equivalence soak
def test_state_compaction_and_retraction(spark, docs, tmp_path):
    """compact_curation_state shrinks the per-batch file sprawl without
    changing membership; retract_from_state removes a doc from every store
    so a later identical batch doc is NOT treated as a duplicate — while a
    shared-content hash survives retraction of only one carrier."""
    from sri2db_spark.functions import pipeline as P

    state = str(tmp_path / "st")
    d = docs.limit(40)
    P.init_curation_state(d, state)
    bench = spark.createDataFrame(
        [(999, "benchmark secret sauce phrase entirely unique here", "en")],
        "doc_id long, text string, lang string",
    )
    # a few appends to create file sprawl
    passages = [
        "wholly original passage where words wander through the forest of the night",
        "a second tale entirely its own about rivers carving stone beneath silent mountains",
        "third musings on compilers chewing syntax trees and spitting tight machine loops",
    ]
    extra = spark.createDataFrame(
        [(1000 + i, passages[i], "en") for i in range(3)],
        "doc_id long, text string, lang string",
    )
    for i in range(3):
        P.curate_batch_incremental(
            spark, extra.filter(F.col("doc_id") == 1000 + i), state, bench
        ).collect()
    import os

    before = len([f for f in os.listdir(f"{state}/corpus") if f.endswith(".parquet")])
    corpus_ids_before = sorted(r.id for r in spark.read.parquet(f"{state}/corpus").collect())
    rep = P.compact_curation_state(spark, state)
    after = len([f for f in os.listdir(f"{state}/corpus") if f.endswith(".parquet")])
    assert after < before and rep["corpus"][1] < rep["corpus"][0]
    corpus_ids_after = sorted(r.id for r in spark.read.parquet(f"{state}/corpus").collect())
    assert corpus_ids_before == corpus_ids_after
    # retraction: remove doc 1001; its exact re-ingest must now survive
    P.retract_from_state(spark, state, [1001])
    assert 1001 not in {r.id for r in spark.read.parquet(f"{state}/corpus").collect()}
    reingest = extra.filter(F.col("doc_id") == 1001).withColumn(
        "doc_id", F.lit(2001).cast("long")
    )
    out = {r.doc_id for r in P.curate_batch_incremental(spark, reingest, state, bench).collect()}
    assert out == {2001}


def test_canonicalize_text_collapses_variants(spark):
    from pyspark.sql import functions as F

    from sri2db_spark.functions.text import canonicalize_text

    rows = [(1, "Hello,  World!"), (2, "HELLO WORLD"), (3, "hello world."),
            (4, "a different text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    canon = {r.doc_id: r.c for r in df.select(
        "doc_id", canonicalize_text(F.col("text")).alias("c")).collect()}
    assert canon[1] == canon[2] == canon[3] == "hello world"
    assert canon[4] == "a different text"


def test_canonicalize_text_preserves_non_latin_scripts(spark):
    """Non-Latin-script documents must NOT canonicalize to the empty string —
    an ASCII-only character class would collapse every CJK/Cyrillic/Arabic
    document into one bogus duplicate group (deleting whole languages if
    used as a dedup keep-rule)."""
    from pyspark.sql import functions as F

    from sri2db_spark.functions.text import canonicalize_text

    rows = [
        (1, "你好世界!"),  # CJK
        (2, "Привет, мир"),  # Cyrillic
        (3, "café déjà vu"),  # accented Latin
        (4, "!!! ... ???"),  # punctuation-only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    canon = {r.doc_id: r.c for r in df.select(
        "doc_id", canonicalize_text(F.col("text")).alias("c")).collect()}
    assert canon[1] == "你好世界"
    assert canon[2] == "привет мир"
    assert canon[3] == "café déjà vu"
    assert canon[4] == ""  # all-punct docs canonicalize empty -> must be
    # excluded from dedup grouping (q_dedup_exact_canonical filters them)
    assert len({canon[1], canon[2], canon[3]}) == 3


def test_incremental_neardup_replay_idempotent_store(spark, docs, tmp_path):
    """With a batch_token, a retried incremental_neardup_pairs call (the
    at-least-once scheduler case) overwrites its own store subdirectory
    instead of appending twice, excludes its first attempt's signatures
    from the store read, and returns identical pairs."""
    store = str(tmp_path / "sigstore_replay")
    base = docs.filter(F.col("doc_id") % 7 != 0)
    batch = docs.filter(F.col("doc_id") % 7 == 0)
    D.write_signature_store(base, "doc_id", "text", store)
    first = {
        (r.id_a, r.id_b)
        for r in D.incremental_neardup_pairs(
            spark, store, batch, docs, "doc_id", "text", batch_token=0
        ).collect()
    }
    # replay: crash-after-store-append, same token
    replay = {
        (r.id_a, r.id_b)
        for r in D.incremental_neardup_pairs(
            spark, store, batch, docs, "doc_id", "text", batch_token=0
        ).collect()
    }
    assert replay == first
    assert len(first) > 0
    from sri2db_spark.functions.statestore import read_store

    sig_ids = [r.id for r in read_store(spark, store).select("id").collect()]
    assert len(sig_ids) == len(set(sig_ids)) == docs.count()


def test_pack_sequences_distributed_prefix_sum(spark):
    """pack_sequences must equal the sequential reference (global
    cumulative token count in id order) WITHOUT a single-partition
    window — the distributed two-pass prefix sum relies on
    repartitionByRange assigning ascending id ranges to ascending
    partition ids, so both properties are pinned here."""
    import contextlib
    import io

    rows = [(i, " ".join(["w"] * ((i * 37) % 90 + 1))) for i in range(600)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(16)
    out = X.pack_sequences(df, "doc_id", "text", target_tokens=128, n_parts=8)
    got = {r.doc_id: (r.n_tokens, r.seq_id) for r in out.collect()}

    # sequential reference
    cum = 0
    for i, text in rows:
        n = len(text.split())
        assert got[i] == (n, (cum) // 128), i
        cum += n

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        X.pack_sequences(df, "doc_id", "text", n_parts=8).explain(True)
    plan = buf.getvalue()
    assert "SinglePartition" not in plan  # never the one-task window


def test_exact_corr_all_integer_schema_and_value(spark):
    """exact_corr emits an ALL-INTEGER schema (no decimal/double column
    crosses an engine boundary — CORRECTNESS_r07/r08 lesson) and corr_e8
    reproduces numpy's coefficient to the 1e-8 quantum."""
    import math

    from sri2db_spark.functions.stats import exact_corr

    rows = [("g", float(i % 13), float((i * 7) % 31) + 0.25 * (i % 4))
            for i in range(500)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    out = exact_corr(df, "g", "x", "y", x_scale=0, y_scale=2)
    assert [f.dataType.simpleString() for f in out.schema.fields[1:]] == (
        ["bigint"] * 7
    )
    got = out.first()
    xs = [r[1] for r in rows]
    ys = [r[2] for r in rows]
    n = len(rows)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(a * b for a, b in zip(xs, ys))
    sx2, sy2 = sum(a * a for a in xs), sum(b * b for b in ys)
    ref = (sxy * n - sx * sy) / (
        math.sqrt(sx2 * n - sx * sx) * math.sqrt(sy2 * n - sy * sy)
    )
    assert got["n"] == n
    assert abs(got["corr_e8"] - math.floor(ref * 1e8 + 0.5)) <= 1


def test_exact_corr_overflow_is_loud(spark):
    """An operand whose scaled magnitude exceeds decimal(18,0) must raise
    (ANSI cast error or the assert_true guard), never silently skew the
    statistic by dropping rows (ADVICE r8)."""
    from sri2db_spark.functions.stats import exact_corr

    df = spark.range(10).select(
        F.lit("g").alias("g"),
        (F.col("id").cast("double") * 1e12).alias("x"),
        F.col("id").cast("double").alias("y"),
    )
    with pytest.raises(Exception, match="(?i)decimal|numeric_value_out_of_range|overflow"):
        exact_corr(df, "g", "x", "y", x_scale=9, y_scale=0).collect()


def test_exact_corr_all_null_group_is_null_not_overflow(spark):
    """A group whose x (or y) column is entirely NULL is a skipped-pair
    case (standard corr semantics): n counts pairwise-complete rows and
    corr_e8 is NULL — the overflow guard must NOT fire on the
    legitimately-NULL moment sums (review r9, confirmed live)."""
    from sri2db_spark.functions.stats import exact_corr

    rows = (
        [("dead", None, float(i)) for i in range(5)]
        + [("half", float(i) if i % 2 else None, float(i)) for i in range(6)]
        + [("live", float(i), float(2 * i)) for i in range(4)]
    )
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: (r["n"], r["corr_e8"]) for r in
           exact_corr(df, "g", "x", "y", 0, 0).collect()}
    assert got["dead"] == (0, None)
    assert got["half"][0] == 3  # only the complete pairs count
    assert got["live"] == (4, 100000000)  # perfectly correlated


def test_duplicated_spans_and_coverage_exact(spark):
    """Hand-computed case: two docs share a 10-token run — the three
    overlapping 8-grams must union to exactly 10 covered tokens (interval
    merge, not 3x8), a third unrelated doc covers zero, and the span
    report lists exactly the shared grams."""
    shared = [f"s{i}" for i in range(10)]
    rows = [
        (1, " ".join(["a1", "a2"] + shared + ["a3"])),          # 13 tokens
        (2, " ".join(shared + ["b1", "b2", "b3", "b4"])),        # 14 tokens
        (3, " ".join(f"u{i}" for i in range(12))),               # 12 tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    spans = {r.gram: (r.n_docs, r.n_occurrences)
             for r in X.duplicated_spans(df, "doc_id", "text", w=8).collect()}
    expect_grams = {" ".join(shared[i:i + 8]) for i in range(3)}
    assert set(spans) == expect_grams
    assert all(v == (2, 2) for v in spans.values())

    cov = {r.doc_id: (r.total_tokens, r.dup_tokens)
           for r in X.duplicated_span_coverage(df, "doc_id", "text", w=8).collect()}
    assert cov == {1: (13, 10), 2: (14, 10), 3: (12, 0)}


def test_duplicated_span_coverage_plan_is_partitioned(spark, docs):
    """The interval-union window must partition by document — a global
    sort would single-thread the whole corpus."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        X.duplicated_span_coverage(docs, "doc_id", "text").explain(True)
    assert "SinglePartition" not in buf.getvalue()


def test_exact_corr_zero_variance_is_null_not_divide_by_zero(spark):
    """A singleton or constant-column group has no defined correlation:
    corr_e8 must be NULL — under ANSI (Spark 4 default) an ungated divide
    aborts the whole job with DIVIDE_BY_ZERO for one degenerate group
    (review r9, confirmed live)."""
    from sri2db_spark.functions.stats import exact_corr

    rows = [
        ("solo", 5.0, 7.0),            # n=1 -> vx=vy=0
        ("const_x", 4.0, 1.0), ("const_x", 4.0, 9.0),
        ("big", 1.0, 1.0), ("big", 2.0, 3.0), ("big", 3.0, 2.0),
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r["g"]: (r["n"], r["corr_e8"]) for r in
           exact_corr(df, "g", "x", "y", 0, 0).collect()}
    assert got["solo"] == (1, None)
    assert got["const_x"] == (2, None)
    assert got["big"][0] == 3 and got["big"][1] is not None


def test_rrf_fuse_orders_and_handles_missing(spark):
    """RRF: overlap-of-both-lists ranks first; ids in only one list get the
    missing term as 0.0; ties on the fused score break by id."""
    from sri2db_spark.functions.retrieval import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "id long, rank int")
    b = spark.createDataFrame([(2, 1), (4, 2)], "id long, rank int")
    rows = {r["id"]: r for r in rrf_fuse(a, b, k_rrf=60, k=10).collect()}
    assert [rows[i]["rank"] for i in (2, 1, 4, 3)] == [1, 2, 3, 4]
    assert rows[2]["rrf_score"] == 1.0 / 62 + 1.0 / 61
    assert rows[1]["rrf_score"] == 1.0 / 61
    assert rows[4]["rrf_score"] == 1.0 / 62
    assert rows[1]["rank_b"] is None and rows[4]["rank_a"] is None


def test_matryoshka_full_shortlist_equals_exact(spark, emb):
    """With shortlist >= corpus, the coarse pass prunes nothing, so the
    rerank must reproduce exact cosine_topk bit-for-bit."""
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 4)
    exact = S.cosine_topk(emb, queries, k=5)
    mat = S.matryoshka_topk(
        emb, queries, coarse_dims=16, shortlist=n, k=5
    ).select(*exact.columns)
    assert mat.exceptAll(exact).count() == 0
    assert exact.exceptAll(mat).count() == 0


def test_matryoshka_small_shortlist_scores_are_exact(spark, emb):
    """Even with an aggressive shortlist, every RETURNED cos_sim must be the
    exact full-dimension score (matryoshka trades recall, never precision)."""
    queries = emb.filter(F.col("vec_id") < 4)
    mat = S.matryoshka_topk(emb, queries, coarse_dims=8, shortlist=10, k=5)
    exact_scores = (
        S.cosine_topk(emb, queries, k=10**9)
        .select("query_id", "neighbor_id", F.col("cos_sim").alias("ref"))
    )
    joined = mat.join(exact_scores, ["query_id", "neighbor_id"])
    assert joined.count() == mat.count()
    assert joined.filter(F.col("cos_sim") != F.col("ref")).count() == 0


def test_pagerank_star_graph(spark):
    """Star (center<->4 leaves, both directions): the center out-ranks the
    leaves, the leaves rank equally, and integer rounding loses only a
    negligible sliver of the 10^12 mass."""
    from sri2db_spark.functions.graph import RANK_SCALE, pagerank

    edges = spark.createDataFrame(
        [(0, i) for i in (1, 2, 3, 4)] + [(i, 0) for i in (1, 2, 3, 4)],
        "src long, dst long",
    )
    rows = {r["node_id"]: r["rank_e12"] for r in pagerank(edges, iters=3).collect()}
    assert len(rows) == 5
    leaf_ranks = {rows[i] for i in (1, 2, 3, 4)}
    assert len(leaf_ranks) == 1
    assert rows[0] > rows[1]
    assert abs(sum(rows.values()) - RANK_SCALE) < RANK_SCALE * 0.01


def test_pagerank_symmetric_cycle_is_uniform(spark):
    """A 2-cycle is perfectly symmetric: both nodes keep the uniform rank."""
    from sri2db_spark.functions.graph import RANK_SCALE, pagerank

    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    rows = {r["node_id"]: r["rank_e12"] for r in pagerank(edges, iters=3).collect()}
    assert rows[1] == rows[2]
    assert abs(rows[1] - RANK_SCALE // 2) <= 5


def test_pagerank_convergence_mode_stops_early_and_matches_fixed(spark):
    """tol_e12 mode: stops at the FIRST iteration whose integer L1 delta
    is ≤ tol, returns exactly the fixed-iteration ranks of that count,
    and reports it in n_iters; an unreachable tol runs to the cap."""
    from sri2db_spark.functions.graph import pagerank

    # 2-cycle + a feeder: converges geometrically
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (3, 1), (1, 3)], "src long, dst long"
    )
    fixed = {}
    for k in range(1, 9):
        fixed[k] = {
            r["node_id"]: r["rank_e12"]
            for r in pagerank(edges, iters=k).collect()
        }
    deltas = {
        k: sum(abs(fixed[k][n] - fixed[k - 1][n]) for n in fixed[k])
        for k in range(2, 9)
    }
    # pick a tol hit strictly inside the cap (deltas must be strictly
    # decreasing here or "first iteration ≤ tol" wouldn't be k_target)
    k_target = 5
    assert deltas[k_target - 1] > deltas[k_target] > deltas[k_target + 1]
    tol = deltas[k_target]
    conv = pagerank(edges, iters=8, tol_e12=tol).collect()
    n_iters = {r["n_iters"] for r in conv}
    assert n_iters == {k_target}
    assert {r["node_id"]: r["rank_e12"] for r in conv} == fixed[k_target]
    # unreachable tol -> cap, still returns the fixed-8 ranks
    capped = pagerank(edges, iters=8, tol_e12=0).collect()
    assert {r["n_iters"] for r in capped} == {8}
    assert {r["node_id"]: r["rank_e12"] for r in capped} == fixed[8]


def test_calibrate_quality_matches_window_percent_rank(spark, docs):
    """The bounded histogram-CDF plan must equal the naive PERCENT_RANK
    window semantics row for row (rank ties share; scaled to [0, 1e6])."""
    from pyspark.sql import Window

    out = X.calibrate_quality(docs, "doc_id", "text", "source")
    q = docs.select(
        F.col("doc_id").alias("id"),
        "source",
        F.floor(F.lit(1_000_000.0) * X.quality_score(F.col("text")))
        .cast("bigint")
        .alias("qbin"),
    )
    w = Window.partitionBy("source").orderBy(F.col("qbin").asc_nulls_last())
    ref = q.select(
        "id",
        "source",
        "qbin",
        (F.rank().over(w) - 1).alias("below"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_src"),
    ).select(
        "id",
        "source",
        "qbin",
        F.when(
            F.col("n_src") > 1, F.expr("(below * 1000000) div (n_src - 1)")
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("pr_e6"),
    )
    mism = out.select("id", "source", "qbin", "pr_e6").exceptAll(ref)
    assert mism.count() == 0
    assert ref.exceptAll(out.select("id", "source", "qbin", "pr_e6")).count() == 0
    # deciles are a pure derivation of pr_e6, clamped to 9
    assert out.filter((F.col("decile") < 0) | (F.col("decile") > 9)).count() == 0
    assert (
        out.filter(
            F.col("decile")
            != F.least(F.lit(9).cast("bigint"), F.expr("pr_e6 div 100000"))
        ).count()
        == 0
    )


def _pagerank_reference(edge_list, iters=3, damping=85, scale=10**12):
    """Driver-side pure-integer replay of functions.graph.pagerank."""
    edges = sorted(set(edge_list))
    out: dict[int, int] = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    n = len(out)
    base = scale // n
    tp = ((100 - damping) * base) // 100
    ranks = {v: base for v in out}
    for _ in range(iters):
        inflow = dict.fromkeys(ranks, 0)
        for s, d in edges:
            if d in inflow:
                inflow[d] += ranks[s] // out[s]
        ranks = {v: tp + (damping * inflow[v]) // 100 for v in ranks}
    return ranks


def test_pagerank_matches_integer_reference_on_random_graphs(spark):
    """Seeded random digraphs (reverse edges added so nothing dangles):
    the distributed fixed-point PageRank must equal a sequential integer
    replay exactly — bit-for-bit determinism is the operator's contract."""
    import random

    from sri2db_spark.functions.graph import pagerank

    rng = random.Random(20260816)
    for trial in range(3):
        n = rng.randint(4, 12)
        fwd = {
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randint(n, 3 * n))
        }
        fwd = {(a, b) for a, b in fwd if a != b} or {(0, 1)}
        both = list(fwd) + [(b, a) for a, b in fwd]
        got = {
            r["node_id"]: r["rank_e12"]
            for r in pagerank(
                spark.createDataFrame(both, "src long, dst long"), iters=3
            ).collect()
        }
        assert got == _pagerank_reference(both), f"trial {trial} diverged"


def test_rrf_fuse_matches_bruteforce(spark):
    """Random rank lists: fused scores and the top-k cut must match a
    driver-side reference exactly (IEEE doubles, fixed add order)."""
    import random

    from sri2db_spark.functions.retrieval import rrf_fuse

    rng = random.Random(7)
    ids = list(range(30))
    rng.shuffle(ids)
    a = [(i, r + 1) for r, i in enumerate(ids[:12])]
    rng.shuffle(ids)
    b = [(i, r + 1) for r, i in enumerate(ids[:9])]
    got = rrf_fuse(
        spark.createDataFrame(a, "id long, rank int"),
        spark.createDataFrame(b, "id long, rank int"),
        k_rrf=60,
        k=8,
    ).collect()
    ra, rb = dict(a), dict(b)
    scores = {
        i: (1.0 / (60 + ra[i]) if i in ra else 0.0)
        + (1.0 / (60 + rb[i]) if i in rb else 0.0)
        for i in set(ra) | set(rb)
    }
    ref = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:8]
    assert [(r["id"], r["rrf_score"]) for r in got] == ref
    assert [r["rank"] for r in got] == list(range(1, 9))


def test_decontaminate_corpus_hand_example(spark):
    """Hand-built train/bench: verdicts, margined cut intervals, and the
    re-chunked segments are exactly the Lee-et-al. recipe."""
    bench = spark.createDataFrame(
        [(100, "a b c d")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            # benchmark 4-gram at pos 4 of 12 tokens: 4/12 contaminated
            # (below 50%) -> splice. Cut interval with margin 1:
            # [3, 9) -> segments tok 1-2 and tok 9-12.
            (1, "t1 t2 t3 a b c d t8 t9 t10 t11 t12"),
            # the whole doc IS the benchmark gram: 4/4 -> drop
            (2, "a b c d"),
            # clean -> keep, text passes through untouched
            (3, "u v w x y"),
            # contaminated 4/7 (57%) -> drop
            (4, "a b c d q r s"),
            (5, None),  # NULL text -> keep (NULL total, 0 contaminated)
        ],
        "doc_id long, text string",
    )
    out = X.decontaminate_corpus(
        train, bench, "doc_id", "text", w=4, drop_threshold_e6=500_000, margin=1
    ).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: splice into two segments
    segs = sorted(by_doc[1], key=lambda r: r["seg"])
    assert [r["action"] for r in segs] == ["splice", "splice"]
    assert [(r["seg"], r["clean_text"]) for r in segs] == [
        (1, "t1 t2"),
        (2, "t9 t10 t11 t12"),
    ]
    assert segs[0]["n_dropped_spans"] == 1
    assert segs[0]["total_tokens"] == 12 and segs[0]["contaminated_tokens"] == 4
    # doc 2 and 4: dropped with an audit row
    for d in (2, 4):
        (row,) = by_doc[d]
        assert row["action"] == "drop" and row["seg"] == 0
        assert row["clean_text"] is None and row["n_dropped_spans"] == 1
    # doc 3: kept verbatim
    (row,) = by_doc[3]
    assert row["action"] == "keep" and row["clean_text"] == "u v w x y"
    assert row["seg"] == 1 and row["n_dropped_spans"] == 0
    # doc 5: NULL text kept, NULL totals
    (row,) = by_doc[5]
    assert row["action"] == "keep" and row["total_tokens"] is None


def test_decontaminate_corpus_fully_spliced_degrades_to_drop(spark):
    """A sub-threshold doc whose margined cuts cover every token leaves
    no segment — it must degrade to a drop row, not vanish silently."""
    bench = spark.createDataFrame(
        [(100, "a b c d"), (101, "p q r s")], "doc_id long, text string"
    )
    # 8 tokens, two disjoint benchmark grams: contamination 8/8 would be
    # drop by threshold; use threshold 1e6 (never drop by fraction) to
    # force the degradation path
    train = spark.createDataFrame(
        [(1, "a b c d p q r s")], "doc_id long, text string"
    )
    out = X.decontaminate_corpus(
        train, bench, "doc_id", "text", w=4, drop_threshold_e6=1_000_000, margin=2
    ).collect()
    assert len(out) == 1
    assert out[0]["action"] == "drop" and out[0]["clean_text"] is None
    assert out[0]["seg"] == 0


def test_decontaminate_corpus_zero_contamination_after_splice(spark):
    """Property (the guarantee the re-chunking buys): re-measuring the
    splice/keep output against the SAME benchmark yields zero
    contamination mass — segments never re-join across a splice point,
    so junction grams cannot recreate a benchmark match."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.sampled_from(["a", "b", "c", "d", "e"])  # tiny alphabet:
    # shared grams are COMMON, the adversarial regime for junction grams
    doc = st.lists(word, min_size=1, max_size=30).map(" ".join)

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        st.lists(doc, min_size=1, max_size=6),
        st.lists(doc, min_size=1, max_size=3),
        st.integers(0, 3),
    )
    def check(train_texts, bench_texts, margin):
        train = spark.createDataFrame(
            list(enumerate(train_texts)), "doc_id long, text string"
        )
        bench = spark.createDataFrame(
            [(1000 + i, t) for i, t in enumerate(bench_texts)],
            "doc_id long, text string",
        )
        out = X.decontaminate_corpus(
            train, bench, "doc_id", "text",
            w=3, drop_threshold_e6=700_000, margin=margin,
        )
        clean = out.filter(F.col("action") != "drop").select(
            (F.col("doc_id") * 1000 + F.col("seg")).alias("doc_id"),
            F.col("clean_text").alias("text"),
        )
        if clean.count() == 0:
            return
        remeasured = X.contaminated_span_coverage(
            clean, bench, "doc_id", "text", w=3
        )
        assert (
            remeasured.filter(F.col("contaminated_tokens") > 0).count() == 0
        )

    check()


def test_dedup_corpus_spans_keeper_keeps_others_splice(spark):
    """Hand-built corpus: the lowest-id doc keeps the shared 4-gram, the
    other loses exactly that window (margin 0), heavy-dup docs drop."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d x1 x2 x3 x4"),     # keeper of 'a b c d'
            (2, "y1 y2 a b c d y3 y4"),     # splices it out
            (3, "a b c d"),                  # 100% dup -> drop
            (4, "u v w z q r s t"),          # unique -> keep
        ],
        "doc_id long, text string",
    )
    out = X.dedup_corpus_spans(docs, "doc_id", "text", w=4, margin=0)
    rows = {}
    for r in out.collect():
        rows.setdefault(r["doc_id"], []).append(r)
    (k1,) = rows[1]
    assert k1["action"] == "keep" and k1["clean_text"] == "a b c d x1 x2 x3 x4"
    segs = sorted(rows[2], key=lambda r: r["seg"])
    assert [r["action"] for r in segs] == ["splice", "splice"]
    assert [r["clean_text"] for r in segs] == ["y1 y2", "y3 y4"]
    assert segs[0]["dup_tokens"] == 4 and segs[0]["total_tokens"] == 8
    (d3,) = rows[3]
    assert d3["action"] == "drop" and d3["clean_text"] is None
    (k4,) = rows[4]
    assert k4["action"] == "keep"


def test_dedup_corpus_spans_no_cross_doc_duplicates_remain(spark):
    """Property (the ExactSubstr guarantee): re-measuring duplicated
    spans over the keep/splice output KEYED BY THE ORIGINAL doc id finds
    zero cross-document duplicated grams — every surviving duplicated
    gram lives only in its keeper; re-chunking prevents junction grams."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    word = st.sampled_from(["a", "b", "c", "d"])  # tiny alphabet: shared
    # grams everywhere, the adversarial regime
    doc = st.lists(word, min_size=1, max_size=25).map(" ".join)

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(st.lists(doc, min_size=2, max_size=6), st.integers(0, 2))
    def check(texts, margin):
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        out = X.dedup_corpus_spans(
            docs, "doc_id", "text", w=3, drop_threshold_e6=800_000,
            margin=margin,
        )
        surv = out.filter(F.col("action") != "drop").select(
            "doc_id", F.col("clean_text").alias("text")
        )
        if surv.count() == 0:
            return
        dups = X.duplicated_spans(surv, "doc_id", "text", w=3, min_docs=2)
        assert dups.count() == 0

    check()


def test_calibrate_quality_null_text_ranks_last_in_source(spark):
    """A NULL qbin (NULL text) mixed into a source with real docs must
    rank ABOVE every real bin in the CDF — NULLS LAST, pinned explicitly
    in the engine window to match the DuckDB oracle's default (ADVICE
    r10: Spark's ASC default is NULLS FIRST, which silently inflated
    every real bin's `below` and deflated the NULL rows')."""
    rows = [
        (1, "alpha beta gamma delta epsilon", "s1"),
        (2, "the a of and to in is short words here now", "s1"),
        (3, None, "s1"),  # NULL text -> NULL qbin, same source
        (4, "another reasonable document body", "s1"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["id"]: r for r in X.calibrate_quality(df, "doc_id", "text", "source").collect()}
    assert set(out) == {1, 2, 3, 4}
    # the NULL-qbin row ranks strictly above every real bin: below = 3
    assert out[3]["qbin"] is None
    assert out[3]["pr_e6"] == (3 * 1_000_000) // 3
    # real rows' `below` must NOT count the NULL row (NULLS LAST): the
    # best real doc has below <= 2 of 3 -> pr_e6 <= 666666
    real_max = max(out[i]["pr_e6"] for i in (1, 2, 4))
    assert real_max <= (2 * 1_000_000) // 3


def test_calibrate_quality_keeps_null_source_rows(spark):
    """A NULL source (or NULL qbin) must not vanish from the calibration
    table — the histogram join is null-safe (review r10 finding)."""
    rows = [
        (1, "alpha beta gamma delta", "s1"),
        (2, "the a of and to in is words here", "s1"),
        (3, "some other doc entirely", None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = X.calibrate_quality(df, "doc_id", "text", "source").collect()
    assert {r["id"] for r in out} == {1, 2, 3}
    null_row = next(r for r in out if r["id"] == 3)
    assert null_row["source"] is None and null_row["pr_e6"] == 0


def test_matryoshka_zero_prefix_vector_does_not_abort(spark):
    """A corpus vector whose coarse-prefix entries are all zero is legal
    (nonzero full norm); the coarse pass must not divide by zero (ANSI
    aborts the job) and returned scores stay exact (review r10 finding)."""
    rows = [
        (0, [1.0, 0.5, 0.2, 0.1, 0.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.4, 0.1, 0.2, 0.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0, 1.0, 1.0, 1.0, 1.0]),  # zero prefix
        (3, [0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5, 0.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    prev = spark.conf.get("spark.sql.ansi.enabled", None)
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        out = S.matryoshka_topk(
            df, df.filter(F.col("vec_id") == 0), coarse_dims=4, shortlist=4, k=3
        ).collect()
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.ansi.enabled")
        else:
            spark.conf.set("spark.sql.ansi.enabled", prev)
    assert len(out) == 3  # all three candidates survive, incl. the
    # zero-prefix one (shortlist covers the corpus), ranked by EXACT cosine
    exact = {
        r["neighbor_id"]: r["cos_sim"]
        for r in S.cosine_topk(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    }
    for r in out:
        assert r["cos_sim"] == exact[r["neighbor_id"]]


def test_triangle_counts_matches_bruteforce(spark):
    """Random graphs (with planted duplicate / reversed / self-loop noise):
    the degree-oriented count must equal naive triangle enumeration."""
    import itertools
    import random

    from sri2db_spark.functions.graph import triangle_counts

    rng = random.Random(99)
    for trial in range(3):
        n = rng.randint(5, 14)
        edges = {
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if rng.random() < 0.4
        }
        if not edges:
            edges = {(0, 1), (1, 2), (0, 2)}
        feed = list(edges) + [(b, a) for a, b in list(edges)[:3]] + [(0, 0)]
        got = {
            r["node_id"]: r["n_triangles"]
            for r in triangle_counts(
                spark.createDataFrame(feed, "src long, dst long")
            ).collect()
        }
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        ref = dict.fromkeys(adj, 0)
        for x, y, z in itertools.combinations(sorted(adj), 3):
            if y in adj[x] and z in adj[x] and z in adj[y]:
                ref[x] += 1
                ref[y] += 1
                ref[z] += 1
        assert got == ref, f"trial {trial} diverged"


def test_contaminated_span_coverage_exact(spark):
    """Hand-built train/bench: contaminated token count equals the union
    of benchmark-gram intervals, and the refactored duplicated_span_
    coverage keeps its exact semantics."""
    bench = spark.createDataFrame(
        [(100, "a b c d e f g h")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            # contains the benchmark 8-gram at pos 3 -> 8 tokens covered
            (1, "x y a b c d e f g h z w"),
            # no benchmark 8-gram (7-token overlap only)
            (2, "a b c d e f g q r s"),
            (3, None),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["total_tokens"], r["contaminated_tokens"])
        for r in X.contaminated_span_coverage(
            train, bench, "doc_id", "text", w=8
        ).collect()
    }
    assert got[1] == (12, 8)
    assert got[2] == (10, 0)
    assert got[3] == (None, 0)


def _many_segment_corpus(spark, n_units: int):
    """One document built so decontamination (w=4, margin=2) splices it
    into ~n_units one-word segments: each unit is the benchmark 4-gram
    followed by 5 unique filler words; the margined cuts eat everything
    but the middle filler word of every unit."""
    gram = "b0 b1 b2 b3"
    units = [f"{gram} f{i}a f{i}b f{i}c f{i}d f{i}e" for i in range(n_units)]
    docs = spark.createDataFrame(
        [
            (7, " ".join(units), "web"),
            (8, "an entirely clean second document with eight words", "web"),
        ],
        "doc_id long, text string, source string",
    )
    bench = spark.createDataFrame([(1, gram)], "doc_id long, text string")
    return docs, bench


@pytest.mark.full  # evidence lane (r13 split): recall/equivalence soak
def test_curate_full_uid_survives_thousand_plus_segments(spark):
    """VERDICT r11 #1: under the old uid = doc_id*1000 + seg a document
    spliced into >=1000 segments silently collided with doc_id+1's uid
    range through every downstream join. The widened base must keep every
    segment uid unique — and this corpus really does splice past 1000."""
    from sri2db_spark.functions.pipeline import curate_full

    docs, bench = _many_segment_corpus(spark, 1200)
    _, stages = curate_full(
        docs, bench, min_quality=-1e9, w=4, margin=2,
        weights={"web": 1.0}, return_stages=True,
    )
    uids = [r.uid for r in stages["decontaminate"].select("uid").collect()]
    assert len(uids) == len(set(uids))
    doc7 = [u for u in uids if u // 1_000_000 == 7]
    assert len(doc7) >= 1000
    assert all(u // 1_000_000 in (7, 8) for u in uids)


def test_curate_full_uid_guard_raises_loudly_on_overflow(spark):
    """The guard path itself: with a deliberately tiny seg_uid_base the
    same splice must raise_error (loudly), never emit colliding uids."""
    from sri2db_spark.functions.pipeline import curate_full

    docs, bench = _many_segment_corpus(spark, 30)
    with pytest.raises(Exception, match="uid composition out of range"):
        # the eager decontaminate checkpoint inside curate_full forces
        # evaluation of the guarded uid expression during the call
        curate_full(
            docs, bench, min_quality=-1e9, w=4, margin=2, seg_uid_base=10
        )


def test_edge_sig_equivalent_to_exceptall_set_equality(spark):
    """The star-CC fixpoint now compares (count, sum(xxhash64)) instead
    of a per-round exceptAll shuffle; checksum-equal must coincide with
    set-equal on distinct edge frames (including the empty frame and
    frames differing only in orientation columns)."""
    import random

    rng = random.Random(42)
    for trial in range(12):
        n = rng.randint(0, 30)
        base = {
            (rng.randint(0, 9) + 10, rng.randint(0, 9)) for _ in range(n)
        }
        if trial % 3 == 0:
            other = set(base)  # identical set, independently shuffled
        elif trial % 3 == 1 and base:
            other = set(base)
            other.discard(next(iter(other)))  # strict subset
            other.add((99, 1))
        else:
            hi, lo = (rng.randint(10, 19), rng.randint(0, 9))
            other = base | {(hi, lo)}
        schema = "hi long, lo long"
        a = spark.createDataFrame(sorted(base) or [], schema)
        b = spark.createDataFrame(sorted(other, reverse=True) or [], schema)
        sig_equal = D._edge_sig(a) == D._edge_sig(b)
        set_equal = base == other
        assert sig_equal == set_equal, (trial, base, other)


def _py_bpe(text, merges=None):
    """Pure-Python reference of the tokenize module's algorithm."""
    from sri2db_spark.functions import tokenize as T

    if text is None:
        return None
    s = "".join(ch if ch == " " else f"\x1e{ch}\x1f" for ch in text)
    for l, r in (merges or T.DEFAULT_MERGES):
        s = s.replace(f"\x1e{l}\x1f\x1e{r}\x1f", f"\x1e{l}{r}\x1f")
    return s.count("\x1e")


BPE_CASES = [
    "the theandthe ththth",
    "",
    "   ",
    "aaa",
    "tthe ingestion nation",
    "héllo wörld",
    "a|b c|d",
    "pipes |and| sentinels \x1e inside \x1f text",
    "the quick brown fox jumps over the lazy dog",
    "ss tt thth hehe erer",
    # astral (non-BMP) chars: Java regex must wrap code POINTS, not
    # UTF-16 units, to agree with RE2/Python — verified r12
    "smile \U0001F600 x",
    "a\U0001F44Db c \U0001D54A\U0001D56A",
]


def test_bpe_token_count_three_way_agreement(spark):
    """Spark JVM fold, DuckDB list_reduce mirror, and a pure-Python
    reference must agree token-for-token on adversarial strings
    (overlapping merge sites, multi-space, unicode, pipe chars, even the
    sentinel chars themselves appearing in the TEXT)."""
    import duckdb

    from sri2db_spark.functions import tokenize as T

    rows = [(i, t) for i, t in enumerate(BPE_CASES)] + [(len(BPE_CASES), None)]
    df = spark.createDataFrame(rows, "i long, text string")
    got = {
        r["i"]: r["n"]
        for r in df.select("i", T.bpe_token_count(F.col("text")).alias("n")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    duck = dict(con.execute(
        f"SELECT i, {T.bpe_count_sql('text')} FROM t"
    ).fetchall())
    for i, t in rows:
        ref = _py_bpe(t)
        assert got[i] == ref, (t, got[i], ref)
        assert duck[i] == ref, (t, duck[i], ref)


def test_bpe_tokenizer_seam_through_pack_and_curate(spark):
    """pack_sequences(token_count=...) and curate_full(tokenizer=...)
    actually denominate their budgets in the plugged counter's tokens."""
    from sri2db_spark.functions import tokenize as T
    from sri2db_spark.functions.pipeline import curate_full

    # four genuinely different documents: near-identical texts would
    # collapse into one LSH cluster and the lone survivor would then be
    # dropped by the calibration-decile filter, leaving nothing to pack
    texts = {
        0: "the cat sat on the mat and purred gently tonight",
        1: "ingestion pipelines process enormous corpora with stable order",
        2: "zebras graze beside rivers while herons watch quietly",
        3: "quantum flux capacitors hum near the laboratory entrance",
    }
    docs = spark.createDataFrame(
        sorted((i, t, "web") for i, t in texts.items()),
        "doc_id long, text string, source string",
    )
    packed = X.pack_sequences(
        docs, "doc_id", "text", target_tokens=8,
        token_count=T.bpe_tokenizer(),
    )
    rows = packed.collect()
    assert all(r.n_tokens == _py_bpe(texts[r.doc_id]) for r in rows)
    ws = X.pack_sequences(docs, "doc_id", "text", target_tokens=8).collect()
    assert rows[0].n_tokens != ws[0].n_tokens  # the counter really differs

    bench = spark.createDataFrame([(1, "zz zz zz zz")], "doc_id long, text string")
    manifest = curate_full(
        docs, bench, min_quality=-1e9, weights={"web": 1.0},
        budget_tokens=10_000, tokenizer=T.bpe_tokenizer(),
    )
    out = manifest.collect()
    assert out
    # clean (uncontaminated) docs pass through whole: seg 1, uid = id*base+1
    assert all(r.n_tokens == _py_bpe(texts[r.uid // 1_000_000]) for r in out)


def test_bpe_rejects_sentinel_merge_tokens():
    from sri2db_spark.functions import tokenize as T

    for bad in [("a|b", "c"), ("\x1e", "x"), ("y", "\x1f")]:
        with pytest.raises(ValueError, match="sentinel"):
            T._encode([bad])


def _py_bpe_tokenize(word, merges):
    import re

    s = "".join(f"\x1e{ch}\x1f" for ch in word)
    for l, r in merges:  # noqa: E741
        s = s.replace(f"\x1e{l}\x1f\x1e{r}\x1f", f"\x1e{l}{r}\x1f")
    return re.findall("\x1e([^\x1e\x1f]*)\x1f", s)


def _py_bpe_train(texts, n_merges, min_count=2):
    """Pure-Python reference of the distributed trainer's semantics."""
    from collections import Counter

    vocab = Counter()
    for t in texts:
        for w in t.split(" "):
            if w and "|" not in w and "\x1e" not in w and "\x1f" not in w:
                vocab[w] += 1
    merges, out = [], []
    for _ in range(n_merges):
        counts = Counter()
        for w, f in vocab.items():
            toks = _py_bpe_tokenize(w, merges)
            for a, b in zip(toks, toks[1:]):
                counts[f"{a}|{b}"] += f
        cands = [(c, p) for p, c in counts.items() if c >= min_count]
        if not cands:
            break
        c, p = sorted(cands, key=lambda t: (-t[0], t[1]))[0]
        l, r = p.split("|", 1)  # noqa: E741
        merges.append((l, r))
        out.append((l, r, c))
    return out


def test_bpe_train_merges_matches_python_reference(spark):
    """The distributed trainer reproduces the reference trainer exactly —
    argmax order, weighted counts, lexicographic tie-breaks, early stop —
    on corpora engineered with heavy ties and repeated words."""
    from sri2db_spark.functions import tokenize as T

    corpora = [
        ["the the then there", "and hand the band", "in inn inside"],
        ["aa aa ab ab ba ba", "abab baba aabb"],          # tie-heavy
        ["x", "y z", ""],                                  # pair-starved
        ["w|eird \x1esk kept kept", "kept words words"],   # filtered words
    ]
    for texts in corpora:
        df = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = T.bpe_train_merges(df, "text", n_merges=8)
        ref = _py_bpe_train(texts, 8)
        assert got == ref, (texts, got, ref)


def test_bpe_trained_merges_chain_into_tokenizer(spark):
    """Learned merges plug straight into bpe_tokenizer/bpe_token_count and
    strictly reduce token counts on the corpus they were trained on."""
    from sri2db_spark.functions import tokenize as T

    texts = ["the the then there", "and hand the band the"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    learned = [(l, r) for l, r, _ in T.bpe_train_merges(df, "text", n_merges=6)]
    assert learned  # this corpus has mergeable pairs
    out = df.select(
        T.bpe_token_count(F.col("text"), ()).alias("chars"),
        T.bpe_token_count(F.col("text"), learned).alias("bpe"),
    ).collect()
    assert all(r.bpe < r.chars for r in out)
    toks = df.select(T.bpe_tokenize(F.col("text"), learned).alias("t")).first()
    assert "the" in toks.t  # 'the' became a single learned token


def test_gopher_quality_flags_rule_boundaries(spark):
    """Each Gopher rule trips on its own adversarial document; the good
    document passes all; exact-integer boundary cases sit on the correct
    side (90%-bullet and 30%-ellipsis are strict)."""
    good = " ".join(["the", "and"] + ["word"] * 60)
    docs = [
        (0, good),                                        # keep
        (1, "the and word"),                              # too short
        (2, " ".join(["the", "and"] + ["#t"] * 7 + ["word"] * 50)),  # symbols
        (3, "\n".join(["- the and word here now ok"] * 9
                      + ["the and word here now ok"])),   # 90% bullets
        (4, "\n".join(["the and word here now ok..."] * 3
                      + ["the and word here now ok"] * 7)),  # 30% ellipsis
        (5, " ".join(["the", "and"] + ["abcdefghijkl"] * 48)),  # mean wl > 10
        (6, " ".join(["the", "and"] + ["123"] * 48)),     # alpha < 80%
        (7, " ".join(["the"] + ["word"] * 49)),           # one stopword
        (8, None),                                        # null text
    ]
    out = {
        r["doc_id"]: r
        for r in X.gopher_quality_flags(
            spark.createDataFrame(docs, "doc_id long, text string"),
            "doc_id", "text",
        ).collect()
    }
    assert out[0]["keep"] is True
    for i in range(1, 9):
        assert out[i]["keep"] is False, (i, out[i])
    assert out[0]["n_words"] == 62
    assert out[0]["mean_wl_e6"] == (246 * 1_000_000) // 62
    assert out[0]["n_stop"] == 2
    assert out[3]["bullet_frac_e6"] == 900_000
    assert out[4]["ellipsis_frac_e6"] == 300_000
    assert out[8]["n_words"] is None and out[8]["keep"] is False


def test_gopher_repetition_flags_boundaries(spark):
    """Hand-built repetition cases: clean long doc passes, duplicate
    lines trip the 30% line rule, a looped 5-gram trips the duplicated-
    gram char-mass rules; exact-integer e6 ratios verified."""
    clean = " ".join(f"w{i:03d}" for i in range(200))
    dupline = "\n".join(
        ["the same line here"] * 4 + [f"unique line {i} x" for i in range(6)]
    )
    loop5 = " ".join(["alpha beta gamma delta epsilon"] * 6)
    docs = spark.createDataFrame(
        [(0, clean), (1, dupline), (2, loop5)], "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r
        for r in X.gopher_repetition_flags(docs, "doc_id", "text").collect()
    }
    assert out[0]["keep"] is True
    assert out[1]["keep"] is False
    assert out[1]["ln_dup_frac_e6"] == 400_000  # 4 of 10 lines duplicated
    assert out[2]["keep"] is False
    assert out[2]["dup5_char_frac_e6"] > 150_000  # looped 5-gram mass
    assert out[0]["dup5_char_frac_e6"] == 0


def test_c4_quality_flags_rules(spark):
    """Each C4 rule trips: lorem ipsum, curly brace, <5 sentences,
    javascript lines, no terminal punctuation; a clean 5-sentence doc
    keeps; NULL text is keep=false."""
    docs = [
        (0, "Good first sentence here. Another solid line follows. "
            "More words here. Even more now. And a fifth one."),
        (1, "Lorem Ipsum dolor sit. Yes ok fine! Sure thing now? "
            "Totally real words. The end here."),
        (2, "code block { inside }. Yes ok fine! Sure thing now? "
            "Totally real words. The end here."),
        (3, "Only four sentences here. Yes ok fine! Sure thing now? "
            "Totally real words"),
        (4, "Enable JavaScript to view this. Yes ok fine! Sure here? "
            "Totally real words. The end now."),
        (5, "no terminal punctuation at all in this single line"),
        (6, None),
    ]
    out = {
        r["doc_id"]: r
        for r in X.c4_quality_flags(
            spark.createDataFrame(docs, "doc_id long, text string"),
            "doc_id", "text",
        ).collect()
    }
    assert out[0]["keep"] is True
    assert out[1]["keep"] is False and out[1]["has_lorem"] is True
    assert out[2]["keep"] is False and out[2]["has_brace"] is True
    assert out[3]["keep"] is False and out[3]["n_sentences"] == 3
    # the javascript doc is a single LINE, so the whole line is dropped
    assert out[4]["keep"] is False and out[4]["n_kept_lines"] == 0
    assert out[5]["keep"] is False and out[5]["n_sentences"] == 0
    assert out[6]["keep"] is False and out[6]["n_lines"] is None
