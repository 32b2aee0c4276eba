"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Everything is built-in DataFrame ops (shuffles are the deliberate ones):

- exact:        one hash-aggregate on md5(text) — the cheapest possible dedup.
- n-gram Jaccard (exact near-dup): explode distinct shingles → self-join on
  shingle → per-pair intersection counts. Exact but O(Σ freq²) — the oracle
  / small-scale path.
- MinHash+LSH (scale path): per-doc signature of P permutation-mins → band
  keys → bucket self-join for candidates → exact-Jaccard verification of the
  (few) candidates. The shuffle is on band keys whose bucket sizes are
  controlled by (bands, rows) — this is the 100 TB-safe plan: no all-pairs
  stage anywhere.
- SimHash: 48-bit signature from token-hash bit votes; near-dup = small
  Hamming distance, candidate generation by exact match on any of 4 12-bit
  bands (covers Hamming ≤ 3 by pigeonhole).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..observation import observed_row
from .text import word_shingles

logger = logging.getLogger(__name__)

MERSENNE31 = 2_147_483_647  # permutation-hash modulus


def _drop_oversized_buckets(
    band_rows: DataFrame, max_bucket_size: int | None, op_name: str
) -> DataFrame:
    """Cap LSH bucket cardinality before the band self-join.

    A bucket of b docs yields b²/2 candidate pairs; boilerplate-heavy corpora
    (page templates, license headers) can put millions of docs into one
    bucket and make a single reducer quadratic — AQE rebalances the shuffle
    but not the pair count. Buckets above the cap are dropped (a true pair
    usually still collides in one of the other bands) and the drop is LOGGED
    — never a silent recall loss. Cost: one extra aggregation over the band
    keys; the oversized set itself is tiny, so the anti-join broadcasts.
    """
    if max_bucket_size is None:
        return band_rows
    oversized = (
        band_rows.groupBy("band", "bkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_bucket_size)
        .persist()
    )
    # one driver action for BOTH stats (count + max) — the former
    # count()-then-agg(max) pair launched two jobs over the guard frame
    stats = oversized.agg(
        F.count(F.lit(1)).alias("n_over"), F.max("n").alias("biggest")
    ).first()
    n_over, biggest = stats["n_over"], stats["biggest"]
    if not n_over:
        oversized.unpersist()
        return band_rows
    logger.warning(
        "%s: dropping %d LSH bucket(s) larger than %d docs (largest: %d); "
        "pairs co-occurring only in dropped buckets are lost",
        op_name, n_over, max_bucket_size, biggest,
    )
    # oversized stays persisted (it is tiny); the context cleaner reclaims it
    return band_rows.join(
        F.broadcast(oversized.select("band", "bkey")), ["band", "bkey"], "left_anti"
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup groups: one row per distinct content with the
    representative (min id) and the duplicate count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _parallelize(df: DataFrame) -> DataFrame:
    """Ensure CPU-bound per-row work is spread across all cores.

    A small parquet file arrives as ONE input partition; exploding it into
    millions of shingle rows and aggregating would then run single-threaded.
    The repartition shuffles only the (small) source rows — cheap insurance
    that is a no-op when the input is already parallel (the 100 TB case).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _distinct_shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    return _parallelize(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), k))).alias("s"),
    )


def _all_shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """Shingles WITHOUT the per-row array_distinct pass — for min-based
    signature builds, where duplicates cannot change a min and the distinct
    costs a measured ~25% of the stage. Jaccard paths (which count) must use
    ``_distinct_shingles``."""
    return _parallelize(df).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(F.col(text_col), k)).alias("s"),
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact near-duplicate pairs by k-word-shingle Jaccard ≥ threshold.

    Pure relational plan: explode→self-join→count. Correct at any scale but
    quadratic in per-shingle document frequency — use as the verifier/oracle;
    ``minhash_lsh_pairs`` is the scale path.
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    # persist: three consumers (per-doc sizes + both self-join sides) would
    # otherwise each re-run the corpus explode+array_distinct; the self-join
    # sides share one exchange, so without the cache the shingling still
    # runs twice. Reclaimed by the context cleaner with the result.
    ds = _distinct_shingles(df, id_col, text_col, k).persist()
    sizes = ds.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = ds.alias("a")
    b = ds.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        inter.join(sa, F.col("id_a") == F.col("sa.id"))
        .join(sb, F.col("id_b") == F.col("sb.id"))
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("sa.sz") + F.col("sb.sz") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def oph_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, num_perm: int = 128
) -> DataFrame:
    """One-permutation-hashing MinHash signature (Li/Owen/Zhang 2012 with
    rotation densification, Shrivastava/Li 2014).

    Classic MinHash evaluates ``num_perm`` permutation hashes per shingle;
    OPH hashes each shingle ONCE, scatters it into ``num_perm`` bins by
    ``h mod num_perm`` and keeps the per-bin min — per-shingle work drops
    from 128 multiply-mods to one hash + one mod (~10× faster signatures
    on real corpora). Empty bins borrow the value of the next filled bin
    (cyclic), so every doc still yields a dense ``num_perm``-long signature
    compatible with the banding in ``minhash_lsh_pairs``.

    Plan: one shuffle keyed (id, bin) with map-side combined mins (at most
    ``num_perm`` rows per doc survive the map side), then a tiny per-doc
    assembly aggregation.
    """
    ds = _all_shingles(df, id_col, text_col, k)
    h = F.pmod(F.xxhash64("s"), F.lit(MERSENNE31))
    binned = ds.select("id", F.pmod(h, F.lit(num_perm)).alias("bin"), h.alias("h"))
    mins = binned.groupBy("id", "bin").agg(F.min("h").alias("m"))
    filled = mins.groupBy("id").agg(
        F.array_sort(F.collect_list(F.struct("bin", "m"))).alias("fb")
    )
    # Densify by SEGMENT EXPANSION, not per-position search: "value of
    # position i = m of the first filled bin ≥ i (wrapping)" means filled bin
    # j covers positions (bin_{j-1}, bin_j] and the tail past the last bin
    # wraps to fb[0]. One array_repeat per filled bin + flatten is O(bins)
    # per doc; the per-position formulation (128 × filter-scan of fb) is
    # O(num_perm·bins) inside a 128-branch expression tree — measured ~10×
    # slower end-to-end on signature builds.
    prev_bin = lambda j: F.coalesce(F.get(F.col("fb"), j - 1)["bin"], F.lit(-1))  # noqa: E731
    segments = F.flatten(
        F.transform(
            F.col("fb"),
            lambda x, j: F.array_repeat(x["m"], (x["bin"] - prev_bin(j)).cast("int")),
        )
    )
    tail = F.array_repeat(
        F.get(F.col("fb"), 0)["m"],
        (F.lit(num_perm - 1) - F.element_at(F.col("fb"), -1)["bin"]).cast("int"),
    )
    return filled.select("id", F.concat(segments, tail).alias("sig"))


def _band_keys(sigs: DataFrame, bands: int, r: int) -> DataFrame:
    """(id, band, bkey) rows: one hashed band key per signature slice."""
    return sigs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.hash(F.slice("sig", i * r + 1, r)).alias("bkey"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bkey")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 128,
    bands: int = 64,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
    prefilter_sigma: float | None = 5.0,
) -> DataFrame:
    """Scalable near-dup pairs: MinHash → LSH banding → candidate bucket join
    → exact-Jaccard verification on candidates only.

    With rows-per-band r = num_perm/bands = 2 and 64 bands, a pair at Jaccard
    0.5 is caught with prob 1−(1−0.25)⁶⁴ ≈ 1−10⁻⁸ — recall is effectively
    exact while candidate volume stays tiny for dissimilar corpora. Returns
    (id_a, id_b, jaccard), id_a < id_b. Buckets larger than
    ``max_bucket_size`` are dropped with a logged warning (see
    _drop_oversized_buckets) — the quadratic-blowup guard for
    boilerplate-heavy corpora.

    Signatures are one-permutation-hashing MinHash (``oph_signatures``),
    and every candidate is verified with exact Jaccard.

    ``prefilter_sigma``: r=2 banding buys its ~exact recall with low
    precision — on a near-dup-rich corpus candidates outnumber true pairs
    ~1000:1, and exact-verifying all of them (shingle-array intersects)
    dominates the runtime. Before the exact step, estimate Jaccard from the
    already-persisted signatures (matching components / num_perm, a
    Binomial(num_perm, s) proportion) and drop candidates whose estimate is
    more than ``prefilter_sigma`` standard deviations BELOW ``threshold``.
    At the default 5σ a true pair at exactly the threshold is lost with
    p ≈ 3e-7 (one-sided normal tail) while candidates at s ≪ threshold —
    the overwhelming majority — are dropped without touching their shingle
    sets. Exact verification (and the shingling it needs) then runs only on
    survivors and only on the documents they mention. ``None`` disables.
    """
    r = num_perm // bands
    # Persist: the band self-join consumes the signature aggregation twice and
    # Catalyst does not reuse the exchange across self-join sides here; without
    # this the (expensive) signature aggregation runs twice. Spark's context
    # cleaner reclaims the block once the result DataFrame is unreachable.
    sigs = oph_signatures(df, id_col, text_col, k, num_perm).persist()
    # Persist the band frame too: the oversized-bucket guard aggregates it
    # once and the self-join reads it twice more — without the cache the
    # 64x band explode re-runs for each consumer (measured ~0.8 s per
    # re-run at sf0.1, 3 runs -> 1). Same storage scale as the persisted
    # signatures (64 small ints vs 128 per doc); reclaimed by the context
    # cleaner with them.
    band_rows = _band_keys(sigs, bands, r).persist()
    band_rows = _drop_oversized_buckets(band_rows, max_bucket_size, "minhash_lsh_pairs")
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    # the band frame is a 64x row explosion of the scan — Catalyst's
    # file-size estimate always says it broadcasts; at sf10 that is a
    # 28M-row hashed relation and a driver OOM. Pin shuffle_hash.
    candidates = (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    docs = _parallelize(df)
    if prefilter_sigma is not None:
        candidates = _estimate_prefilter(
            candidates, sigs, num_perm, threshold, prefilter_sigma
        ).persist()
        # exact verification only needs the documents that survive — a
        # left-semi against the (small) survivor id set keeps the expensive
        # re-shingling off the rest of the corpus
        docs = _restrict_to_candidates(docs, candidates, id_col)
    return _verify_jaccard(candidates, docs, id_col, text_col, k, threshold)


def _estimate_prefilter(
    candidates: DataFrame,
    sigs: DataFrame,
    num_perm: int,
    threshold: float,
    sigma: float,
) -> DataFrame:
    """Drop candidates whose signature-estimated Jaccard (matching components
    / num_perm, a Binomial proportion) is more than ``sigma`` standard
    deviations below ``threshold`` — see the ``prefilter_sigma`` discussion in
    ``minhash_lsh_pairs``."""
    import math  # noqa: PLC0415

    cutoff = max(
        0.0, threshold - sigma * math.sqrt(threshold * (1.0 - threshold) / num_perm)
    )
    # shuffle_hash: both the candidate pairs and the signature frames are
    # expression-derived (Catalyst sizes them from the compact text scan),
    # so an estimate-picked broadcast is a driver OOM waiting for scale —
    # see the neardup_filter_against_index note
    # Signature components are < 2^31-1 by construction (everything is
    # taken mod MERSENNE31), so the attach joins carry them as array<int>
    # — HALF the shuffle bytes of the stored array<bigint>, and the
    # per-component equality compares the identical exact values. The
    # dominant cost here is candidate-volume × 128-long arrays crossing
    # the exchange (near-dup-rich corpora produce ~40x more candidates
    # than docs), not the 1-row-per-doc signature side.
    narrow = F.col("sig").cast("array<int>")
    est = (
        candidates.join(
            sigs.select(F.col("id").alias("id_a"), narrow.alias("sig_a"))
            .hint("shuffle_hash"),
            "id_a",
        )
        .join(
            sigs.select(F.col("id").alias("id_b"), narrow.alias("sig_b"))
            .hint("shuffle_hash"),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.size(
                    F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
                ).cast("double")
                / F.lit(float(num_perm))
            ).alias("est"),
        )
    )
    return est.filter(F.col("est") >= cutoff).select("id_a", "id_b")


def _restrict_to_candidates(
    docs: DataFrame, candidates: DataFrame, id_col: str
) -> DataFrame:
    """Left-semi prune ``docs`` to the ids a candidate pair mentions."""
    surv_ids = (
        candidates.select(F.col("id_a").alias("__vid"))
        .union(candidates.select(F.col("id_b").alias("__vid")))
        .distinct()
    )
    return docs.join(surv_ids, F.col(id_col) == F.col("__vid"), "left_semi")


def _verify_jaccard(
    candidates: DataFrame,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    threshold: float,
) -> DataFrame:
    """Exact k-shingle-Jaccard verification of (id_a, id_b) candidate pairs;
    shingles only the docs present in ``docs`` (pre-pruned by the caller)."""
    shingle_sets = docs.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("sh"),
    )
    sa = shingle_sets.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = shingle_sets.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    # shuffle_hash, not estimate-picked broadcast: the shingle sets are
    # corpus-sized ARRAY frames whose bytes Catalyst sizes from the
    # compact text scan — the broadcast "fits" on paper at any SF and the
    # driver eventually OOMs building it (observed on the sibling
    # cross-corpus filter at sf10; here the same join survived sf10 at
    # ~500 MB hashed relation and dies one decade later)
    # |A ∪ B| = |A| + |B| − |A ∩ B| for the distinct sets, so only the
    # intersection is computed per PAIR; materializing array_union per pair
    # hashed both arrays a second time — this halves the per-pair array
    # work and the double division of the same exact integers is
    # bit-identical.
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        candidates.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                inter.cast("double")
                / (F.size("sh_a") + F.size("sh_b") - inter).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def write_signature_store(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    k: int = 3,
    num_perm: int = 128,
    mode: str = "overwrite",
) -> None:
    """Materialize per-doc MinHash (OPH) signatures to ``path`` as parquet
    ``(id, sig array<bigint>)`` — the persisted index for
    ``incremental_neardup_pairs``.

    Component invariant: every signature component is in [0, 2³¹−1)
    (everything is taken mod MERSENNE31). ``_estimate_prefilter`` relies
    on it to shuffle signatures as ``array<int>``; a store written by any
    other producer must honor it (raw 64-bit hash components would throw
    under ANSI mode — or silently wrap and corrupt estimates without it).

    At 100 TB the full corpus is never re-signatured per ingest batch: the
    store holds one ~1 KB row per document (num_perm longs), three orders of
    magnitude smaller than the corpus, and each batch appends only its own
    signatures (``mode="append"``). Band keys are NOT stored — they are a
    narrow per-row projection (64 hashes of signature slices) recomputed on
    read, which keeps the store format independent of the banding config.
    """
    oph_signatures(df, id_col, text_col, k, num_perm).write.mode(mode).parquet(path)


def incremental_neardup_pairs(
    spark,
    store_path: str,
    new_docs: DataFrame,
    docs_lookup: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 128,
    bands: int = 64,
    threshold: float = 0.5,
    max_bucket_size: int | None = 1000,
    prefilter_sigma: float | None = 5.0,
    update_store: bool = True,
    new_sigs: DataFrame | None = None,
    old_sigs: DataFrame | None = None,
    batch_token=None,
    committer=None,
) -> DataFrame:
    """Batch-incremental near-dup detection against a persisted signature
    store: signatures are computed for ``new_docs`` ONLY, and the returned
    pairs are exactly the ``minhash_lsh_pairs`` pairs that involve at least
    one new document (verified with exact shingle Jaccard, id_a < id_b).

    This is the 100 TB ingest path: per-batch cost is O(batch) signature
    work + one band-key join of the batch against the store — not the O(corpus)
    re-signature a full re-run pays. ``docs_lookup`` supplies text for exact
    verification; it is left-semi pruned to the handful of ids the surviving
    candidates mention, so at scale it is a point-lookup-shaped scan of the
    corpus, not a full read. With ``update_store`` the batch signatures are
    appended so the next batch sees them.

    Recall is identical to the full run's: the same (bands × rows) banding is
    applied to the union of stored + new signatures, and a pair involving a
    new doc collides in exactly the same buckets either way. Bucket-size
    capping is likewise computed on the UNION so a boilerplate bucket that
    would be dropped by the full run is also dropped here.

    ``new_sigs``/``old_sigs`` let a caller that manages signatures itself
    (e.g. the streaming wrapper, which writes batch-id-addressed store files
    for exactly-once retries) inject them: ``new_sigs`` skips the batch
    signature computation, ``old_sigs`` replaces the store read entirely.
    Contract: every supplied signature component must be in [0, 2³¹−1) —
    the invariant every signature produced by this module holds (mod
    MERSENNE31) and that :func:`write_signature_store` documents for its
    stored format. The σ-prefilter shuffles signatures as ``array<int>``
    on the strength of it; out-of-range components raise under ANSI mode
    instead of silently producing wrong estimates.

    ``batch_token`` makes the store update itself exactly-once under
    at-least-once retries (see :mod:`.statestore`): the append is addressed
    to ``<store>/batch_id=<token>`` with overwrite (a replay replaces its
    own partial attempt), and the default store read excludes that token's
    files (a replay never sees its first attempt's signatures as "old").
    Without a token the store read is still pinned to the pre-write file
    list, but a crashed-and-retried append can leave duplicate signature
    rows (harmless for pair output — banding is per-id — but unbounded
    retries grow the store; pass a token when the caller retries).

    ``committer`` (object-store deployments): the store read resolves its
    compacted base through the manifest pointer plus ``batch_id=*``
    appends; a versioned committer requires ``batch_token`` when
    ``update_store`` (plain appends would scatter flat files into the
    versioned layout).
    """
    if (
        committer is not None
        and committer.versioned
        and update_store
        and batch_token is None
    ):
        raise ValueError(
            "a versioned committer requires batch_token for store updates"
        )
    r = num_perm // bands
    if new_sigs is None:
        new_sigs = oph_signatures(new_docs, id_col, text_col, k, num_perm)
    new_sigs = new_sigs.persist()
    if old_sigs is None:
        # Pin the PRE-batch store to its explicit file list: the returned
        # DataFrame executes lazily, possibly after ``update_store`` has
        # appended this batch's signatures — a plain directory read
        # re-resolved at that point would see the new files and double-count
        # every new id. With a batch_token, additionally exclude this
        # batch's own subdirectory so a replay ignores its crashed attempt.
        from .statestore import read_store  # noqa: PLC0415

        old = read_store(
            spark, store_path, exclude_token=batch_token, committer=committer
        )
        old_sigs = old.select("id", "sig") if old is not None else None
    all_sigs = (
        old_sigs.unionByName(new_sigs) if old_sigs is not None else new_sigs
    )
    all_sigs = all_sigs.persist()
    new_bands = _band_keys(new_sigs, bands, r).persist()
    all_bands = _band_keys(all_sigs, bands, r)
    # O(batch) SHUFFLE invariant: restrict the store side to the buckets the
    # batch actually touches BEFORE any aggregation or join. The batch's
    # (band, bkey) set is batch-sized → broadcast left-semi, so the store's
    # band rows are filtered in their scan stage and never shuffled at
    # corpus scale. Bucket membership of a touched bucket is retained in
    # full, so the oversized-bucket counts (and therefore the output) are
    # identical to the unrestricted computation — untouched buckets can
    # produce no batch candidates either way.
    touched = new_bands.select("band", "bkey").distinct()
    all_bands = all_bands.join(F.broadcast(touched), ["band", "bkey"], "left_semi")
    all_bands = _drop_oversized_buckets(
        all_bands, max_bucket_size, "incremental_neardup_pairs"
    )
    n = new_bands.alias("n")
    o = all_bands.alias("o")
    # new × all join: every pair with ≥1 new member collides here; normalize
    # the orientation (least/greatest) because new-new pairs arrive in both
    # orders and new-old pairs in whichever order the ids happen to compare.
    candidates = (
        F.broadcast(n).join(
            o,
            (F.col("n.band") == F.col("o.band"))
            & (F.col("n.bkey") == F.col("o.bkey"))
            & (F.col("n.id") != F.col("o.id")),
        )
        .select(
            F.least(F.col("n.id"), F.col("o.id")).alias("id_a"),
            F.greatest(F.col("n.id"), F.col("o.id")).alias("id_b"),
        )
        .distinct()
    )
    if prefilter_sigma is not None:
        candidates = _estimate_prefilter(
            candidates, all_sigs, num_perm, threshold, prefilter_sigma
        ).persist()
    docs = _restrict_to_candidates(_parallelize(docs_lookup), candidates, id_col)
    verified = _verify_jaccard(candidates, docs, id_col, text_col, k, threshold)
    if update_store:
        if batch_token is not None:
            from .statestore import write_store_batch  # noqa: PLC0415

            write_store_batch(
                new_sigs,
                store_path,
                batch_token,
                fs=committer.fs
                if committer is not None and committer.versioned
                else None,
            )
        else:
            mode = "append" if old_sigs is not None else "overwrite"
            new_sigs.write.mode(mode).parquet(store_path)
    return verified


def _edge_sig_cols() -> list:
    """The two aggregates behind the star-CC fixpoint signature:
    (count, order-insensitive checksum) of a distinct (hi, lo) edge
    frame. Both frames compared by the fixpoint are distinct sets, so
    equal sigs <=> equal sets up to a 2^-64 xxhash64 collision —
    property-tested equivalent to the ``exceptAll``-based comparison
    this replaced, which cost a full extra shuffle per round.
    decimal(38,0) sum: exact and overflow-free under ANSI mode for any
    feasible edge count."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("hi", "lo").cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).alias("x"),
    ]


def _edge_sig(df: DataFrame) -> tuple:
    """Direct-aggregation form of the fixpoint signature (one job)."""
    row = df.agg(*_edge_sig_cols()).first()
    return (row["n"], row["x"])


def _checkpoint_with_sig(df: DataFrame) -> tuple[DataFrame, tuple]:
    """Eagerly localCheckpoint ``df`` and return (frame, fixpoint sig),
    riding the signature aggregates on the checkpoint job itself via
    ``observe()`` — the former separate ``agg().first()`` was one more
    full-frame driver job per CC round on top of the materialization the
    checkpoint already paid. Falls back to the direct aggregate when the
    observed subtree was optimized away (``observed_row``)."""
    from pyspark.sql import Observation  # noqa: PLC0415

    obs = Observation()
    out = df.observe(obs, *_edge_sig_cols()).localCheckpoint(eager=True)
    row = observed_row(obs, lambda: out.agg(*_edge_sig_cols()).first())
    n, x = row["n"], row["x"]
    if x is None:  # observe skips the coalesce when no rows flowed
        x = _edge_sig(out)[1]
    return out, (n, x)


def _cc_star(edges: DataFrame, nodes: DataFrame, max_iters: int) -> DataFrame:
    """Alternating large-star / small-star connected components (Kiveris
    et al. 2014, "Connected Components in MapReduce and Beyond"): each
    round hangs every node directly off its neighborhood minimum, so a
    giant component collapses in O(log²) rounds instead of O(diameter) —
    the web-scale regime where one boilerplate cluster holds 20%+ of the
    corpus (the measured dedup_survivors skew hotspot).

    Both half-steps are expressed as groupBy-min + co-partitioned join —
    never a per-node neighbor collect, so the giant star's edges stay
    spread across partitions; the min aggregation is map-side combined.

    ``edges``: distinct, self-loop-free, single orientation. ``nodes``:
    every id that must appear in the output. Returns (id, component).
    """
    # canonical (hi, lo) orientation; localCheckpoint truncates lineage
    # (the fixpoint signature rides each checkpoint job via observe())
    e, sig = _checkpoint_with_sig(
        edges.select(
            F.greatest("src", "dst").alias("hi"), F.least("src", "dst").alias("lo")
        ).distinct()
    )
    for _ in range(max_iters):
        # -- large-star: for every node u, connect each STRICTLY LARGER
        # neighbor v to min(N(u) ∪ {u}); u<->v edges where v < u are
        # handled from v's side of the bidirectional view
        b = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mn = (
            b.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", F.col("u")).alias("m"))
        )
        # el keeps its own eager checkpoint: removing it (AQE exchange
        # reuse covers the two consumers) was A/B'd and measured NEUTRAL
        # at sf0.1 — kept for the bounded-plan robustness.
        el = (
            b.join(mn, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # -- small-star: group by the larger endpoint, hang it and all its
        # smaller neighbors off the overall minimum
        mn2 = el.groupBy("hi").agg(F.min("lo").alias("m"))
        # fixed point of the FULL round (the paper's criterion: a state a
        # whole large+small cycle leaves unchanged is a star forest —
        # comparing against the post-large-star set alone could accept a
        # non-star small-star fixpoint like a descending chain); the sig
        # fills during the checkpoint materialization itself
        new_e, new_sig = _checkpoint_with_sig(
            el.join(mn2, "hi")
            .filter(F.col("lo") != F.col("m"))
            .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            .unionByName(mn2.select(F.col("hi"), F.col("m").alias("lo")))
            .distinct()
        )
        if new_sig == sig:
            e = new_e
            break
        e, sig = new_e, new_sig
    # converged: e is a star graph (x -> component min for every non-root)
    labels = e.select(F.col("hi").alias("id"), F.col("lo").alias("comp"))
    return (
        nodes.join(labels, "id", "left")
        .select("id", F.coalesce("comp", "id").alias("component"))
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Near-dup CLUSTERS from a pair list: (id, component) where component =
    the minimum id reachable through the pair graph.

    Deduplication needs groups, not pairs — "keep one representative per
    cluster" requires the transitive closure of the pairwise matches.

    Alternating large-star/small-star rounds (Kiveris et al. 2014,
    ``_cc_star``): O(log² n) rounds independent of component diameter, so
    one giant component (web-scale boilerplate) cannot drive the round
    count up the way min-label propagation's O(diameter) rounds would.
    """
    # materialize the pair list ONCE: upstream pair generation (LSH /
    # Jaccard joins) is expensive, and both the edge set and the node
    # set derive from it — without this the final nodes-join would
    # silently re-run the whole pair pipeline
    e0 = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).localCheckpoint(eager=True)
    nodes = (
        e0.select(F.col("src").alias("id"))
        .unionByName(e0.select(F.col("dst").alias("id")))
        .distinct()
    )
    return _cc_star(e0.filter(F.col("src") != F.col("dst")), nodes, max_iters)


def dedup_survivors(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The end-to-end dedup pipeline's output: the corpus with every
    non-representative near-duplicate removed (each cluster keeps its
    minimum-id member).

    Composes any pair source (exact Jaccard, MinHash+LSH, SimHash) with
    :func:`connected_components`; the drop set is one left-anti join keyed
    on id. The drop list is proportional to the duplicate count, not the
    corpus — at 100 TB the anti-join's build side stays small.
    """
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


SIMHASH_BITS = 48
SIMHASH_BANDS = 4


def simhash(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, portable: bool = False
) -> DataFrame:
    """48-bit SimHash per document from distinct k-word-shingle hash bit
    votes. Shingle features (not unigrams): on corpora with small vocabularies
    every document shares most unigrams, which collapses all signatures
    together; k-grams keep features document-specific.

    ``portable=True`` swaps the feature hash from xxhash64 (fastest, JVM
    codegen) to the first 48 bits of md5 — slightly slower but reproducible
    by any engine with md5, which makes the whole operator oracle-checkable
    across engines. Both are codegen expressions; the plan is identical.

    Plan: explode distinct shingles → one groupBy(id) computing 48 conditional
    sums (single shuffle, map-side combined) → assemble the signature.
    """
    feature_hash = (
        F.conv(F.substring(F.md5("t"), 1, 12), 16, 10).cast("long")
        if portable
        else F.xxhash64("t")
    )
    tok = _parallelize(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), k))).alias("t"),
    ).withColumn("h", feature_hash)
    # Bit-extract vote (r13): sum the raw bit (0/1) per position plus one
    # shared shingle count, instead of 48 branching ±1 conditionals per
    # row. The ±1 vote is v = 2·c − n (c ones among n shingles), so
    # "v > 0" is exactly "2c > n" — bit-identical signatures, ~half the
    # per-row aggregation expression work.
    votes = tok.groupBy("id").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.shiftright(F.col("h"), bit).bitwiseAND(F.lit(1))).alias(f"c{bit}")
            for bit in range(SIMHASH_BITS)
        ],
    )
    sig = None
    for bit in range(SIMHASH_BITS):
        term = F.when(
            F.col(f"c{bit}") * F.lit(2) > F.col("__n"), F.lit(1 << bit)
        ).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select("id", sig.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    portable: bool = False,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) ≤ max_hamming.

    Candidates come from exact equality on any of 4 12-bit bands (pigeonhole:
    Hamming ≤ 3 ⇒ at least one of 4 bands intact), then the exact popcount of
    the XOR filters. Band join keeps this linear-ish at scale; buckets above
    ``max_bucket_size`` are dropped with a logged warning.
    """
    # persist: the band self-join reads the signature aggregation twice
    # (same non-reuse as minhash_lsh_pairs)
    sigs = simhash(df, id_col, text_col, portable=portable).persist()
    band_width = SIMHASH_BITS // SIMHASH_BANDS
    banded = sigs.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("simhash"), i * band_width)
                        .bitwiseAND(F.lit((1 << band_width) - 1))
                        .alias("bkey"),
                    )
                    for i in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.bkey")
    banded = _drop_oversized_buckets(banded, max_bucket_size, "simhash_pairs")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        # filter BEFORE distinct: hamming is deterministic per pair, and most
        # band-collision candidates fail the cut — dropping them first keeps
        # the distinct's shuffle to the (small) true-near-dup volume instead
        # of up to 4 rows per candidate pair
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    iters: int = 2,
    threshold: float = 0.5,
    seeding: str = "id",
    max_cluster_size: int | None = 5000,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs over an embedding column.

    Partition the corpus with the deterministic coarse quantizer
    (``similarity.kmeans_lite``), then compare vectors **only within their
    cluster** — cosine ≥ ``threshold`` marks the higher-id vector as a
    duplicate of the lowest-id match. Returns one row per duplicate:
    (id_keep, id_dup, cid, cos_sim).

    Scale: the cluster self-join replaces the quadratic all-pairs scan with
    k independent blocks — choose k ≈ N / target_cluster_size so each block's
    pair count stays bounded; assignment itself is shuffle-free (argmin over
    broadcast centroid literals). With only k distinct join keys the shuffle
    is inherently skewed — AQE skew-join splitting handles block imbalance,
    and raising k is the structural fix.

    ``max_cluster_size`` is the pair-budget backstop (same capped-with-
    logging discipline as the LSH bucket cap): one hot cluster of b docs
    still means b²/2 cosine evaluations no matter how AQE splits the
    shuffle. For clusters above the cap, the keep-side of the self-join is
    restricted to the cluster's ``max_cluster_size`` LOWEST-id members, so
    the block's pair count is bounded by cap·b instead of b²/2 — and
    because survivors keep the lowest-id representative anyway, a dup whose
    match is a low-id member is still caught; only dup pairs BOTH outside
    the head are lost, and the cap event is logged, never silent. Clusters
    at or under the cap are computed exactly (the normal-corpus output is
    bit-identical to ``max_cluster_size=None``).

    Fully deterministic (both seeding modes + quantized-exact Lloyd updates +
    sequential cosine folds), so an external engine can replay it exactly.
    ``seeding="farthest"`` (k-means++-style) is the robust choice when id
    order correlates with the embedding space; "id" is cheapest.
    """
    from .similarity import cosine, kmeans_lite  # noqa: PLC0415 (cycle-free lazy import)

    _, assigned = kmeans_lite(df, id_col, vec_col, k=k, iters=iters, seeding=seeding)
    # join the vectors back (the assignment df carries only (id, cid));
    # persist so the self-join's two branches don't re-run the argmin scan
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    assigned = assigned.join(vecs, "id").persist()
    keep_side = assigned
    if max_cluster_size is not None:
        oversized = (
            assigned.groupBy("cid")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_cluster_size)
            .persist()
        )
        # count + max in one driver action (see _drop_oversized_buckets)
        stats = oversized.agg(
            F.count(F.lit(1)).alias("n_over"), F.max("n").alias("biggest")
        ).first()
        n_over, biggest = stats["n_over"], stats["biggest"]
        if n_over:
            logger.warning(
                "semantic_dedup_pairs: %d cluster(s) exceed max_cluster_size="
                "%d (largest: %d); keep-side anchored to each one's %d "
                "lowest-id members — dup pairs entirely outside that head "
                "are lost. Raise k to shrink clusters structurally.",
                n_over, max_cluster_size, biggest, max_cluster_size,
            )
            # rank members by id within each cluster; the filter is a no-op
            # for every cluster at or under the cap (all ranks <= cap), so
            # only oversized clusters lose keep-side members
            rank_w = Window.partitionBy("cid").orderBy(F.col("id").asc())
            keep_side = (
                assigned.withColumn("__rk", F.row_number().over(rank_w))
                .filter(F.col("__rk") <= max_cluster_size)
                .drop("__rk")
            )
        else:
            oversized.unpersist()
    a = keep_side.select(F.col("id").alias("id_keep"), F.col("v").alias("va"), "cid")
    b = assigned.select(F.col("id").alias("id_dup"), F.col("v").alias("vb"), "cid")
    scored = (
        a.join(b, "cid")
        .filter(F.col("id_keep") < F.col("id_dup"))
        .select(
            "cid",
            "id_keep",
            "id_dup",
            cosine(F.col("va"), F.col("vb")).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= F.lit(threshold))
    )
    w = Window.partitionBy("id_dup").orderBy(F.col("id_keep").asc())
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
        .select("id_keep", "id_dup", "cid", "cos_sim")
    )


def build_lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 128,
    bands: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Materialize the reusable half of an LSH near-dup join: the corpus's
    band keys and shingle sets, both persisted. Build once, filter many
    arriving batches against it — the stream-vs-static idiom from
    streaming/dedup_stream.py (a stream-stream self-join would hold
    quadratic state; the index refresh is a periodic batch job).

    Returns (band_rows (id, band, bkey), shingle_sets (id, sh)).
    """
    r = num_perm // bands
    sigs = oph_signatures(df, id_col, text_col, k, num_perm)
    band_rows = _band_keys(sigs, bands, r).persist()
    shingle_sets = (
        _parallelize(df)
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(word_shingles(F.col(text_col), k)).alias("sh"),
        )
        .persist()
    )
    return band_rows, shingle_sets


def neardup_filter_against_index(
    incoming: DataFrame,
    index_bands: DataFrame,
    index_shingles: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 128,
    bands: int = 64,
    threshold: float = 0.5,
) -> DataFrame:
    """Drop arriving documents that are near-duplicates (Jaccard ≥ threshold)
    of anything in a pre-built LSH index; returns the surviving rows of
    ``incoming`` unchanged.

    Candidates come from band-key collisions against the index (sub-linear:
    only colliding pairs are scored), then exact Jaccard verifies — so the
    decision matches a full cross-corpus comparison with banding-recall
    ≈ 1 − 10⁻⁸ at the default r=2/64-band shape. The incoming batch is
    typically small vs the index: its band keys broadcast, the index never
    reshuffles.
    """
    r = num_perm // bands
    inc_sigs = oph_signatures(incoming, id_col, text_col, k, num_perm)
    inc_bands = _band_keys(inc_sigs, bands, r)
    # Join-strategy hints, not estimates: every frame here is EXPRESSION-
    # DERIVED from a compact scan (band keys are a 64x row explosion,
    # shingle sets are text-sized arrays), and Catalyst sizes them from
    # the scan's file size — at 100x data it still "fits" the broadcast
    # threshold on paper and the driver OOMs building a 28M-row hashed
    # relation (observed at sf10). shuffle_hash keeps every join a
    # co-partitioned hash join whatever the estimate says.
    cand = (
        inc_bands.alias("n")
        .hint("shuffle_hash")
        .join(
            index_bands.alias("x"),
            (F.col("n.band") == F.col("x.band")) & (F.col("n.bkey") == F.col("x.bkey")),
        )
        .select(F.col("n.id").alias("inc_id"), F.col("x.id").alias("idx_id"))
        .distinct()
    )
    inc_sh = (
        _parallelize(incoming)
        .select(
            F.col(id_col).alias("inc_id"),
            F.array_distinct(word_shingles(F.col(text_col), k)).alias("sh_n"),
        )
    )
    dup_ids = (
        cand.hint("shuffle_hash").join(inc_sh, "inc_id")
        .join(
            index_shingles.select(
                F.col("id").alias("idx_id"), F.col("sh").alias("sh_x")
            ).hint("shuffle_hash"),
            "idx_id",
        )
        .select(
            "inc_id",
            # |A ∪ B| by size arithmetic over the distinct sets — same
            # per-pair halving as _verify_jaccard, bit-identical values
            (
                F.size(F.array_intersect("sh_n", "sh_x")).cast("double")
                / (
                    F.size("sh_n") + F.size("sh_x")
                    - F.size(F.array_intersect("sh_n", "sh_x"))
                ).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("inc_id")
        .distinct()
    )
    return incoming.join(
        dup_ids.withColumnRenamed("inc_id", id_col), id_col, "left_anti"
    )
