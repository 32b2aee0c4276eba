"""DuckDB oracle SQL, one entry per plans.analytics.QUERIES key.

Each statement is the *semantic* mirror of its Spark plan with identical
arithmetic shape (decimal-cast sums, left-associative double folds, floor
before bigint casts, epoch-millis timestamps), so order-insensitive value
hashes match bit-for-bit. The sketch operators are oracled by *simulating the
sketch itself*: ``dedup_simhash`` uses a portable md5-derived feature hash
both engines compute identically; ``ann_lsh_topk`` inlines the fixed
hyperplanes as literals and re-derives every bucket; ``ann_ivf_topk`` replays
the deterministic k-means (hash-spread seeding + quantized-exact Lloyd
updates) in SQL. Double folds use ``list_reduce(list_prepend(0.0, …))`` —
verified bit-identical to Spark's ``aggregate(…, 0.0, acc+x)`` left fold.
"""

from __future__ import annotations

from ..functions.similarity import _fixed_planes
from ..functions.text import gopher_repetition_sql
from ..functions.tokenize import bpe_count_sql, bpe_tokens_sql, bpe_train_sql

DIM = 64

# mirror of functions.tokenize.bpe_token_count over the documents text —
# generated from the SAME merges table, so the engines cannot drift
_BPE = bpe_count_sql("text")


def _fold(terms_expr: str) -> str:
    """Left fold with 0.0 init — matches Spark's F.aggregate(lit(0.0), +)."""
    return f"list_reduce(list_prepend(0.0, {terms_expr}), (acc, x) -> acc + x)"


def _dotv(a: str, b: str) -> str:
    """Dot product of two DOUBLE[] expressions, sequential accumulation."""
    return _fold(f"list_transform(range(1, {DIM + 1}), i -> {a}[i] * {b}[i])")


def _sqdist(a: str, b: str) -> str:
    return _fold(
        f"list_transform(range(1, {DIM + 1}), i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))"
    )


def _cosv(a: str, b: str) -> str:
    return f"{_dotv(a, b)} / (sqrt({_dotv(a, a)}) * sqrt({_dotv(b, b)}))"

_W = "string_split(text, ' ')"

_EN_STOPS = "('the','a','of','and','to','in','is')"
_DE_STOPS = "('der','die','das','und','ist')"
_FR_STOPS = "('le','la','les','et','est')"


def _stop_ratio(stops: str) -> str:
    return (
        f"CAST(len(list_filter({_W}, x -> x IN {stops})) AS DOUBLE)"
        f" / CAST(len({_W}) AS DOUBLE)"
    )


def _dot(a: str, b: str) -> str:
    return " + ".join(
        f"CAST({a}.embedding[{i}] AS DOUBLE)*CAST({b}.embedding[{i}] AS DOUBLE)"
        for i in range(1, DIM + 1)
    )


def _dotn(a: str, b: str, n: int) -> str:
    """Like _dot but over the first ``n`` dims (matryoshka coarse pass)."""
    return " + ".join(
        f"CAST({a}.embedding[{i}] AS DOUBLE)*CAST({b}.embedding[{i}] AS DOUBLE)"
        for i in range(1, n + 1)
    )


def _pagerank_sql(iters: int = 3, damping: int = 85, scale: int = 10**12) -> str:
    """Unrolled fixed-point integer PageRank over the bipartite trade
    graph — the exact arithmetic of functions.graph.pagerank (integer
    divisions, exact bigint sums), one s_k/r_k CTE pair per iteration."""
    parts = [
        f"""
        WITH pairs AS (
          SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        ),
        edges AS (
          SELECT c AS src, s AS dst FROM pairs
          UNION ALL
          SELECT s AS src, c AS dst FROM pairs
        ),
        outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
        nn AS (SELECT count(*) AS n FROM outdeg),
        r0 AS (
          SELECT src AS node, od,
                 CAST({scale} // n AS BIGINT) AS r,
                 CAST(({100 - damping} * ({scale} // n)) // 100 AS BIGINT) AS tp
          FROM outdeg, nn
        )"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
        s{k} AS (
          SELECT e.dst AS node, CAST(sum(r.r // r.od) AS BIGINT) AS s
          FROM edges e JOIN r{k - 1} r ON e.src = r.node GROUP BY e.dst
        ),
        r{k} AS (
          SELECT p.node, p.od, p.tp,
                 CAST(p.tp + ({damping} * coalesce(s{k}.s, 0)) // 100 AS BIGINT)
                   AS r
          FROM r{k - 1} p LEFT JOIN s{k} ON p.node = s{k}.node
        )"""
        )
    parts.append(
        f"\n        SELECT node AS node_id, r AS rank_e12 FROM r{iters}"
    )
    return "".join(parts)


def _pagerank_converged_sql(
    max_iters: int, tol_e12: int, damping: int = 85, scale: int = 10**12
) -> str:
    """Convergence-mode mirror of _pagerank_sql: unroll ``max_iters``
    iterations PLUS the exact integer L1 delta d_k = Σ|r_k − r_{k-1}|
    after each, then emit the ranks of the FIRST iteration whose delta is
    ≤ tol_e12 (else the cap) — the identical stopping rule
    functions.graph.pagerank applies with ``tol_e12`` set."""
    parts = [
        f"""
        WITH pairs AS MATERIALIZED (
          SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        ),
        edges AS MATERIALIZED (
          SELECT c AS src, s AS dst FROM pairs
          UNION ALL
          SELECT s AS src, c AS dst FROM pairs
        ),
        outdeg AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
        nn AS (SELECT count(*) AS n FROM outdeg),
        r0 AS (
          SELECT src AS node, od,
                 CAST({scale} // n AS BIGINT) AS r,
                 CAST(({100 - damping} * ({scale} // n)) // 100 AS BIGINT) AS tp
          FROM outdeg, nn
        )"""
    ]
    for k in range(1, max_iters + 1):
        # every r_k MATERIALIZED: each is referenced three times (s_{k+1},
        # r_{k+1}, d_{k+1}/d_k) and inlining would blow the plan up 3^k
        parts.append(
            f""",
        s{k} AS (
          SELECT e.dst AS node, CAST(sum(r.r // r.od) AS BIGINT) AS s
          FROM edges e JOIN r{k - 1} r ON e.src = r.node GROUP BY e.dst
        ),
        r{k} AS MATERIALIZED (
          SELECT p.node, p.od, p.tp,
                 CAST(p.tp + ({damping} * coalesce(s{k}.s, 0)) // 100 AS BIGINT)
                   AS r
          FROM r{k - 1} p LEFT JOIN s{k} ON p.node = s{k}.node
        ),
        d{k} AS (
          SELECT CAST(sum(abs(a.r - b.r)) AS BIGINT) AS d
          FROM r{k} a JOIN r{k - 1} b USING (node)
        )"""
        )
    all_r = "\n          UNION ALL ".join(
        f"SELECT {k} AS it, node, r FROM r{k}" for k in range(1, max_iters + 1)
    )
    all_d = "\n          UNION ALL ".join(
        f"SELECT {k} AS it, d FROM d{k}" for k in range(1, max_iters + 1)
    )
    parts.append(
        f""",
        all_r AS (
          {all_r}
        ),
        all_d AS (
          {all_d}
        ),
        stop AS (
          SELECT COALESCE(MIN(it), {max_iters}) AS it
          FROM all_d WHERE d <= {tol_e12}
        )
        SELECT node AS node_id, r AS rank_e12,
               CAST((SELECT it FROM stop) AS BIGINT) AS n_iters
        FROM all_r WHERE it = (SELECT it FROM stop)"""
    )
    return "".join(parts)


#: the quality heuristic as one scalar expression (0.5·stopword_ratio
#: + 0.3·min(avg_word_len/8, 1) + 0.2·min(n_tokens/200, 1)) — the single
#: copy shared by the text_quality, corpus_curation, curate_incremental,
#: and quality_calibration oracles, so the formula cannot drift apart
_QUALITY_EXPR = (
    f"0.5 * ({_stop_ratio(_EN_STOPS)}) "
    f"+ 0.3 * least((CAST(list_sum(list_transform({_W}, t -> length(t)))"
    f" AS DOUBLE) / CAST(len({_W}) AS DOUBLE)) / 8.0, 1.0) "
    f"+ 0.2 * least(CAST(len({_W}) AS DOUBLE) / 200.0, 1.0)"
)


def _shingles_sql(k: int) -> str:
    """k-word shingle list, mirroring functions.text.word_shingles (short
    docs yield [text])."""
    concat = " || ' ' || ".join(f"{_W}[i + {j}]" if j else f"{_W}[i]" for j in range(k))
    return (
        f"CASE WHEN len({_W}) >= {k} THEN "
        f"list_transform(range(1, len({_W}) - {k - 2}), i -> {concat}) "
        f"ELSE [text] END"
    )


_SHINGLES2 = _shingles_sql(2)
_SHINGLES3 = _shingles_sql(3)
_SHINGLES5 = _shingles_sql(5)

_JACCARD_PAIRS = f"""
WITH ds AS (
  SELECT doc_id, unnest(list_distinct({_SHINGLES3})) AS s FROM documents
),
sz AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
FROM inter
JOIN sz sa ON id_a = sa.doc_id
JOIN sz sb ON id_b = sb.doc_id
WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.5
"""

def _simhash_oracle(max_hamming: int = 3) -> str:
    """Full SimHash simulation (functions/dedup.py simhash/simhash_pairs with
    portable=True): md5-derived 48-bit feature hash → bit votes → 4×12-bit
    band candidates → exact Hamming filter."""
    h = "CAST(('0x' || substr(md5(t), 1, 12)) AS BIGINT)"
    votes = ",\n                 ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(48)
    )
    sig = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(48)
    )
    return f"""
        WITH tok AS (
          SELECT doc_id AS id, unnest(list_distinct({_SHINGLES3})) AS t FROM documents
        ),
        hs AS (SELECT id, {h} AS h FROM tok),
        votes AS (SELECT id,
                 {votes}
          FROM hs GROUP BY id),
        sigs AS (SELECT id, CAST({sig} AS BIGINT) AS simhash FROM votes),
        banded AS (
          SELECT id, simhash, band, (simhash >> (band * 12)) & 4095 AS bkey
          FROM sigs, range(0, 4) tb(band)
        )
        SELECT id_a, id_b, hamming FROM (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
          FROM banded a JOIN banded b
            ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id
        ) WHERE hamming <= {max_hamming}
    """


def _lsh_ann_oracle(n_tables: int = 8, n_planes: int = 6, k: int = 5) -> str:
    """Full hyperplane-LSH simulation (functions/similarity.py lsh_ann_topk):
    the fixed pseudo-random planes are inlined as DOUBLE[] literals, buckets
    re-derived per table, union of same-bucket candidates exactly re-scored."""
    tables = [_fixed_planes(DIM, n_planes, seed=7 + 13 * t) for t in range(n_tables)]

    def dlist(p: list[float]) -> str:
        return "([" + ", ".join(repr(float(x)) for x in p) + "]::DOUBLE[])"

    sig_cols = []
    for t, planes in enumerate(tables):
        bits = " + ".join(
            f"(CASE WHEN {_dotv('v', dlist(p))} >= 0 THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        )
        sig_cols.append(f"({bits}) AS b{t}")
    sig_select = ",\n          ".join(sig_cols)
    bcols = ", ".join(f"b{t}" for t in range(n_tables))
    or_cond = " OR ".join(f"q.b{t} = s.b{t}" for t in range(n_tables))
    return f"""
        WITH e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),
        sigs AS (SELECT vec_id, v,
          {sig_select}
          FROM e),
        q AS (SELECT vec_id AS query_id, v AS qv, {bcols} FROM sigs WHERE vec_id < 8),
        cand AS (
          SELECT DISTINCT q.query_id, s.vec_id AS neighbor_id
          FROM q JOIN sigs s ON s.vec_id <> q.query_id AND ({or_cond})
        ),
        scored AS (
          SELECT c.query_id, c.neighbor_id, {_cosv('qv', 'nv')} AS cos_sim
          FROM cand c
          JOIN q ON q.query_id = c.query_id
          JOIN (SELECT vec_id, v AS nv FROM e) n ON n.vec_id = c.neighbor_id
        )
        SELECT query_id, neighbor_id, cos_sim, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def _kmeans_ctes(nlist: int, iters: int, train_where: str | None = None) -> str:
    """WITH-body prefix replaying kmeans_lite (default "id" seeding):
    lowest-id seeds, ``iters`` quantized-exact Lloyd rounds. Defines
    ``e`` (vec_id, v), ``cl{iters}`` (centroid lists) and ``afin``
    (final assignment: vec_id, v, cid). Every float fold is sequential and
    every centroid update integer-exact, so assignments match Spark's
    bit-for-bit. Shared by the IVF-ANN and semantic-dedup oracles.

    ``train_where`` restricts the TRAINING corpus (seeds + Lloyd rounds) to a
    subset while ``afin`` still assigns every vector — the replay of
    ``build_ivf_index(base)`` + ``ivf_index_upsert(batch)``."""
    src = "e" if train_where is None else "et"
    et_sql = "" if train_where is None else f"""
        et AS (SELECT * FROM e WHERE {train_where}),"""
    q12 = "1000000000000.0"
    seeds_sql = f"""seeds AS (
          SELECT rn - 1 AS cid, v FROM (
            SELECT row_number() OVER (ORDER BY vec_id ASC) AS rn, v FROM {src}
          ) WHERE rn <= {nlist}
        )"""
    rounds = []
    for r in range(1, iters + 1):
        rounds.append(f"""
        a{r - 1} AS (
          SELECT vec_id, v, cid FROM (
            SELECT {src}.vec_id, {src}.v, c.cid,
                   row_number() OVER (PARTITION BY {src}.vec_id
                     ORDER BY {_sqdist(f'{src}.v', 'c.cl')} ASC, c.cid ASC) AS rn
            FROM {src} CROSS JOIN cl{r - 1} c
          ) WHERE rn = 1
        ),
        u{r} AS (
          SELECT cid, i AS dim_idx,
                 CAST(SUM(CAST(floor(v[i + 1] * {q12}) AS BIGINT)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) / {q12} AS c
          FROM a{r - 1}, range(0, {DIM}) tu{r}(i) GROUP BY cid, i
        ),
        cent{r} AS (
          SELECT c.cid, c.dim_idx, COALESCE(u.c, c.c) AS c
          FROM cent{r - 1} c LEFT JOIN u{r} u USING (cid, dim_idx)
        ),
        cl{r} AS (SELECT cid, list(c ORDER BY dim_idx) AS cl FROM cent{r} GROUP BY cid)""")
    rounds_sql = ",".join(rounds)
    return f"""e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        ),{et_sql}
        {seeds_sql},
        cent0 AS (SELECT cid, i AS dim_idx, v[i + 1] AS c FROM seeds, range(0, {DIM}) td(i)),
        cl0 AS (SELECT cid, list(c ORDER BY dim_idx) AS cl FROM cent0 GROUP BY cid),{rounds_sql},
        afin AS (
          SELECT vec_id, v, cid FROM (
            SELECT e.vec_id, e.v, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY {_sqdist('e.v', 'c.cl')} ASC, c.cid ASC) AS rn
            FROM e CROSS JOIN cl{iters} c
          ) WHERE rn = 1
        )"""


def _semantic_dedup_oracle(
    nlist: int = 16, iters: int = 2, threshold: float = 0.3
) -> str:
    """Replay of functions/dedup.py semantic_dedup_pairs: kmeans_lite
    clustering (shared CTEs) → within-cluster cosine pairs ≥ threshold →
    one row per duplicate keeping the lowest-id match."""
    return f"""
        WITH {_kmeans_ctes(nlist, iters)},
        pairs AS (
          SELECT a.cid, a.vec_id AS id_keep, b.vec_id AS id_dup,
                 {_cosv('a.v', 'b.v')} AS cos_sim
          FROM afin a JOIN afin b ON a.cid = b.cid AND a.vec_id < b.vec_id
        )
        SELECT id_keep, id_dup, cid, cos_sim FROM (
          SELECT *, row_number() OVER (
            PARTITION BY id_dup ORDER BY id_keep ASC) AS rn
          FROM pairs WHERE cos_sim >= {threshold}
        ) WHERE rn = 1
    """


def _ivf_ann_oracle(
    nlist: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    k: int = 5,
    train_where: str | None = None,
    cand_where: str | None = None,
) -> str:
    """Full IVF simulation (functions/similarity.py kmeans_lite+ivf_ann_topk,
    default "id" seeding): clustering replay (shared CTEs) + nprobe-pruned
    candidate scan + exact re-rank. ``train_where`` replays the
    build-on-base/upsert-batch index (see _kmeans_ctes); ``cand_where``
    (over ``a.vec_id``) restricts the CANDIDATE rows only — the replay of
    ``ann_index_delete``, which removes cell rows but leaves the trained
    centroids in place."""
    cand_pred = "" if cand_where is None else f" AND ({cand_where})"
    return f"""
        WITH {_kmeans_ctes(nlist, iters, train_where)},
        probes AS (
          SELECT query_id, cid FROM (
            SELECT q.vec_id AS query_id, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY {_sqdist('q.v', 'c.cl')} ASC, c.cid ASC) AS rn
            FROM (SELECT vec_id, v FROM e WHERE vec_id < 8) q CROSS JOIN cl{iters} c
          ) WHERE rn <= {nprobe}
        ),
        cand AS (
          SELECT p.query_id, a.vec_id AS neighbor_id
          FROM probes p JOIN afin a ON a.cid = p.cid AND a.vec_id <> p.query_id{cand_pred}
        ),
        scored AS (
          SELECT c.query_id, c.neighbor_id, {_cosv('qv', 'nv')} AS cos_sim
          FROM cand c
          JOIN (SELECT vec_id, v AS qv FROM e) q ON q.vec_id = c.query_id
          JOIN (SELECT vec_id, v AS nv FROM e) n ON n.vec_id = c.neighbor_id
        )
        SELECT query_id, neighbor_id, cos_sim, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def _sqdist_d(a: str, b: str, d: int) -> str:
    """Generic-dimension squared L2, sequential accumulation."""
    return _fold(
        f"list_transform(range(1, {d + 1}), i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))"
    )


def _pq_ctes(
    m: int,
    ksub: int,
    iters: int,
    include_e: bool = True,
    src: str = "e",
    include_luts: bool = True,
) -> str:
    """WITH-body replaying pq_train + pq_encode (functions/similarity.py):
    per subspace, kmeans_lite on the dsub-dim slice (lowest-id seeds,
    quantized-exact Lloyd rounds), then argmin codes and per-query distance
    LUTs. Defines ``codes{j}`` (vec_id, cid) and ``luts{j}`` (query_id, cid,
    d) for j in 0..m-1."""
    dsub = DIM // m
    q12 = "1000000000000.0"
    parts = (
        [
            f"""e AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings
        )"""
        ]
        if include_e
        else []
    )
    for j in range(m):
        a, b = j * dsub + 1, (j + 1) * dsub
        sq = _sqdist_d("es.v", "c.cl", dsub)
        parts.append(
            f"""es{j} AS (SELECT vec_id, v[{a}:{b}] AS v FROM {src}),
        seedss{j} AS (
          SELECT rn - 1 AS cid, v FROM (
            SELECT row_number() OVER (ORDER BY vec_id ASC) AS rn, v FROM es{j}
          ) WHERE rn <= {ksub}
        ),
        cents{j}_0 AS (
          SELECT cid, i AS dim_idx, v[i + 1] AS c
          FROM seedss{j}, range(0, {dsub}) td{j}(i)
        ),
        cls{j}_0 AS (
          SELECT cid, list(c ORDER BY dim_idx) AS cl FROM cents{j}_0 GROUP BY cid
        )"""
        )
        for r in range(1, iters + 1):
            parts.append(
                f"""as{j}_{r - 1} AS (
          SELECT vec_id, v, cid FROM (
            SELECT es.vec_id, es.v, c.cid,
                   row_number() OVER (PARTITION BY es.vec_id
                     ORDER BY {sq} ASC, c.cid ASC) AS rn
            FROM es{j} es CROSS JOIN cls{j}_{r - 1} c
          ) WHERE rn = 1
        ),
        us{j}_{r} AS (
          SELECT cid, i AS dim_idx,
                 CAST(SUM(CAST(floor(v[i + 1] * {q12}) AS BIGINT)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) / {q12} AS c
          FROM as{j}_{r - 1}, range(0, {dsub}) tu{j}{r}(i) GROUP BY cid, i
        ),
        cents{j}_{r} AS (
          SELECT c.cid, c.dim_idx, COALESCE(u.c, c.c) AS c
          FROM cents{j}_{r - 1} c LEFT JOIN us{j}_{r} u USING (cid, dim_idx)
        ),
        cls{j}_{r} AS (
          SELECT cid, list(c ORDER BY dim_idx) AS cl FROM cents{j}_{r} GROUP BY cid
        )"""
            )
        parts.append(
            f"""codes{j} AS MATERIALIZED (
          SELECT vec_id, cid FROM (
            SELECT es.vec_id, c.cid,
                   row_number() OVER (PARTITION BY es.vec_id
                     ORDER BY {sq} ASC, c.cid ASC) AS rn
            FROM es{j} es CROSS JOIN cls{j}_{iters} c
          ) WHERE rn = 1
        )"""
            + (
                f""",
        luts{j} AS MATERIALIZED (
          SELECT es.vec_id AS query_id, c.cid, {sq} AS d
          FROM (SELECT vec_id, v FROM es{j} WHERE vec_id < 8) es
          CROSS JOIN cls{j}_{iters} c
        )"""
                if include_luts
                else ""
            )
        )
    return ",\n        ".join(parts)


def _pq_scored_sql(m: int) -> str:
    """``scored`` CTE body: join each vector's m codes to the matching LUT
    rows; the ADC distance is the left-assoc sum starting at 0.0, mirroring
    Spark's F.aggregate fold in pq_adc_topk."""
    joins = ["FROM codes0 c0", "JOIN luts0 l0 ON l0.cid = c0.cid"]
    for j in range(1, m):
        joins.append(f"JOIN codes{j} c{j} ON c{j}.vec_id = c0.vec_id")
        joins.append(
            f"JOIN luts{j} l{j} ON l{j}.query_id = l0.query_id AND l{j}.cid = c{j}.cid"
        )
    dist = " + ".join(["0.0"] + [f"l{j}.d" for j in range(m)])
    return f"""
          SELECT l0.query_id, c0.vec_id AS neighbor_id, {dist} AS adc_dist
          {' '.join(joins)}
          WHERE c0.vec_id <> l0.query_id"""


def _pq_oracle(m: int = 4, ksub: int = 16, iters: int = 1, k: int = 5) -> str:
    """Full PQ-ADC simulation mirroring q_ann_pq_topk."""
    return f"""
        WITH {_pq_ctes(m, ksub, iters)},
        scored AS ({_pq_scored_sql(m)})
        SELECT query_id, neighbor_id, adc_dist, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def _pq_rerank_oracle(
    m: int = 4, ksub: int = 16, iters: int = 1, k: int = 5, shortlist: int = 50
) -> str:
    """Two-stage PQ simulation mirroring q_ann_pq_rerank: ADC shortlist then
    exact full-dim L2 on only the shortlisted ids."""
    return f"""
        WITH {_pq_ctes(m, ksub, iters)},
        scored AS ({_pq_scored_sql(m)}),
        short AS (
          SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rn
            FROM scored
          ) WHERE rn <= {shortlist}
        ),
        exact AS (
          SELECT s.query_id, s.neighbor_id,
                 {_sqdist_d('q.v', 'n.v', DIM)} AS l2_dist
          FROM short s
          JOIN e q ON q.vec_id = s.query_id
          JOIN e n ON n.vec_id = s.neighbor_id
        )
        SELECT query_id, neighbor_id, l2_dist, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY l2_dist ASC, neighbor_id ASC) AS rank
          FROM exact
        ) WHERE rank <= {k}
    """


def _ivfpq_oracle(
    nlist: int = 16,
    nprobe: int = 4,
    coarse_iters: int = 2,
    m: int = 4,
    ksub: int = 16,
    pq_iters: int = 1,
    k: int = 5,
) -> str:
    """IVF-PQ simulation mirroring q_ann_ivfpq_topk: coarse k-means replay
    (cells + probes) composed with the PQ codes/LUT replay; candidates come
    from the probed cells only and are scored by the left-assoc ADC sum."""
    joins = []
    for j in range(m):
        joins.append(f"JOIN codes{j} c{j} ON c{j}.vec_id = c.neighbor_id")
        joins.append(
            f"JOIN luts{j} l{j} ON l{j}.query_id = c.query_id AND l{j}.cid = c{j}.cid"
        )
    dist = " + ".join(["0.0"] + [f"l{j}.d" for j in range(m)])
    return f"""
        WITH {_kmeans_ctes(nlist, coarse_iters)},
        {_pq_ctes(m, ksub, pq_iters, include_e=False)},
        probes AS (
          SELECT query_id, cid FROM (
            SELECT q.vec_id AS query_id, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY {_sqdist('q.v', 'c.cl')} ASC, c.cid ASC) AS rn
            FROM (SELECT vec_id, v FROM e WHERE vec_id < 8) q
            CROSS JOIN cl{coarse_iters} c
          ) WHERE rn <= {nprobe}
        ),
        cand AS MATERIALIZED (
          SELECT p.query_id, a.vec_id AS neighbor_id
          FROM probes p JOIN afin a ON a.cid = p.cid AND a.vec_id <> p.query_id
        ),
        scored AS (
          SELECT c.query_id, c.neighbor_id, {dist} AS adc_dist
          FROM cand c
          {' '.join(joins)}
        )
        SELECT query_id, neighbor_id, adc_dist, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def _ivfpq_residual_oracle(
    nlist: int = 16,
    nprobe: int = 4,
    coarse_iters: int = 2,
    m: int = 4,
    ksub: int = 16,
    pq_iters: int = 1,
    k: int = 5,
    rerank: int | None = None,
) -> str:
    """Residual IVF-PQ simulation (build_ivfpq_index(residual=True) +
    ivfpq_query_index): codes quantize v − centroid(cell); the ADC table is
    per (query, probed cell) against the query's residual to that cell.
    ``rerank=R`` appends the shortlist + exact-L2 stage of
    ivfpq_query_index(rerank_shortlist=R)."""
    dsub = DIM // m
    joins = []
    for j in range(m):
        joins.append(f"JOIN codes{j} c{j} ON c{j}.vec_id = c.neighbor_id")
        joins.append(
            f"JOIN rluts{j} l{j} ON l{j}.query_id = c.query_id"
            f" AND l{j}.cell = c.cell AND l{j}.cid = c{j}.cid"
        )
    dist = " + ".join(["0.0"] + [f"l{j}.d" for j in range(m)])
    rlut_ctes = []
    for j in range(m):
        a, b = j * dsub + 1, (j + 1) * dsub
        rlut_ctes.append(
            f"""rluts{j} AS MATERIALIZED (
          SELECT r.query_id, r.cell, c.cid,
                 {_sqdist_d(f'(r.qr[{a}:{b}])', 'c.cl', dsub)} AS d
          FROM rq r CROSS JOIN cls{j}_{pq_iters} c
        )"""
        )
    return f"""
        WITH {_kmeans_ctes(nlist, coarse_iters)},
        resid AS MATERIALIZED (
          SELECT a.vec_id, list_transform(range(1, {DIM + 1}),
                                          i -> a.v[i] - c.cl[i]) AS v
          FROM afin a JOIN cl{coarse_iters} c ON c.cid = a.cid
        ),
        {_pq_ctes(m, ksub, pq_iters, include_e=False, src="resid",
                  include_luts=False)},
        probes AS (
          SELECT query_id, cid FROM (
            SELECT q.vec_id AS query_id, c.cid,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY {_sqdist('q.v', 'c.cl')} ASC, c.cid ASC) AS rn
            FROM (SELECT vec_id, v FROM e WHERE vec_id < 8) q
            CROSS JOIN cl{coarse_iters} c
          ) WHERE rn <= {nprobe}
        ),
        rq AS MATERIALIZED (
          SELECT p.query_id, p.cid AS cell,
                 list_transform(range(1, {DIM + 1}),
                                i -> q.v[i] - cc.cl[i]) AS qr
          FROM probes p
          JOIN e q ON q.vec_id = p.query_id
          JOIN cl{coarse_iters} cc ON cc.cid = p.cid
        ),
        {','.join(rlut_ctes)},
        cand AS MATERIALIZED (
          SELECT p.query_id, p.cid AS cell, a.vec_id AS neighbor_id
          FROM probes p JOIN afin a ON a.cid = p.cid AND a.vec_id <> p.query_id
        ),
        scored AS (
          SELECT c.query_id, c.neighbor_id, {dist} AS adc_dist
          FROM cand c
          {' '.join(joins)}
        ){_residual_tail(k, rerank)}
    """


def _residual_tail(k: int, rerank: int | None) -> str:
    """Final stage of the residual IVF-PQ oracle: plain ADC rank, or the
    shortlist + exact-L2 re-rank when ``rerank`` is set."""
    if rerank is None:
        return f"""
        SELECT query_id, neighbor_id, adc_dist, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
          FROM scored
        ) WHERE rank <= {k}"""
    return f""",
        short AS (
          SELECT query_id, neighbor_id FROM (
            SELECT *, row_number() OVER (
              PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rn
            FROM scored
          ) WHERE rn <= {rerank}
        ),
        exact AS (
          SELECT s.query_id, s.neighbor_id,
                 {_sqdist_d('q.v', 'n.v', DIM)} AS l2_dist
          FROM short s
          JOIN e q ON q.vec_id = s.query_id
          JOIN e n ON n.vec_id = s.neighbor_id
        )
        SELECT query_id, neighbor_id, l2_dist, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY l2_dist ASC, neighbor_id ASC) AS rank
          FROM exact
        ) WHERE rank <= {k}"""


ORACLES: dict[str, str] = {
    # ---- SRI merge operators -------------------------------------------
    "c1_dedup_latest": """
        SELECT user_id, event_id, epoch_ns(ts) // 1000000 AS ts_ms, event_type, value
        FROM (
          SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events
        ) WHERE rn = 1
    """,
    "c2_anti_join": """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    "c3_partition_overwrite": """
        SELECT event_id, user_id, event_type FROM events WHERE event_type <> 'click'
        UNION ALL
        SELECT event_id, user_id, event_type FROM (
          SELECT event_id, user_id, event_type, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events WHERE event_type = 'click'
        ) WHERE rn = 1
    """,
    "c4_semi_join": """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    "c5_nullsafe_change": """
        WITH t AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderstatus = 'O' THEN o_orderpriority END AS payload
          FROM orders),
        s AS (
          SELECT o_orderkey,
                 CASE WHEN o_totalprice > 150000 THEN o_orderpriority END AS payload
          FROM orders)
        SELECT t.o_orderkey, t.payload AS old_payload, s.payload AS new_payload
        FROM t JOIN s USING (o_orderkey)
        WHERE t.payload IS DISTINCT FROM s.payload
    """,
    "c6_insert_if_absent": """
        SELECT o_orderkey FROM orders WHERE o_orderkey % 2 = 1
        UNION ALL
        SELECT o_orderkey FROM orders
        WHERE o_orderstatus = 'O' AND o_orderkey % 2 = 0
    """,
    "c7_set_difference": """
        SELECT DISTINCT o_custkey FROM orders
        EXCEPT
        SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    "c8_missing_members": """
        SELECT p_partkey, p_name FROM part p
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
    """,
    "c9_gap_insert": """
        SELECT c_custkey FROM customer
    """,
    "c10_counts": "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    "c11_top1": """
        SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ts_ms FROM events
        ORDER BY ts DESC, event_id DESC LIMIT 1
    """,
    "c12_watermark_upsert": """
        SELECT event_type, epoch_ns(max(ts)) // 1000000 AS lastmodified
        FROM events WHERE event_type <> 'click' GROUP BY event_type
        UNION ALL
        SELECT 'click' AS event_type, CAST(4102444800000 AS BIGINT) AS lastmodified
    """,
    # ---- record-level transforms ----------------------------------------
    "b2_record_repair": """
        SELECT event_id,
               '/events/' || event_id AS href,
               regexp_extract('/events/' || event_id, '([^/]+)$', 1) AS key,
               coalesce(CASE WHEN event_id % 10 <> 0 THEN epoch_ns(ts) // 1000000 END,
                        946684800000) AS modified_ms
        FROM events
    """,
    # Java hashCode fold: acc*31 + codepoint, signed-int32 wrap per step
    # (double-mod because DuckDB % keeps the sign of the dividend)
    "b7_string_hash": """
        SELECT c_custkey,
               CAST(list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   list_transform(string_split(c_name, ''), ch -> CAST(ord(ch) AS BIGINT))),
                 (acc, c) -> ((acc * 31 + c + 2147483648) % 4294967296 + 4294967296)
                             % 4294967296 - 2147483648
               ) AS INT) AS name_hash
        FROM customer
    """,
    "b5_watermark_max": "SELECT epoch_ns(max(ts)) // 1000000 AS lastmodified_ms FROM events",
    "b6_watermark_advance": """
        SELECT CAST(floor(greatest(
                 epoch_ns(max(ts)) // 1000000 - 1.01 * 5000.0,
                 epoch_ns(max(ts)) // 1000000 - 100000 - 1.01 * 5000.0 + 0.99 * 60000.0
               )) AS BIGINT) AS new_watermark_ms
        FROM events
    """,
    # ---- relational analytics -------------------------------------------
    "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                 AS sum_disc_price,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": """
        SELECT o_orderkey, o_orderpriority, epoch_ms(o_orderdate) AS o_orderdate_ms,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY o_orderkey, o_orderpriority, o_orderdate
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "q5_region_revenue": """
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY n_name
    """,
    "window_running_total": """
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 AS running_total
        FROM orders
    """,
    "rollup_revenue": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    "top_customers_per_nation": """
        SELECT c_nationkey, c_custkey, c_acctbal, rnk FROM (
          SELECT c_nationkey, c_custkey, c_acctbal, row_number() OVER (
            PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
          FROM customer
        ) WHERE rnk <= 3
    """,
    "events_hourly": """
        SELECT (epoch_ns(ts) // 3600000000000) * 3600000 AS hour_ms, event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "json_extract_props": """
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS DOUBLE)
                 / COUNT(*) AS avg_k,
               MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
        FROM events GROUP BY event_type
    """,
    "percentiles_by_type": """
        SELECT event_type,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.95) AS p95,
               min(value) AS vmin, max(value) AS vmax
        FROM events GROUP BY event_type
    """,
    "q6_forecast_revenue": """
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE)
                 AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """,
    "q18_large_orders": """
        WITH big AS (
          SELECT l_orderkey,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) > 150
        )
        SELECT c_custkey, c_name, o_orderkey, total_qty
        FROM orders JOIN big ON o_orderkey = l_orderkey
        JOIN customer ON o_custkey = c_custkey
    """,
    # ---- advanced relational coverage -----------------------------------
    "events_sessionize": """
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 1800000000000
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id, ts, event_id,
                 CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          FROM flagged
        )
        SELECT user_id, session_id, COUNT(*) AS n_events,
               epoch_ns(min(ts)) // 1000000 AS start_ms,
               epoch_ns(max(ts)) // 1000000 AS end_ms
        FROM sess GROUP BY user_id, session_id
    """,
    "events_cube": """
        SELECT event_type, (epoch_ns(ts) // 3600000000000) * 3600000 AS hour_ms,
               COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM events GROUP BY CUBE (event_type, (epoch_ns(ts) // 3600000000000) * 3600000)
    """,
    "asof_last_signup": """
        SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ts_ms,
               epoch_ns(last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) // 1000000
                 AS last_signup_ms
        FROM events
    """,
    "range_join_events": """
        SELECT a.event_id, COUNT(b.event_id) AS n_following
        FROM events a
        LEFT JOIN events b
          ON a.user_id = b.user_id
         AND epoch_ns(b.ts) > epoch_ns(a.ts)
         AND epoch_ns(b.ts) <= epoch_ns(a.ts) + 300000000000
        GROUP BY a.event_id
    """,
    "dedup_embedding_cosine": """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               (CAST(a.embedding[1] AS DOUBLE)*CAST(b.embedding[1] AS DOUBLE) + CAST(a.embedding[2] AS DOUBLE)*CAST(b.embedding[2] AS DOUBLE) + CAST(a.embedding[3] AS DOUBLE)*CAST(b.embedding[3] AS DOUBLE) + CAST(a.embedding[4] AS DOUBLE)*CAST(b.embedding[4] AS DOUBLE) + CAST(a.embedding[5] AS DOUBLE)*CAST(b.embedding[5] AS DOUBLE) + CAST(a.embedding[6] AS DOUBLE)*CAST(b.embedding[6] AS DOUBLE) + CAST(a.embedding[7] AS DOUBLE)*CAST(b.embedding[7] AS DOUBLE) + CAST(a.embedding[8] AS DOUBLE)*CAST(b.embedding[8] AS DOUBLE) + CAST(a.embedding[9] AS DOUBLE)*CAST(b.embedding[9] AS DOUBLE) + CAST(a.embedding[10] AS DOUBLE)*CAST(b.embedding[10] AS DOUBLE) + CAST(a.embedding[11] AS DOUBLE)*CAST(b.embedding[11] AS DOUBLE) + CAST(a.embedding[12] AS DOUBLE)*CAST(b.embedding[12] AS DOUBLE) + CAST(a.embedding[13] AS DOUBLE)*CAST(b.embedding[13] AS DOUBLE) + CAST(a.embedding[14] AS DOUBLE)*CAST(b.embedding[14] AS DOUBLE) + CAST(a.embedding[15] AS DOUBLE)*CAST(b.embedding[15] AS DOUBLE) + CAST(a.embedding[16] AS DOUBLE)*CAST(b.embedding[16] AS DOUBLE) + CAST(a.embedding[17] AS DOUBLE)*CAST(b.embedding[17] AS DOUBLE) + CAST(a.embedding[18] AS DOUBLE)*CAST(b.embedding[18] AS DOUBLE) + CAST(a.embedding[19] AS DOUBLE)*CAST(b.embedding[19] AS DOUBLE) + CAST(a.embedding[20] AS DOUBLE)*CAST(b.embedding[20] AS DOUBLE) + CAST(a.embedding[21] AS DOUBLE)*CAST(b.embedding[21] AS DOUBLE) + CAST(a.embedding[22] AS DOUBLE)*CAST(b.embedding[22] AS DOUBLE) + CAST(a.embedding[23] AS DOUBLE)*CAST(b.embedding[23] AS DOUBLE) + CAST(a.embedding[24] AS DOUBLE)*CAST(b.embedding[24] AS DOUBLE) + CAST(a.embedding[25] AS DOUBLE)*CAST(b.embedding[25] AS DOUBLE) + CAST(a.embedding[26] AS DOUBLE)*CAST(b.embedding[26] AS DOUBLE) + CAST(a.embedding[27] AS DOUBLE)*CAST(b.embedding[27] AS DOUBLE) + CAST(a.embedding[28] AS DOUBLE)*CAST(b.embedding[28] AS DOUBLE) + CAST(a.embedding[29] AS DOUBLE)*CAST(b.embedding[29] AS DOUBLE) + CAST(a.embedding[30] AS DOUBLE)*CAST(b.embedding[30] AS DOUBLE) + CAST(a.embedding[31] AS DOUBLE)*CAST(b.embedding[31] AS DOUBLE) + CAST(a.embedding[32] AS DOUBLE)*CAST(b.embedding[32] AS DOUBLE) + CAST(a.embedding[33] AS DOUBLE)*CAST(b.embedding[33] AS DOUBLE) + CAST(a.embedding[34] AS DOUBLE)*CAST(b.embedding[34] AS DOUBLE) + CAST(a.embedding[35] AS DOUBLE)*CAST(b.embedding[35] AS DOUBLE) + CAST(a.embedding[36] AS DOUBLE)*CAST(b.embedding[36] AS DOUBLE) + CAST(a.embedding[37] AS DOUBLE)*CAST(b.embedding[37] AS DOUBLE) + CAST(a.embedding[38] AS DOUBLE)*CAST(b.embedding[38] AS DOUBLE) + CAST(a.embedding[39] AS DOUBLE)*CAST(b.embedding[39] AS DOUBLE) + CAST(a.embedding[40] AS DOUBLE)*CAST(b.embedding[40] AS DOUBLE) + CAST(a.embedding[41] AS DOUBLE)*CAST(b.embedding[41] AS DOUBLE) + CAST(a.embedding[42] AS DOUBLE)*CAST(b.embedding[42] AS DOUBLE) + CAST(a.embedding[43] AS DOUBLE)*CAST(b.embedding[43] AS DOUBLE) + CAST(a.embedding[44] AS DOUBLE)*CAST(b.embedding[44] AS DOUBLE) + CAST(a.embedding[45] AS DOUBLE)*CAST(b.embedding[45] AS DOUBLE) + CAST(a.embedding[46] AS DOUBLE)*CAST(b.embedding[46] AS DOUBLE) + CAST(a.embedding[47] AS DOUBLE)*CAST(b.embedding[47] AS DOUBLE) + CAST(a.embedding[48] AS DOUBLE)*CAST(b.embedding[48] AS DOUBLE) + CAST(a.embedding[49] AS DOUBLE)*CAST(b.embedding[49] AS DOUBLE) + CAST(a.embedding[50] AS DOUBLE)*CAST(b.embedding[50] AS DOUBLE) + CAST(a.embedding[51] AS DOUBLE)*CAST(b.embedding[51] AS DOUBLE) + CAST(a.embedding[52] AS DOUBLE)*CAST(b.embedding[52] AS DOUBLE) + CAST(a.embedding[53] AS DOUBLE)*CAST(b.embedding[53] AS DOUBLE) + CAST(a.embedding[54] AS DOUBLE)*CAST(b.embedding[54] AS DOUBLE) + CAST(a.embedding[55] AS DOUBLE)*CAST(b.embedding[55] AS DOUBLE) + CAST(a.embedding[56] AS DOUBLE)*CAST(b.embedding[56] AS DOUBLE) + CAST(a.embedding[57] AS DOUBLE)*CAST(b.embedding[57] AS DOUBLE) + CAST(a.embedding[58] AS DOUBLE)*CAST(b.embedding[58] AS DOUBLE) + CAST(a.embedding[59] AS DOUBLE)*CAST(b.embedding[59] AS DOUBLE) + CAST(a.embedding[60] AS DOUBLE)*CAST(b.embedding[60] AS DOUBLE) + CAST(a.embedding[61] AS DOUBLE)*CAST(b.embedding[61] AS DOUBLE) + CAST(a.embedding[62] AS DOUBLE)*CAST(b.embedding[62] AS DOUBLE) + CAST(a.embedding[63] AS DOUBLE)*CAST(b.embedding[63] AS DOUBLE) + CAST(a.embedding[64] AS DOUBLE)*CAST(b.embedding[64] AS DOUBLE))
               / (sqrt(CAST(a.embedding[1] AS DOUBLE)*CAST(a.embedding[1] AS DOUBLE) + CAST(a.embedding[2] AS DOUBLE)*CAST(a.embedding[2] AS DOUBLE) + CAST(a.embedding[3] AS DOUBLE)*CAST(a.embedding[3] AS DOUBLE) + CAST(a.embedding[4] AS DOUBLE)*CAST(a.embedding[4] AS DOUBLE) + CAST(a.embedding[5] AS DOUBLE)*CAST(a.embedding[5] AS DOUBLE) + CAST(a.embedding[6] AS DOUBLE)*CAST(a.embedding[6] AS DOUBLE) + CAST(a.embedding[7] AS DOUBLE)*CAST(a.embedding[7] AS DOUBLE) + CAST(a.embedding[8] AS DOUBLE)*CAST(a.embedding[8] AS DOUBLE) + CAST(a.embedding[9] AS DOUBLE)*CAST(a.embedding[9] AS DOUBLE) + CAST(a.embedding[10] AS DOUBLE)*CAST(a.embedding[10] AS DOUBLE) + CAST(a.embedding[11] AS DOUBLE)*CAST(a.embedding[11] AS DOUBLE) + CAST(a.embedding[12] AS DOUBLE)*CAST(a.embedding[12] AS DOUBLE) + CAST(a.embedding[13] AS DOUBLE)*CAST(a.embedding[13] AS DOUBLE) + CAST(a.embedding[14] AS DOUBLE)*CAST(a.embedding[14] AS DOUBLE) + CAST(a.embedding[15] AS DOUBLE)*CAST(a.embedding[15] AS DOUBLE) + CAST(a.embedding[16] AS DOUBLE)*CAST(a.embedding[16] AS DOUBLE) + CAST(a.embedding[17] AS DOUBLE)*CAST(a.embedding[17] AS DOUBLE) + CAST(a.embedding[18] AS DOUBLE)*CAST(a.embedding[18] AS DOUBLE) + CAST(a.embedding[19] AS DOUBLE)*CAST(a.embedding[19] AS DOUBLE) + CAST(a.embedding[20] AS DOUBLE)*CAST(a.embedding[20] AS DOUBLE) + CAST(a.embedding[21] AS DOUBLE)*CAST(a.embedding[21] AS DOUBLE) + CAST(a.embedding[22] AS DOUBLE)*CAST(a.embedding[22] AS DOUBLE) + CAST(a.embedding[23] AS DOUBLE)*CAST(a.embedding[23] AS DOUBLE) + CAST(a.embedding[24] AS DOUBLE)*CAST(a.embedding[24] AS DOUBLE) + CAST(a.embedding[25] AS DOUBLE)*CAST(a.embedding[25] AS DOUBLE) + CAST(a.embedding[26] AS DOUBLE)*CAST(a.embedding[26] AS DOUBLE) + CAST(a.embedding[27] AS DOUBLE)*CAST(a.embedding[27] AS DOUBLE) + CAST(a.embedding[28] AS DOUBLE)*CAST(a.embedding[28] AS DOUBLE) + CAST(a.embedding[29] AS DOUBLE)*CAST(a.embedding[29] AS DOUBLE) + CAST(a.embedding[30] AS DOUBLE)*CAST(a.embedding[30] AS DOUBLE) + CAST(a.embedding[31] AS DOUBLE)*CAST(a.embedding[31] AS DOUBLE) + CAST(a.embedding[32] AS DOUBLE)*CAST(a.embedding[32] AS DOUBLE) + CAST(a.embedding[33] AS DOUBLE)*CAST(a.embedding[33] AS DOUBLE) + CAST(a.embedding[34] AS DOUBLE)*CAST(a.embedding[34] AS DOUBLE) + CAST(a.embedding[35] AS DOUBLE)*CAST(a.embedding[35] AS DOUBLE) + CAST(a.embedding[36] AS DOUBLE)*CAST(a.embedding[36] AS DOUBLE) + CAST(a.embedding[37] AS DOUBLE)*CAST(a.embedding[37] AS DOUBLE) + CAST(a.embedding[38] AS DOUBLE)*CAST(a.embedding[38] AS DOUBLE) + CAST(a.embedding[39] AS DOUBLE)*CAST(a.embedding[39] AS DOUBLE) + CAST(a.embedding[40] AS DOUBLE)*CAST(a.embedding[40] AS DOUBLE) + CAST(a.embedding[41] AS DOUBLE)*CAST(a.embedding[41] AS DOUBLE) + CAST(a.embedding[42] AS DOUBLE)*CAST(a.embedding[42] AS DOUBLE) + CAST(a.embedding[43] AS DOUBLE)*CAST(a.embedding[43] AS DOUBLE) + CAST(a.embedding[44] AS DOUBLE)*CAST(a.embedding[44] AS DOUBLE) + CAST(a.embedding[45] AS DOUBLE)*CAST(a.embedding[45] AS DOUBLE) + CAST(a.embedding[46] AS DOUBLE)*CAST(a.embedding[46] AS DOUBLE) + CAST(a.embedding[47] AS DOUBLE)*CAST(a.embedding[47] AS DOUBLE) + CAST(a.embedding[48] AS DOUBLE)*CAST(a.embedding[48] AS DOUBLE) + CAST(a.embedding[49] AS DOUBLE)*CAST(a.embedding[49] AS DOUBLE) + CAST(a.embedding[50] AS DOUBLE)*CAST(a.embedding[50] AS DOUBLE) + CAST(a.embedding[51] AS DOUBLE)*CAST(a.embedding[51] AS DOUBLE) + CAST(a.embedding[52] AS DOUBLE)*CAST(a.embedding[52] AS DOUBLE) + CAST(a.embedding[53] AS DOUBLE)*CAST(a.embedding[53] AS DOUBLE) + CAST(a.embedding[54] AS DOUBLE)*CAST(a.embedding[54] AS DOUBLE) + CAST(a.embedding[55] AS DOUBLE)*CAST(a.embedding[55] AS DOUBLE) + CAST(a.embedding[56] AS DOUBLE)*CAST(a.embedding[56] AS DOUBLE) + CAST(a.embedding[57] AS DOUBLE)*CAST(a.embedding[57] AS DOUBLE) + CAST(a.embedding[58] AS DOUBLE)*CAST(a.embedding[58] AS DOUBLE) + CAST(a.embedding[59] AS DOUBLE)*CAST(a.embedding[59] AS DOUBLE) + CAST(a.embedding[60] AS DOUBLE)*CAST(a.embedding[60] AS DOUBLE) + CAST(a.embedding[61] AS DOUBLE)*CAST(a.embedding[61] AS DOUBLE) + CAST(a.embedding[62] AS DOUBLE)*CAST(a.embedding[62] AS DOUBLE) + CAST(a.embedding[63] AS DOUBLE)*CAST(a.embedding[63] AS DOUBLE) + CAST(a.embedding[64] AS DOUBLE)*CAST(a.embedding[64] AS DOUBLE)) * sqrt(CAST(b.embedding[1] AS DOUBLE)*CAST(b.embedding[1] AS DOUBLE) + CAST(b.embedding[2] AS DOUBLE)*CAST(b.embedding[2] AS DOUBLE) + CAST(b.embedding[3] AS DOUBLE)*CAST(b.embedding[3] AS DOUBLE) + CAST(b.embedding[4] AS DOUBLE)*CAST(b.embedding[4] AS DOUBLE) + CAST(b.embedding[5] AS DOUBLE)*CAST(b.embedding[5] AS DOUBLE) + CAST(b.embedding[6] AS DOUBLE)*CAST(b.embedding[6] AS DOUBLE) + CAST(b.embedding[7] AS DOUBLE)*CAST(b.embedding[7] AS DOUBLE) + CAST(b.embedding[8] AS DOUBLE)*CAST(b.embedding[8] AS DOUBLE) + CAST(b.embedding[9] AS DOUBLE)*CAST(b.embedding[9] AS DOUBLE) + CAST(b.embedding[10] AS DOUBLE)*CAST(b.embedding[10] AS DOUBLE) + CAST(b.embedding[11] AS DOUBLE)*CAST(b.embedding[11] AS DOUBLE) + CAST(b.embedding[12] AS DOUBLE)*CAST(b.embedding[12] AS DOUBLE) + CAST(b.embedding[13] AS DOUBLE)*CAST(b.embedding[13] AS DOUBLE) + CAST(b.embedding[14] AS DOUBLE)*CAST(b.embedding[14] AS DOUBLE) + CAST(b.embedding[15] AS DOUBLE)*CAST(b.embedding[15] AS DOUBLE) + CAST(b.embedding[16] AS DOUBLE)*CAST(b.embedding[16] AS DOUBLE) + CAST(b.embedding[17] AS DOUBLE)*CAST(b.embedding[17] AS DOUBLE) + CAST(b.embedding[18] AS DOUBLE)*CAST(b.embedding[18] AS DOUBLE) + CAST(b.embedding[19] AS DOUBLE)*CAST(b.embedding[19] AS DOUBLE) + CAST(b.embedding[20] AS DOUBLE)*CAST(b.embedding[20] AS DOUBLE) + CAST(b.embedding[21] AS DOUBLE)*CAST(b.embedding[21] AS DOUBLE) + CAST(b.embedding[22] AS DOUBLE)*CAST(b.embedding[22] AS DOUBLE) + CAST(b.embedding[23] AS DOUBLE)*CAST(b.embedding[23] AS DOUBLE) + CAST(b.embedding[24] AS DOUBLE)*CAST(b.embedding[24] AS DOUBLE) + CAST(b.embedding[25] AS DOUBLE)*CAST(b.embedding[25] AS DOUBLE) + CAST(b.embedding[26] AS DOUBLE)*CAST(b.embedding[26] AS DOUBLE) + CAST(b.embedding[27] AS DOUBLE)*CAST(b.embedding[27] AS DOUBLE) + CAST(b.embedding[28] AS DOUBLE)*CAST(b.embedding[28] AS DOUBLE) + CAST(b.embedding[29] AS DOUBLE)*CAST(b.embedding[29] AS DOUBLE) + CAST(b.embedding[30] AS DOUBLE)*CAST(b.embedding[30] AS DOUBLE) + CAST(b.embedding[31] AS DOUBLE)*CAST(b.embedding[31] AS DOUBLE) + CAST(b.embedding[32] AS DOUBLE)*CAST(b.embedding[32] AS DOUBLE) + CAST(b.embedding[33] AS DOUBLE)*CAST(b.embedding[33] AS DOUBLE) + CAST(b.embedding[34] AS DOUBLE)*CAST(b.embedding[34] AS DOUBLE) + CAST(b.embedding[35] AS DOUBLE)*CAST(b.embedding[35] AS DOUBLE) + CAST(b.embedding[36] AS DOUBLE)*CAST(b.embedding[36] AS DOUBLE) + CAST(b.embedding[37] AS DOUBLE)*CAST(b.embedding[37] AS DOUBLE) + CAST(b.embedding[38] AS DOUBLE)*CAST(b.embedding[38] AS DOUBLE) + CAST(b.embedding[39] AS DOUBLE)*CAST(b.embedding[39] AS DOUBLE) + CAST(b.embedding[40] AS DOUBLE)*CAST(b.embedding[40] AS DOUBLE) + CAST(b.embedding[41] AS DOUBLE)*CAST(b.embedding[41] AS DOUBLE) + CAST(b.embedding[42] AS DOUBLE)*CAST(b.embedding[42] AS DOUBLE) + CAST(b.embedding[43] AS DOUBLE)*CAST(b.embedding[43] AS DOUBLE) + CAST(b.embedding[44] AS DOUBLE)*CAST(b.embedding[44] AS DOUBLE) + CAST(b.embedding[45] AS DOUBLE)*CAST(b.embedding[45] AS DOUBLE) + CAST(b.embedding[46] AS DOUBLE)*CAST(b.embedding[46] AS DOUBLE) + CAST(b.embedding[47] AS DOUBLE)*CAST(b.embedding[47] AS DOUBLE) + CAST(b.embedding[48] AS DOUBLE)*CAST(b.embedding[48] AS DOUBLE) + CAST(b.embedding[49] AS DOUBLE)*CAST(b.embedding[49] AS DOUBLE) + CAST(b.embedding[50] AS DOUBLE)*CAST(b.embedding[50] AS DOUBLE) + CAST(b.embedding[51] AS DOUBLE)*CAST(b.embedding[51] AS DOUBLE) + CAST(b.embedding[52] AS DOUBLE)*CAST(b.embedding[52] AS DOUBLE) + CAST(b.embedding[53] AS DOUBLE)*CAST(b.embedding[53] AS DOUBLE) + CAST(b.embedding[54] AS DOUBLE)*CAST(b.embedding[54] AS DOUBLE) + CAST(b.embedding[55] AS DOUBLE)*CAST(b.embedding[55] AS DOUBLE) + CAST(b.embedding[56] AS DOUBLE)*CAST(b.embedding[56] AS DOUBLE) + CAST(b.embedding[57] AS DOUBLE)*CAST(b.embedding[57] AS DOUBLE) + CAST(b.embedding[58] AS DOUBLE)*CAST(b.embedding[58] AS DOUBLE) + CAST(b.embedding[59] AS DOUBLE)*CAST(b.embedding[59] AS DOUBLE) + CAST(b.embedding[60] AS DOUBLE)*CAST(b.embedding[60] AS DOUBLE) + CAST(b.embedding[61] AS DOUBLE)*CAST(b.embedding[61] AS DOUBLE) + CAST(b.embedding[62] AS DOUBLE)*CAST(b.embedding[62] AS DOUBLE) + CAST(b.embedding[63] AS DOUBLE)*CAST(b.embedding[63] AS DOUBLE) + CAST(b.embedding[64] AS DOUBLE)*CAST(b.embedding[64] AS DOUBLE))) AS cos_sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE (CAST(a.embedding[1] AS DOUBLE)*CAST(b.embedding[1] AS DOUBLE) + CAST(a.embedding[2] AS DOUBLE)*CAST(b.embedding[2] AS DOUBLE) + CAST(a.embedding[3] AS DOUBLE)*CAST(b.embedding[3] AS DOUBLE) + CAST(a.embedding[4] AS DOUBLE)*CAST(b.embedding[4] AS DOUBLE) + CAST(a.embedding[5] AS DOUBLE)*CAST(b.embedding[5] AS DOUBLE) + CAST(a.embedding[6] AS DOUBLE)*CAST(b.embedding[6] AS DOUBLE) + CAST(a.embedding[7] AS DOUBLE)*CAST(b.embedding[7] AS DOUBLE) + CAST(a.embedding[8] AS DOUBLE)*CAST(b.embedding[8] AS DOUBLE) + CAST(a.embedding[9] AS DOUBLE)*CAST(b.embedding[9] AS DOUBLE) + CAST(a.embedding[10] AS DOUBLE)*CAST(b.embedding[10] AS DOUBLE) + CAST(a.embedding[11] AS DOUBLE)*CAST(b.embedding[11] AS DOUBLE) + CAST(a.embedding[12] AS DOUBLE)*CAST(b.embedding[12] AS DOUBLE) + CAST(a.embedding[13] AS DOUBLE)*CAST(b.embedding[13] AS DOUBLE) + CAST(a.embedding[14] AS DOUBLE)*CAST(b.embedding[14] AS DOUBLE) + CAST(a.embedding[15] AS DOUBLE)*CAST(b.embedding[15] AS DOUBLE) + CAST(a.embedding[16] AS DOUBLE)*CAST(b.embedding[16] AS DOUBLE) + CAST(a.embedding[17] AS DOUBLE)*CAST(b.embedding[17] AS DOUBLE) + CAST(a.embedding[18] AS DOUBLE)*CAST(b.embedding[18] AS DOUBLE) + CAST(a.embedding[19] AS DOUBLE)*CAST(b.embedding[19] AS DOUBLE) + CAST(a.embedding[20] AS DOUBLE)*CAST(b.embedding[20] AS DOUBLE) + CAST(a.embedding[21] AS DOUBLE)*CAST(b.embedding[21] AS DOUBLE) + CAST(a.embedding[22] AS DOUBLE)*CAST(b.embedding[22] AS DOUBLE) + CAST(a.embedding[23] AS DOUBLE)*CAST(b.embedding[23] AS DOUBLE) + CAST(a.embedding[24] AS DOUBLE)*CAST(b.embedding[24] AS DOUBLE) + CAST(a.embedding[25] AS DOUBLE)*CAST(b.embedding[25] AS DOUBLE) + CAST(a.embedding[26] AS DOUBLE)*CAST(b.embedding[26] AS DOUBLE) + CAST(a.embedding[27] AS DOUBLE)*CAST(b.embedding[27] AS DOUBLE) + CAST(a.embedding[28] AS DOUBLE)*CAST(b.embedding[28] AS DOUBLE) + CAST(a.embedding[29] AS DOUBLE)*CAST(b.embedding[29] AS DOUBLE) + CAST(a.embedding[30] AS DOUBLE)*CAST(b.embedding[30] AS DOUBLE) + CAST(a.embedding[31] AS DOUBLE)*CAST(b.embedding[31] AS DOUBLE) + CAST(a.embedding[32] AS DOUBLE)*CAST(b.embedding[32] AS DOUBLE) + CAST(a.embedding[33] AS DOUBLE)*CAST(b.embedding[33] AS DOUBLE) + CAST(a.embedding[34] AS DOUBLE)*CAST(b.embedding[34] AS DOUBLE) + CAST(a.embedding[35] AS DOUBLE)*CAST(b.embedding[35] AS DOUBLE) + CAST(a.embedding[36] AS DOUBLE)*CAST(b.embedding[36] AS DOUBLE) + CAST(a.embedding[37] AS DOUBLE)*CAST(b.embedding[37] AS DOUBLE) + CAST(a.embedding[38] AS DOUBLE)*CAST(b.embedding[38] AS DOUBLE) + CAST(a.embedding[39] AS DOUBLE)*CAST(b.embedding[39] AS DOUBLE) + CAST(a.embedding[40] AS DOUBLE)*CAST(b.embedding[40] AS DOUBLE) + CAST(a.embedding[41] AS DOUBLE)*CAST(b.embedding[41] AS DOUBLE) + CAST(a.embedding[42] AS DOUBLE)*CAST(b.embedding[42] AS DOUBLE) + CAST(a.embedding[43] AS DOUBLE)*CAST(b.embedding[43] AS DOUBLE) + CAST(a.embedding[44] AS DOUBLE)*CAST(b.embedding[44] AS DOUBLE) + CAST(a.embedding[45] AS DOUBLE)*CAST(b.embedding[45] AS DOUBLE) + CAST(a.embedding[46] AS DOUBLE)*CAST(b.embedding[46] AS DOUBLE) + CAST(a.embedding[47] AS DOUBLE)*CAST(b.embedding[47] AS DOUBLE) + CAST(a.embedding[48] AS DOUBLE)*CAST(b.embedding[48] AS DOUBLE) + CAST(a.embedding[49] AS DOUBLE)*CAST(b.embedding[49] AS DOUBLE) + CAST(a.embedding[50] AS DOUBLE)*CAST(b.embedding[50] AS DOUBLE) + CAST(a.embedding[51] AS DOUBLE)*CAST(b.embedding[51] AS DOUBLE) + CAST(a.embedding[52] AS DOUBLE)*CAST(b.embedding[52] AS DOUBLE) + CAST(a.embedding[53] AS DOUBLE)*CAST(b.embedding[53] AS DOUBLE) + CAST(a.embedding[54] AS DOUBLE)*CAST(b.embedding[54] AS DOUBLE) + CAST(a.embedding[55] AS DOUBLE)*CAST(b.embedding[55] AS DOUBLE) + CAST(a.embedding[56] AS DOUBLE)*CAST(b.embedding[56] AS DOUBLE) + CAST(a.embedding[57] AS DOUBLE)*CAST(b.embedding[57] AS DOUBLE) + CAST(a.embedding[58] AS DOUBLE)*CAST(b.embedding[58] AS DOUBLE) + CAST(a.embedding[59] AS DOUBLE)*CAST(b.embedding[59] AS DOUBLE) + CAST(a.embedding[60] AS DOUBLE)*CAST(b.embedding[60] AS DOUBLE) + CAST(a.embedding[61] AS DOUBLE)*CAST(b.embedding[61] AS DOUBLE) + CAST(a.embedding[62] AS DOUBLE)*CAST(b.embedding[62] AS DOUBLE) + CAST(a.embedding[63] AS DOUBLE)*CAST(b.embedding[63] AS DOUBLE) + CAST(a.embedding[64] AS DOUBLE)*CAST(b.embedding[64] AS DOUBLE))
              / (sqrt(CAST(a.embedding[1] AS DOUBLE)*CAST(a.embedding[1] AS DOUBLE) + CAST(a.embedding[2] AS DOUBLE)*CAST(a.embedding[2] AS DOUBLE) + CAST(a.embedding[3] AS DOUBLE)*CAST(a.embedding[3] AS DOUBLE) + CAST(a.embedding[4] AS DOUBLE)*CAST(a.embedding[4] AS DOUBLE) + CAST(a.embedding[5] AS DOUBLE)*CAST(a.embedding[5] AS DOUBLE) + CAST(a.embedding[6] AS DOUBLE)*CAST(a.embedding[6] AS DOUBLE) + CAST(a.embedding[7] AS DOUBLE)*CAST(a.embedding[7] AS DOUBLE) + CAST(a.embedding[8] AS DOUBLE)*CAST(a.embedding[8] AS DOUBLE) + CAST(a.embedding[9] AS DOUBLE)*CAST(a.embedding[9] AS DOUBLE) + CAST(a.embedding[10] AS DOUBLE)*CAST(a.embedding[10] AS DOUBLE) + CAST(a.embedding[11] AS DOUBLE)*CAST(a.embedding[11] AS DOUBLE) + CAST(a.embedding[12] AS DOUBLE)*CAST(a.embedding[12] AS DOUBLE) + CAST(a.embedding[13] AS DOUBLE)*CAST(a.embedding[13] AS DOUBLE) + CAST(a.embedding[14] AS DOUBLE)*CAST(a.embedding[14] AS DOUBLE) + CAST(a.embedding[15] AS DOUBLE)*CAST(a.embedding[15] AS DOUBLE) + CAST(a.embedding[16] AS DOUBLE)*CAST(a.embedding[16] AS DOUBLE) + CAST(a.embedding[17] AS DOUBLE)*CAST(a.embedding[17] AS DOUBLE) + CAST(a.embedding[18] AS DOUBLE)*CAST(a.embedding[18] AS DOUBLE) + CAST(a.embedding[19] AS DOUBLE)*CAST(a.embedding[19] AS DOUBLE) + CAST(a.embedding[20] AS DOUBLE)*CAST(a.embedding[20] AS DOUBLE) + CAST(a.embedding[21] AS DOUBLE)*CAST(a.embedding[21] AS DOUBLE) + CAST(a.embedding[22] AS DOUBLE)*CAST(a.embedding[22] AS DOUBLE) + CAST(a.embedding[23] AS DOUBLE)*CAST(a.embedding[23] AS DOUBLE) + CAST(a.embedding[24] AS DOUBLE)*CAST(a.embedding[24] AS DOUBLE) + CAST(a.embedding[25] AS DOUBLE)*CAST(a.embedding[25] AS DOUBLE) + CAST(a.embedding[26] AS DOUBLE)*CAST(a.embedding[26] AS DOUBLE) + CAST(a.embedding[27] AS DOUBLE)*CAST(a.embedding[27] AS DOUBLE) + CAST(a.embedding[28] AS DOUBLE)*CAST(a.embedding[28] AS DOUBLE) + CAST(a.embedding[29] AS DOUBLE)*CAST(a.embedding[29] AS DOUBLE) + CAST(a.embedding[30] AS DOUBLE)*CAST(a.embedding[30] AS DOUBLE) + CAST(a.embedding[31] AS DOUBLE)*CAST(a.embedding[31] AS DOUBLE) + CAST(a.embedding[32] AS DOUBLE)*CAST(a.embedding[32] AS DOUBLE) + CAST(a.embedding[33] AS DOUBLE)*CAST(a.embedding[33] AS DOUBLE) + CAST(a.embedding[34] AS DOUBLE)*CAST(a.embedding[34] AS DOUBLE) + CAST(a.embedding[35] AS DOUBLE)*CAST(a.embedding[35] AS DOUBLE) + CAST(a.embedding[36] AS DOUBLE)*CAST(a.embedding[36] AS DOUBLE) + CAST(a.embedding[37] AS DOUBLE)*CAST(a.embedding[37] AS DOUBLE) + CAST(a.embedding[38] AS DOUBLE)*CAST(a.embedding[38] AS DOUBLE) + CAST(a.embedding[39] AS DOUBLE)*CAST(a.embedding[39] AS DOUBLE) + CAST(a.embedding[40] AS DOUBLE)*CAST(a.embedding[40] AS DOUBLE) + CAST(a.embedding[41] AS DOUBLE)*CAST(a.embedding[41] AS DOUBLE) + CAST(a.embedding[42] AS DOUBLE)*CAST(a.embedding[42] AS DOUBLE) + CAST(a.embedding[43] AS DOUBLE)*CAST(a.embedding[43] AS DOUBLE) + CAST(a.embedding[44] AS DOUBLE)*CAST(a.embedding[44] AS DOUBLE) + CAST(a.embedding[45] AS DOUBLE)*CAST(a.embedding[45] AS DOUBLE) + CAST(a.embedding[46] AS DOUBLE)*CAST(a.embedding[46] AS DOUBLE) + CAST(a.embedding[47] AS DOUBLE)*CAST(a.embedding[47] AS DOUBLE) + CAST(a.embedding[48] AS DOUBLE)*CAST(a.embedding[48] AS DOUBLE) + CAST(a.embedding[49] AS DOUBLE)*CAST(a.embedding[49] AS DOUBLE) + CAST(a.embedding[50] AS DOUBLE)*CAST(a.embedding[50] AS DOUBLE) + CAST(a.embedding[51] AS DOUBLE)*CAST(a.embedding[51] AS DOUBLE) + CAST(a.embedding[52] AS DOUBLE)*CAST(a.embedding[52] AS DOUBLE) + CAST(a.embedding[53] AS DOUBLE)*CAST(a.embedding[53] AS DOUBLE) + CAST(a.embedding[54] AS DOUBLE)*CAST(a.embedding[54] AS DOUBLE) + CAST(a.embedding[55] AS DOUBLE)*CAST(a.embedding[55] AS DOUBLE) + CAST(a.embedding[56] AS DOUBLE)*CAST(a.embedding[56] AS DOUBLE) + CAST(a.embedding[57] AS DOUBLE)*CAST(a.embedding[57] AS DOUBLE) + CAST(a.embedding[58] AS DOUBLE)*CAST(a.embedding[58] AS DOUBLE) + CAST(a.embedding[59] AS DOUBLE)*CAST(a.embedding[59] AS DOUBLE) + CAST(a.embedding[60] AS DOUBLE)*CAST(a.embedding[60] AS DOUBLE) + CAST(a.embedding[61] AS DOUBLE)*CAST(a.embedding[61] AS DOUBLE) + CAST(a.embedding[62] AS DOUBLE)*CAST(a.embedding[62] AS DOUBLE) + CAST(a.embedding[63] AS DOUBLE)*CAST(a.embedding[63] AS DOUBLE) + CAST(a.embedding[64] AS DOUBLE)*CAST(a.embedding[64] AS DOUBLE)) * sqrt(CAST(b.embedding[1] AS DOUBLE)*CAST(b.embedding[1] AS DOUBLE) + CAST(b.embedding[2] AS DOUBLE)*CAST(b.embedding[2] AS DOUBLE) + CAST(b.embedding[3] AS DOUBLE)*CAST(b.embedding[3] AS DOUBLE) + CAST(b.embedding[4] AS DOUBLE)*CAST(b.embedding[4] AS DOUBLE) + CAST(b.embedding[5] AS DOUBLE)*CAST(b.embedding[5] AS DOUBLE) + CAST(b.embedding[6] AS DOUBLE)*CAST(b.embedding[6] AS DOUBLE) + CAST(b.embedding[7] AS DOUBLE)*CAST(b.embedding[7] AS DOUBLE) + CAST(b.embedding[8] AS DOUBLE)*CAST(b.embedding[8] AS DOUBLE) + CAST(b.embedding[9] AS DOUBLE)*CAST(b.embedding[9] AS DOUBLE) + CAST(b.embedding[10] AS DOUBLE)*CAST(b.embedding[10] AS DOUBLE) + CAST(b.embedding[11] AS DOUBLE)*CAST(b.embedding[11] AS DOUBLE) + CAST(b.embedding[12] AS DOUBLE)*CAST(b.embedding[12] AS DOUBLE) + CAST(b.embedding[13] AS DOUBLE)*CAST(b.embedding[13] AS DOUBLE) + CAST(b.embedding[14] AS DOUBLE)*CAST(b.embedding[14] AS DOUBLE) + CAST(b.embedding[15] AS DOUBLE)*CAST(b.embedding[15] AS DOUBLE) + CAST(b.embedding[16] AS DOUBLE)*CAST(b.embedding[16] AS DOUBLE) + CAST(b.embedding[17] AS DOUBLE)*CAST(b.embedding[17] AS DOUBLE) + CAST(b.embedding[18] AS DOUBLE)*CAST(b.embedding[18] AS DOUBLE) + CAST(b.embedding[19] AS DOUBLE)*CAST(b.embedding[19] AS DOUBLE) + CAST(b.embedding[20] AS DOUBLE)*CAST(b.embedding[20] AS DOUBLE) + CAST(b.embedding[21] AS DOUBLE)*CAST(b.embedding[21] AS DOUBLE) + CAST(b.embedding[22] AS DOUBLE)*CAST(b.embedding[22] AS DOUBLE) + CAST(b.embedding[23] AS DOUBLE)*CAST(b.embedding[23] AS DOUBLE) + CAST(b.embedding[24] AS DOUBLE)*CAST(b.embedding[24] AS DOUBLE) + CAST(b.embedding[25] AS DOUBLE)*CAST(b.embedding[25] AS DOUBLE) + CAST(b.embedding[26] AS DOUBLE)*CAST(b.embedding[26] AS DOUBLE) + CAST(b.embedding[27] AS DOUBLE)*CAST(b.embedding[27] AS DOUBLE) + CAST(b.embedding[28] AS DOUBLE)*CAST(b.embedding[28] AS DOUBLE) + CAST(b.embedding[29] AS DOUBLE)*CAST(b.embedding[29] AS DOUBLE) + CAST(b.embedding[30] AS DOUBLE)*CAST(b.embedding[30] AS DOUBLE) + CAST(b.embedding[31] AS DOUBLE)*CAST(b.embedding[31] AS DOUBLE) + CAST(b.embedding[32] AS DOUBLE)*CAST(b.embedding[32] AS DOUBLE) + CAST(b.embedding[33] AS DOUBLE)*CAST(b.embedding[33] AS DOUBLE) + CAST(b.embedding[34] AS DOUBLE)*CAST(b.embedding[34] AS DOUBLE) + CAST(b.embedding[35] AS DOUBLE)*CAST(b.embedding[35] AS DOUBLE) + CAST(b.embedding[36] AS DOUBLE)*CAST(b.embedding[36] AS DOUBLE) + CAST(b.embedding[37] AS DOUBLE)*CAST(b.embedding[37] AS DOUBLE) + CAST(b.embedding[38] AS DOUBLE)*CAST(b.embedding[38] AS DOUBLE) + CAST(b.embedding[39] AS DOUBLE)*CAST(b.embedding[39] AS DOUBLE) + CAST(b.embedding[40] AS DOUBLE)*CAST(b.embedding[40] AS DOUBLE) + CAST(b.embedding[41] AS DOUBLE)*CAST(b.embedding[41] AS DOUBLE) + CAST(b.embedding[42] AS DOUBLE)*CAST(b.embedding[42] AS DOUBLE) + CAST(b.embedding[43] AS DOUBLE)*CAST(b.embedding[43] AS DOUBLE) + CAST(b.embedding[44] AS DOUBLE)*CAST(b.embedding[44] AS DOUBLE) + CAST(b.embedding[45] AS DOUBLE)*CAST(b.embedding[45] AS DOUBLE) + CAST(b.embedding[46] AS DOUBLE)*CAST(b.embedding[46] AS DOUBLE) + CAST(b.embedding[47] AS DOUBLE)*CAST(b.embedding[47] AS DOUBLE) + CAST(b.embedding[48] AS DOUBLE)*CAST(b.embedding[48] AS DOUBLE) + CAST(b.embedding[49] AS DOUBLE)*CAST(b.embedding[49] AS DOUBLE) + CAST(b.embedding[50] AS DOUBLE)*CAST(b.embedding[50] AS DOUBLE) + CAST(b.embedding[51] AS DOUBLE)*CAST(b.embedding[51] AS DOUBLE) + CAST(b.embedding[52] AS DOUBLE)*CAST(b.embedding[52] AS DOUBLE) + CAST(b.embedding[53] AS DOUBLE)*CAST(b.embedding[53] AS DOUBLE) + CAST(b.embedding[54] AS DOUBLE)*CAST(b.embedding[54] AS DOUBLE) + CAST(b.embedding[55] AS DOUBLE)*CAST(b.embedding[55] AS DOUBLE) + CAST(b.embedding[56] AS DOUBLE)*CAST(b.embedding[56] AS DOUBLE) + CAST(b.embedding[57] AS DOUBLE)*CAST(b.embedding[57] AS DOUBLE) + CAST(b.embedding[58] AS DOUBLE)*CAST(b.embedding[58] AS DOUBLE) + CAST(b.embedding[59] AS DOUBLE)*CAST(b.embedding[59] AS DOUBLE) + CAST(b.embedding[60] AS DOUBLE)*CAST(b.embedding[60] AS DOUBLE) + CAST(b.embedding[61] AS DOUBLE)*CAST(b.embedding[61] AS DOUBLE) + CAST(b.embedding[62] AS DOUBLE)*CAST(b.embedding[62] AS DOUBLE) + CAST(b.embedding[63] AS DOUBLE)*CAST(b.embedding[63] AS DOUBLE) + CAST(b.embedding[64] AS DOUBLE)*CAST(b.embedding[64] AS DOUBLE))) >= 0.3
    """,
    "chunk_documents": f"""
        SELECT doc_id, i AS chunk_id,
               array_to_string(list_slice({_W}, i*48 + 1, i*48 + 64), ' ') AS chunk_text
        FROM documents, range(0, 64) t(i)
        WHERE i < greatest(1, CAST(ceil((len({_W}) - 64) / 48.0) AS INT) + 1)
    """,
    "redact_pii": """
        SELECT doc_id,
               regexp_replace(regexp_replace(text,
                   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                   '\\+?[0-9][0-9 ()-]{7,}[0-9]', '<PHONE>', 'g') AS text_redacted,
               len(string_split_regex(
                   regexp_replace(regexp_replace(text,
                       '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
                       '\\+?[0-9][0-9 ()-]{7,}[0-9]', '<PHONE>', 'g'),
                   '<EMAIL>|<PHONE>')) - 1 AS n_redactions
        FROM documents
    """,
    "pack_sequences": f"""
        SELECT doc_id, len({_W}) AS n_tokens,
               CAST(floor((SUM(len({_W})) OVER (ORDER BY doc_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - len({_W})) / 512.0) AS BIGINT) AS seq_id
        FROM documents
    """,
    "pack_sequences_bpe": f"""
        SELECT doc_id, {_BPE} AS n_tokens,
               CAST(floor((SUM({_BPE}) OVER (ORDER BY doc_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   - {_BPE}) / 512.0) AS BIGINT) AS seq_id
        FROM documents
    """,
    "bpe_token_stats": f"""
        SELECT doc_id, len({_W}) AS n_tokens_ws, {_BPE} AS n_tokens_bpe
        FROM documents
    """,
    # the trainer loop unrolled as chained 1-row CTEs (bpe_train_sql):
    # every argmax decision + early stop replayed iteration by iteration
    "bpe_train_merges": bpe_train_sql(n_merges=10, min_count=2),
    # the repetition table, generated from GOPHER_REP_THRESHOLDS so the
    # engines share one rule set
    "gopher_repetition_flags": gopher_repetition_sql("documents"),
    # C4 cleaning rules — mirrors functions.text.c4_quality_flags
    "c4_quality_flags": """
        WITH m AS (
          SELECT doc_id,
                 list_filter(string_split(text, chr(10)), x -> x <> '')
                   AS lns,
                 length(regexp_replace(text, '[^.!?]', '', 'g')) AS nsent,
                 lower(text) LIKE '%lorem ipsum%' AS has_lorem,
                 text LIKE '%{%' AS has_brace
          FROM documents),
        c AS (
          SELECT doc_id, nsent, has_lorem, has_brace,
                 len(lns) AS nl,
                 len(list_filter(lns, l ->
                   regexp_matches(trim(l), '[.!?"]$')
                   AND len(list_filter(string_split(l, ' '),
                                       x -> x <> '')) >= 3
                   AND NOT lower(l) LIKE '%javascript%')) AS nk
          FROM m)
        SELECT doc_id,
               CAST(nl AS BIGINT) AS n_lines,
               CAST(nk AS BIGINT) AS n_kept_lines,
               CAST(CASE WHEN nl > 0 THEN (nk * 1000000) // nl END
                    AS BIGINT) AS kept_line_frac_e6,
               CAST(nsent AS BIGINT) AS n_sentences,
               has_lorem, has_brace,
               COALESCE(NOT has_lorem AND NOT has_brace
                 AND nsent >= 5 AND nk >= 1, false) AS keep
        FROM c
    """,
    # Gopher A1.1 rules, exact-integer cross-multiplied comparisons —
    # mirrors functions.text.gopher_quality_flags term for term
    "gopher_quality_flags": """
        WITH m AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS tk,
                 string_split(text, chr(10)) AS ln
          FROM documents),
        c AS (
          SELECT doc_id,
                 len(tk) AS nw,
                 COALESCE(list_sum(list_transform(tk, x -> length(x))), 0)
                   AS tc,
                 len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))
                   AS na,
                 len(list_filter(tk, x -> x LIKE '%#%' OR x LIKE '%...%'))
                   AS ns,
                 len(ln) AS nl,
                 len(list_filter(ln, l -> trim(l) LIKE '-%'
                     OR trim(l) LIKE '*%' OR trim(l) LIKE chr(8226) || '%'))
                   AS nb,
                 len(list_filter(ln, l -> trim(l) LIKE '%...'
                     OR trim(l) LIKE '%' || chr(8230))) AS ne,
                 (CASE WHEN list_contains(tk, 'the') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(tk, 'be') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(tk, 'to') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(tk, 'of') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(tk, 'and') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(tk, 'that') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(tk, 'have') THEN 1 ELSE 0 END
                  + CASE WHEN list_contains(tk, 'with') THEN 1 ELSE 0 END)
                   AS nstop
          FROM m)
        SELECT doc_id,
               CAST(nw AS BIGINT) AS n_words,
               CAST(CASE WHEN nw > 0 THEN (tc * 1000000) // nw END AS BIGINT)
                 AS mean_wl_e6,
               CAST(CASE WHEN nw > 0 THEN (na * 1000000) // nw END AS BIGINT)
                 AS alpha_frac_e6,
               CAST(CASE WHEN nw > 0 THEN (ns * 1000000) // nw END AS BIGINT)
                 AS symbol_frac_e6,
               CAST(CASE WHEN nl > 0 THEN (nb * 1000000) // nl END AS BIGINT)
                 AS bullet_frac_e6,
               CAST(CASE WHEN nl > 0 THEN (ne * 1000000) // nl END AS BIGINT)
                 AS ellipsis_frac_e6,
               CAST(nstop AS INT) AS n_stop,
               COALESCE(nw >= 50 AND nw <= 100000
                 AND 3 * nw <= tc AND tc <= 10 * nw
                 AND 10 * ns <= nw
                 AND 10 * nb < 9 * nl AND 10 * ne < 3 * nl
                 AND 5 * na >= 4 * nw
                 AND nstop >= 2, false) AS keep
        FROM c
    """,
    "bpe_vocab_topk": f"""
        WITH toks AS (
          SELECT unnest({bpe_tokens_sql("text")}) AS token FROM documents),
        agg AS (
          SELECT token, CAST(count(*) AS BIGINT) AS cnt
          FROM toks GROUP BY token)
        SELECT token, cnt,
               CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS INT)
                 AS rank
        FROM agg ORDER BY cnt DESC, token ASC LIMIT 20
    """,
    "deterministic_sample": """
        SELECT doc_id, source, lang FROM documents WHERE doc_id % 100 < 10
    """,
    "q4_late_shipment_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
    """,
    "q7_nation_volume": """
        SELECT supp_nation, cust_nation, l_year,
               CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS volume
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS INT) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON s_nationkey = n1.n_nationkey
          JOIN nation n2 ON c_nationkey = n2.n_nationkey
          WHERE n1.n_name <> n2.n_name)
        GROUP BY supp_nation, cust_nation, l_year
    """,
    "q10_returned_items": """
        SELECT c_custkey, c_name, c_acctbal, n_name,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                 AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-07-01'
          AND o_orderdate < TIMESTAMP '1996-10-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    "q14_promo_revenue": """
        SELECT 100.0 * CAST(SUM(CAST(
                 CASE WHEN p_type = 'PROMO'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
                 AS DECIMAL(18,4))) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                 AS DOUBLE) AS promo_revenue_pct,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
    "q15_top_supplier": """
        WITH rev AS (
          SELECT l_suppkey,
                 CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                   AS DOUBLE) AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
    "q17_small_quantity_revenue": """
        WITH pq AS (
          SELECT l_partkey AS pk,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
                   AS avg_qty
          FROM lineitem GROUP BY l_partkey)
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
                 AS avg_yearly,
               count(*) AS n_items
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN pq ON l_partkey = pk
        WHERE p_brand = 'Brand#23' AND l_quantity < 0.2 * avg_qty
    """,
    "q22_dormant_customers": """
        WITH ab AS (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
                   AS avg_bal
          FROM customer WHERE c_acctbal > 0)
        SELECT c_nationkey, count(*) AS numcust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
        FROM customer, ab
        WHERE c_acctbal > avg_bal
          AND c_custkey NOT IN (
            SELECT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY c_nationkey
    """,
    "q2_min_cost_supplier": """
        WITH offers AS (
          SELECT l_partkey, l_suppkey,
                 CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                 / CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS unit_price
          FROM lineitem GROUP BY l_partkey, l_suppkey),
        mo AS (SELECT l_partkey AS mk, min(unit_price) AS min_price
               FROM offers GROUP BY l_partkey)
        SELECT p_partkey, p_name, s_suppkey, s_name, min_price
        FROM offers
        JOIN mo ON l_partkey = mk AND unit_price = min_price
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE p_type = 'LARGE'
    """,
    "q8_market_share": """
        SELECT CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(SUM(CAST(CASE WHEN n2.n_name = 'NATION_7'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
                    AS DECIMAL(18,4))) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
        GROUP BY o_year
    """,
    "q9_product_profit": """
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                      - p_retailprice * l_quantity AS DECIMAL(18,4)))
                 AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
        GROUP BY n_name, o_year
    """,
    "q11_important_parts": """
        WITH per_part AS (
          SELECT l_partkey,
                 CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,4))) AS DOUBLE) AS part_value
          FROM lineitem GROUP BY l_partkey),
        tot AS (
          SELECT CAST(SUM(CAST(part_value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
                 count(*) AS n_parts
          FROM per_part)
        SELECT l_partkey, part_value
        FROM per_part, tot
        WHERE part_value > 1.5 / CAST(n_parts AS DOUBLE) * total_value
    """,
    "q12_lateness_priority": """
        SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                   CAST(l_shipdate AS DATE)) > 90 THEN 'LATE'
                    WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                   CAST(l_shipdate AS DATE)) > 30 THEN 'SLOW'
                    ELSE 'ONTIME' END AS ship_bucket,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY ship_bucket
    """,
    "q13_customer_distribution": """
        WITH per_cust AS (
          SELECT c_custkey, count(o_orderkey) AS c_count
          FROM customer
          LEFT JOIN orders ON c_custkey = o_custkey
                          AND o_orderpriority <> '5-LOW'
          GROUP BY c_custkey)
        SELECT c_count, count(*) AS custdist
        FROM per_cust GROUP BY c_count
    """,
    "q16_supplier_part_counts": """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#13' AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        GROUP BY p_brand, p_type, p_size
    """,
    "q19_disjunctive_revenue": """
        SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                 AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 5 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 10 AND 40)
    """,
    "q20_heavy_suppliers": """
        WITH per_ps AS (
          SELECT l_partkey, l_suppkey,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS supp_qty
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE p_name LIKE '%widget%'
            AND l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1997-01-01'
          GROUP BY l_partkey, l_suppkey),
        per_p AS (
          SELECT l_partkey AS pk,
                 CAST(SUM(CAST(supp_qty AS DECIMAL(18,4))) AS DOUBLE) AS part_qty
          FROM per_ps GROUP BY l_partkey)
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
          SELECT l_suppkey FROM per_ps JOIN per_p ON l_partkey = pk
          WHERE supp_qty > 0.3 * part_qty)
    """,
    "q21_waiting_suppliers": """
        WITH per_os AS (
          SELECT l_orderkey, l_suppkey,
                 max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                     THEN 1 ELSE 0 END) AS is_late
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY l_orderkey, l_suppkey),
        stats AS (
          SELECT l_suppkey, is_late,
                 count(*) OVER (PARTITION BY l_orderkey) AS n_suppliers,
                 SUM(is_late) OVER (PARTITION BY l_orderkey) AS n_late
          FROM per_os)
        SELECT s_suppkey, s_name, count(*) AS numwait
        FROM stats JOIN supplier ON l_suppkey = s_suppkey
        WHERE is_late = 1 AND n_suppliers >= 2 AND n_late = 1
        GROUP BY s_suppkey, s_name
    """,
    "profile_columns": """
        SELECT 'o_orderkey' AS col_name,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_nulls,
               count(DISTINCT o_orderkey) AS n_distinct,
               min(CAST(o_orderkey AS VARCHAR)) AS min_repr,
               max(CAST(o_orderkey AS VARCHAR)) AS max_repr
        FROM orders
        UNION ALL
        SELECT 'o_custkey',
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_custkey),
               min(CAST(o_custkey AS VARCHAR)), max(CAST(o_custkey AS VARCHAR))
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus',
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_orderstatus),
               min(o_orderstatus), max(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice',
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_totalprice),
               min(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR)),
               max(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR))
        FROM orders
        UNION ALL
        SELECT 'o_orderdate',
               CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT o_orderdate),
               min(CAST(o_orderdate AS VARCHAR)), max(CAST(o_orderdate AS VARCHAR))
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority',
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT),
               count(DISTINCT o_orderpriority),
               min(o_orderpriority), max(o_orderpriority)
        FROM orders
    """,
    "heavy_hitters": """
        WITH tot AS (SELECT count(*) AS total FROM events)
        SELECT event_type, count(*) AS n,
               CAST(count(*) AS DOUBLE) / CAST(total AS DOUBLE) AS share,
               CAST(count(*) AS DOUBLE) / CAST(total AS DOUBLE) > 0.25 AS is_hot
        FROM events, tot
        GROUP BY event_type, total
    """,
    "approx_distinct": """
        SELECT count(DISTINCT user_id) AS exact_distinct,
               TRUE AS sketch_within_10pct
        FROM events
    """,
    "incremental_rollup": """
        SELECT o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS total_revenue,
               count(*) AS n
        FROM orders GROUP BY o_orderpriority
    """,
    "approx_quantiles": """
        SELECT event_type,
               quantile_cont(value, 0.5) AS exact_p50,
               quantile_cont(value, 0.25) AS exact_p25,
               quantile_cont(value, 0.75) AS exact_p75,
               TRUE AS sketch_in_band
        FROM events GROUP BY event_type
    """,
    "emb_quantize": f"""
        WITH n AS (
          SELECT vec_id,
                 sqrt({_fold(f"list_transform(range(1, {DIM + 1}), i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))")})
                   AS l2_norm,
                 embedding
          FROM embeddings)
        SELECT vec_id, l2_norm,
               array_to_string(
                 list_transform(range(1, {DIM + 1}),
                   i -> CAST(CAST(floor(CAST(embedding[i] AS DOUBLE) / l2_norm * 127.0)
                        AS INT) AS VARCHAR)),
                 ',') AS q_codes
        FROM n
    """,
    "events_anomaly": """
        WITH hourly AS (
          SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour_bucket,
                 count(*) AS n
          FROM events GROUP BY 1, 2),
        stats AS (
          SELECT event_type, hour_bucket, n,
                 count(*) OVER w AS cnt,
                 SUM(n) OVER w AS s1,
                 SUM(n * n) OVER w AS s2
          FROM hourly
          WINDOW w AS (PARTITION BY event_type))
        SELECT event_type, hour_bucket, n,
               (n - CAST(s1 AS DOUBLE) / cnt)
                 / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / cnt)
                        / (cnt - 1)) AS zscore,
               abs((n - CAST(s1 AS DOUBLE) / cnt)
                 / sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / cnt)
                        / (cnt - 1))) > 3.0 AS is_anomaly
        FROM stats
    """,
    # replay of text.bigram_lm_scores: exact bigram/unigram counts, IEEE
    # division, quantized-exact per-doc mean
    "lm_quality": f"""
        WITH bgw AS (
          SELECT id, bg, string_split(bg, ' ')[1] AS w1 FROM (
            SELECT doc_id AS id, unnest({_SHINGLES2}) AS bg FROM documents
          )
        ),
        cbg AS (SELECT bg, count(*) AS cbg FROM bgw GROUP BY bg),
        cw1 AS (SELECT w1, count(*) AS cw1 FROM bgw GROUP BY w1),
        vocab AS (SELECT count(DISTINCT w1) AS V FROM bgw),
        p AS (
          SELECT b.id,
                 CAST(c1.cbg + 1 AS DOUBLE) / CAST(c2.cw1 + v.V AS DOUBLE) AS p
          FROM bgw b JOIN cbg c1 USING (bg) JOIN cw1 c2 USING (w1)
          CROSS JOIN vocab v
        )
        SELECT id AS doc_id, count(*) AS n_bigrams,
               CAST(SUM(CAST(floor(p * 1000000000000.0) AS BIGINT)) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) / 1000000000000.0 AS mean_bigram_p
        FROM p GROUP BY id
    """,
    # replay of resize_media(target=256): out byte i = input byte (i*n)//256,
    # hash = md5 of the lowercase hex of the resized bytes
    "media_resize": """
        WITH m AS (
          SELECT doc_id AS media_id,
                 lower(hex(encode(text))) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents
        )
        SELECT media_id, CAST(n AS BIGINT) AS src_bytes,
               md5(CASE WHEN n > 0 THEN array_to_string(
                 list_transform(range(0, 256),
                                i -> substr(hx, CAST(2 * ((i * n) // 256) AS INT) + 1, 2)),
                 '') ELSE '' END) AS resized_hash
        FROM m
    """,
    "media_chunks": """
        WITH m AS (
          SELECT doc_id AS media_id, lower(hex(encode(text))) AS hx,
                 octet_length(encode(text)) AS n
          FROM documents WHERE octet_length(encode(text)) > 0)
        SELECT media_id, CAST(i AS BIGINT) AS chunk_id,
               CAST(least(256, n - i * 256) AS BIGINT) AS chunk_bytes,
               substring(hx, i * 512 + 1, 512) AS chunk_hex
        FROM m, range(0, 4096) t(i)
        WHERE i * 256 < n
    """,
    "text_repetition": f"""
        WITH grams AS (SELECT doc_id, unnest({_SHINGLES2}) AS g FROM documents),
        per AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
        agg AS (
          SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
                 count(*) AS n_distinct, max(c) AS top_c
          FROM per GROUP BY doc_id)
        SELECT doc_id, n_ngrams, n_distinct,
               1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_ngrams AS DOUBLE)
                 AS dup_ngram_frac,
               CAST(top_c AS DOUBLE) / CAST(n_ngrams AS DOUBLE) AS top_ngram_frac
        FROM agg
    """,
    "boilerplate_shingles": f"""
        SELECT s AS shingle, count(*) AS n_docs FROM (
          SELECT doc_id, unnest(list_distinct({_SHINGLES3})) AS s FROM documents)
        GROUP BY s HAVING count(*) >= 5
    """,
    "boilerplate_frac": f"""
        WITH bp AS (
          SELECT s FROM (
            SELECT doc_id, unnest(list_distinct({_SHINGLES3})) AS s FROM documents)
          GROUP BY s HAVING count(*) >= 5),
        grams AS (SELECT doc_id, unnest({_SHINGLES3}) AS s FROM documents)
        SELECT g.doc_id, count(*) AS n_shingles,
               CAST(sum(CASE WHEN bp.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_boilerplate,
               CAST(sum(CASE WHEN bp.s IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS boilerplate_frac
        FROM grams g LEFT JOIN bp ON g.s = bp.s
        GROUP BY g.doc_id
    """,
    "dedup_survivors": f"""
        WITH RECURSIVE p AS ({_JACCARD_PAIRS}),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM p
          UNION
          SELECT id_b AS src, id_a AS dst FROM p
        ),
        reach AS (
          SELECT src AS id, src AS r FROM edges
          UNION
          SELECT e.src AS id, r.r FROM edges e JOIN reach r ON r.id = e.dst
        ),
        comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        SELECT doc_id, lang, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != component)
    """,
    # LSH-candidate survivors: banding at r=2/64 bands misses a jaccard-0.5
    # pair with prob ~1e-8 and the engine verifies candidates exactly, so
    # the semantic mirror is the same exact-pair closure dedup_survivors
    # replays.
    "dedup_survivors_lsh": f"""
        WITH RECURSIVE p AS ({_JACCARD_PAIRS}),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM p
          UNION
          SELECT id_b AS src, id_a AS dst FROM p
        ),
        reach AS (
          SELECT src AS id, src AS r FROM edges
          UNION
          SELECT e.src AS id, r.r FROM edges e JOIN reach r ON r.id = e.dst
        ),
        comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
        SELECT doc_id, lang, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != component)
    """,
    "stratified_sample": """
        SELECT doc_id, lang FROM documents
        WHERE doc_id % 100 < (CASE WHEN lang = 'en' THEN 20 ELSE 10 END)
    """,
    # Efraimidis-Spirakis A-ES replay: identical md5-derived uniform,
    # identical -ln(u)/w priority, identical (priority, id) total order.
    "weighted_sample": """
        WITH w AS (
          SELECT lang, doc_id, n_chars,
                 -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) + 1)
                     / 281474976710656.0) / CAST(n_chars AS DOUBLE) AS priority
          FROM documents
        )
        SELECT lang, doc_id, n_chars, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY lang ORDER BY priority ASC, doc_id ASC) AS rank
          FROM w
        ) WHERE rank <= 5
    """,
    "char_diversity": """
        WITH ch AS (
          SELECT doc_id AS id,
                 unnest(list_transform(range(1, length(text) + 1),
                                       i -> substr(text, i, 1))) AS ch
          FROM documents
        ),
        pc AS (SELECT id, ch, count(*) AS c FROM ch GROUP BY id, ch)
        SELECT id AS doc_id, CAST(SUM(c) AS BIGINT) AS n_chars,
               1.0 - CAST(SUM(c * c) AS DOUBLE) / CAST(SUM(c) * SUM(c) AS DOUBLE) AS gini
        FROM pc GROUP BY id
    """,
    "source_stats": """
        WITH h AS (
          SELECT source, lang, length(text) AS len, md5(text) AS content_hash
          FROM documents
        ),
        c AS (SELECT content_hash, count(*) AS n_copies FROM h GROUP BY content_hash)
        SELECT source, lang, count(*) AS n_docs,
               CAST(SUM(len) AS BIGINT) AS total_chars,
               CAST(SUM(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars,
               CAST(SUM(CASE WHEN n_copies > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
        FROM h JOIN c USING (content_hash)
        GROUP BY source, lang
    """,
    # transitive closure of the exact near-dup pairs; min reachable id per
    # node == Spark's connected_components labeling
    "dedup_components": f"""
        WITH RECURSIVE p AS ({_JACCARD_PAIRS}),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM p
          UNION
          SELECT id_b AS src, id_a AS dst FROM p
        ),
        reach AS (
          SELECT src AS id, src AS r FROM edges
          UNION
          SELECT e.src AS id, r.r FROM edges e JOIN reach r ON r.id = e.dst
        )
        SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
    """,
    "text_tfidf_topk": f"""
        WITH toks AS (SELECT doc_id, unnest({_W}) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        scored AS (
          SELECT doc_id, term,
                 CAST(tf AS DOUBLE) * (
                   (SELECT CAST(count(*) + 1 AS DOUBLE) FROM documents)
                   / (CAST(df AS DOUBLE) + 1.0)) AS score
          FROM tf JOIN dfreq USING (term)
        )
        SELECT doc_id, term, score, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
          FROM scored
        ) WHERE rank <= 3
    """,
    # LSH banding at r=2/64 bands has miss prob ~1e-8 at Jaccard 0.5 and the
    # engine verifies every candidate exactly, so the semantic mirror is the
    # exact cross-corpus Jaccard comparison.
    "crosscorpus_neardup": f"""
        WITH ds AS (
          SELECT doc_id, unnest(list_distinct({_SHINGLES3})) AS s FROM documents
        ),
        sz AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY doc_id),
        inter AS (
          SELECT n.doc_id AS inc_id, x.doc_id AS idx_id, count(*) AS ninter
          FROM ds n JOIN ds x ON n.s = x.s
          WHERE n.doc_id % 10 = 0 AND x.doc_id % 10 <> 0
          GROUP BY 1, 2
        ),
        dups AS (
          SELECT DISTINCT inc_id FROM inter
          JOIN sz sn ON inc_id = sn.doc_id
          JOIN sz sx ON idx_id = sx.doc_id
          WHERE CAST(ninter AS DOUBLE) / CAST(sn.sz + sx.sz - ninter AS DOUBLE) >= 0.5
        )
        SELECT doc_id, lang, source FROM documents
        WHERE doc_id % 10 = 0 AND doc_id NOT IN (SELECT inc_id FROM dups)
    """,
    "vocab_coverage": """
        WITH toks AS (
          SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok FROM documents
        ),
        vocab AS (
          SELECT tok FROM (
            SELECT tok, count(DISTINCT id) AS df FROM toks GROUP BY tok
          ) ORDER BY df DESC, tok ASC LIMIT 500
        )
        SELECT id AS doc_id,
               count(*) AS n_tokens,
               CAST(SUM(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_in_vocab,
               CAST(SUM(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS coverage
        FROM toks GROUP BY id
    """,
    # Non-overlapping 10-word segments; a segment is duplicated when its md5
    # appears in ≥2 distinct documents (CCNet paragraph dedup, flat-text form).
    "segment_dedup": """
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        seg AS (
          SELECT doc_id,
                 md5(array_to_string(t[(i*10+1):(i*10+10)], ' ')) AS h,
                 len(t[(i*10+1):(i*10+10)]) AS seg_toks
          FROM toks, unnest(range(CAST(ceil(len(t) / 10.0) AS BIGINT))) AS u(i)
        ),
        nd AS (
          SELECT h, count(*) AS n_docs
          FROM (SELECT DISTINCT doc_id, h FROM seg) GROUP BY h
        )
        SELECT doc_id,
               count(*) AS n_segments,
               CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_segments,
               CAST(sum(seg_toks) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN n_docs >= 2 THEN 0 ELSE seg_toks END) AS BIGINT)
                 AS n_tokens_kept
        FROM seg JOIN nd USING (h) GROUP BY doc_id
    """,
    # Division-form idf (no log), contributions added in fixed term order —
    # mirrors functions.text.bm25_topk exactly (k1=1.2, b=0.75).
    "bm25_topk": """
        WITH lens AS (
          SELECT doc_id AS id, len(string_split(text, ' ')) AS dl FROM documents
        ),
        stats AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
          FROM lens
        ),
        toks AS (
          SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term FROM documents
        ),
        tf AS (
          SELECT id, term, count(*) AS tf FROM toks
          WHERE term IN ('spark', 'merge', 'window') GROUP BY id, term
        ),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        contrib AS (
          SELECT id, term,
                 ((stats.n - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
                 * (CAST(tf AS DOUBLE) * 2.2)
                 / (CAST(tf AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / stats.avgdl)) AS c
          FROM tf JOIN dfreq USING (term) JOIN lens USING (id), stats
        ),
        pivoted AS (
          SELECT id,
                 max(CASE WHEN term = 'spark' THEN c END) AS c0,
                 max(CASE WHEN term = 'merge' THEN c END) AS c1,
                 max(CASE WHEN term = 'window' THEN c END) AS c2
          FROM contrib GROUP BY id
        ),
        scored AS (
          SELECT id AS doc_id,
                 coalesce(c0, 0.0) + coalesce(c1, 0.0) + coalesce(c2, 0.0) AS score
          FROM pivoted
        )
        SELECT doc_id, score, rank FROM (
          SELECT doc_id, score,
                 row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
          FROM scored
        ) WHERE rank <= 10
    """,
    "ngram_topk": f"""
        WITH grams AS (SELECT unnest({_SHINGLES2}) AS gram FROM documents),
        counts AS (SELECT gram, count(*) AS c FROM grams GROUP BY gram)
        SELECT gram, c, rank FROM (
          SELECT gram, c,
                 row_number() OVER (ORDER BY c DESC, gram ASC) AS rank
          FROM counts
        ) WHERE rank <= 20
    """,
    "mixing_rates": """
        WITH per AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source
        )
        SELECT source, n_docs, n_tokens,
               CAST(CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
                                WHEN 'src2' THEN 0.2 ELSE 0.0 END AS DOUBLE) AS weight,
               least(CAST(1.0 AS DOUBLE),
                     CAST(10000.0 AS DOUBLE)
                     * CAST(CASE source WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3
                                        WHEN 'src2' THEN 0.2 ELSE 0.0 END AS DOUBLE)
                     / CAST(n_tokens AS DOUBLE)) AS sample_rate
        FROM per
    """,
    # Replays the deterministic stub encoder (md5-of-content-hex → 8 doubles)
    # and the sequential-fold cosine, verifying binary→embedding→dedup
    # end-to-end. 0x-prefixed hex parse == Python int(h[:8], 16).
    "media_embed_neardup": """
        WITH emb AS (
          SELECT doc_id, list_transform(range(0, 8), i ->
            CAST(CAST('0x' || substr(
                   md5(lower(hex(encode(text))) || '_' || i), 1, 8) AS BIGINT)
                 AS DOUBLE) / 4294967296.0) AS v
          FROM documents
        ),
        pairs AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 list_reduce(list_prepend(0.0,
                   list_transform(range(1, 9), i -> a.v[i] * b.v[i])),
                   (acc, x) -> acc + x)
                 / (sqrt(list_reduce(list_prepend(0.0,
                      list_transform(range(1, 9), i -> a.v[i] * a.v[i])),
                      (acc, x) -> acc + x))
                    * sqrt(list_reduce(list_prepend(0.0,
                        list_transform(range(1, 9), i -> b.v[i] * b.v[i])),
                        (acc, x) -> acc + x))) AS cos_sim
          FROM emb a JOIN emb b ON a.doc_id < b.doc_id
        )
        SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.99
    """,
    "split_assign": """
        SELECT doc_id,
               CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) AS BIGINT) % 100 AS bucket,
               CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) % 100 < 98 THEN 'train'
                    WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) % 100 < 99 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """,
    # Replays the whole RAG-ingest composition: chunking (as in
    # chunk_documents), the md5 stub encoder per chunk, and the sequential-
    # fold cosine against the fixed query vector (literals = Python reprs of
    # _encode_stub("spark merge window batch"), round-trip exact).
    "rag_chunk_topk": f"""
        WITH chunks AS (
          SELECT doc_id * 100 + i AS cid,
                 array_to_string(list_slice({_W}, i*48 + 1, i*48 + 64), ' ') AS chunk_text
          FROM documents, range(0, 64) t(i)
          WHERE i < greatest(1, CAST(ceil((len({_W}) - 64) / 48.0) AS INT) + 1)
        ),
        emb AS (
          SELECT cid, list_transform(range(0, 8), i ->
            CAST(CAST('0x' || substr(
                   md5(lower(hex(encode(chunk_text))) || '_' || i), 1, 8) AS BIGINT)
                 AS DOUBLE) / 4294967296.0) AS v
          FROM chunks
        ),
        q AS (
          -- string-cast each element: DuckDB types bare numeric literals as
          -- DECIMAL(17,16), whose DOUBLE conversion is 1 ulp off strtod
          SELECT [CAST('0.9128572547342628' AS DOUBLE),
                  CAST('0.9738500406965613' AS DOUBLE),
                  CAST('0.7075267389882356' AS DOUBLE),
                  CAST('0.7608565995469689' AS DOUBLE),
                  CAST('0.5671812151558697' AS DOUBLE),
                  CAST('0.5354926153086126' AS DOUBLE),
                  CAST('0.9292609789408743' AS DOUBLE),
                  CAST('0.9735089344903827' AS DOUBLE)] AS qv
        ),
        scored AS (
          SELECT cid,
                 list_reduce(list_prepend(0.0,
                   list_transform(range(1, 9), i -> v[i] * qv[i])),
                   (acc, x) -> acc + x)
                 / (sqrt(list_reduce(list_prepend(0.0,
                      list_transform(range(1, 9), i -> v[i] * v[i])),
                      (acc, x) -> acc + x))
                    * sqrt(list_reduce(list_prepend(0.0,
                        list_transform(range(1, 9), i -> qv[i] * qv[i])),
                        (acc, x) -> acc + x))) AS cos_sim
          FROM emb, q
        )
        SELECT cid, cos_sim, rank FROM (
          SELECT cid, cos_sim,
                 row_number() OVER (ORDER BY cos_sim DESC, cid ASC) AS rank
          FROM scored
        ) WHERE rank <= 10
    """,
    "decontaminate_overlap": f"""
        WITH bset AS (
          SELECT DISTINCT s FROM (
            SELECT unnest(list_distinct({_SHINGLES5})) AS s
            FROM documents WHERE doc_id % 100 < 2
          )
        ),
        dg AS (
          SELECT doc_id, unnest(list_distinct({_SHINGLES5})) AS s
          FROM documents WHERE doc_id % 100 >= 2
        )
        SELECT doc_id, count(*) AS n_overlapping
        FROM dg JOIN bset USING (s) GROUP BY doc_id
    """,
    "orders_history": """
        SELECT o_custkey, o_orderkey,
               epoch_ms(o_orderdate) AS valid_from_ms,
               epoch_ms(lead(o_orderdate) OVER w) AS valid_to_ms,
               lead(o_orderdate) OVER w IS NULL AS is_current
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC)
    """,
    "top_events_salted": """
        SELECT event_id, event_type, value, rank FROM (
          SELECT event_id, event_type, value,
                 CAST(row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY value DESC, event_id ASC) AS INT) AS rank
          FROM events)
        WHERE rank <= 3
    """,
    "events_funnel": """
        WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000000 AS ts_ms
                   FROM events),
        u1 AS (
          SELECT user_id,
                 min(CASE WHEN event_type = 'signup' THEN ts_ms END) AS t1
          FROM e GROUP BY user_id),
        u2 AS (
          SELECT e.user_id, u1.t1,
                 min(CASE WHEN event_type = 'view' AND ts_ms > t1 THEN ts_ms END) AS t2
          FROM e JOIN u1 USING (user_id) GROUP BY e.user_id, u1.t1),
        u3 AS (
          SELECT e.user_id, u2.t1, u2.t2,
                 min(CASE WHEN event_type = 'purchase' AND ts_ms > t2 THEN ts_ms END) AS t3
          FROM e JOIN u2 USING (user_id) GROUP BY e.user_id, u2.t1, u2.t2)
        SELECT count(t1) AS n_signup,
               count(t2) AS n_view_after_signup,
               count(t3) AS n_purchase_after_view
        FROM u3
    """,
    "events_retention": """
        WITH e AS (
          SELECT user_id, (epoch_ns(ts) // 1000000) // 604800000 AS week
          FROM events),
        c AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id)
        SELECT cohort_week, week - cohort_week AS week_offset,
               count(DISTINCT e.user_id) AS n_users
        FROM e JOIN c USING (user_id)
        GROUP BY cohort_week, week_offset
    """,
    # the composed curation chain, stage by stage as CTEs
    # The FULL composed pipeline replayed stage by stage: quality filter →
    # exact dedup → exact-Jaccard closure survivors (the LSH mirror) →
    # span decontamination with drop/splice/re-chunk (w=4, margin 2) →
    # per-source calibration decile filter (NULLS LAST, integer ranks) →
    # token-budget mixing (md5 bucket under the per-source rate) →
    # contiguous packing (prefix sum over uid order) → md5 shuffle keys →
    # md5 shard buckets. Segment uid = doc_id*1000000 + seg (the Spark
    # side raise_errors past the base; the oracle replays the arithmetic).
    "corpus_pipeline_full": f"""
        WITH RECURSIVE
        train AS (
          SELECT doc_id, text, source FROM documents WHERE doc_id % 100 >= 2),
        scored AS (
          SELECT doc_id, text, source, {_QUALITY_EXPR} AS quality FROM train),
        qf AS (SELECT * FROM scored WHERE quality >= 0.24),
        reps AS (SELECT min(doc_id) AS rid FROM qf GROUP BY md5(text)),
        dd AS MATERIALIZED (
          SELECT * FROM qf WHERE doc_id IN (SELECT rid FROM reps)),
        ds AS (
          SELECT doc_id, unnest(list_distinct({_SHINGLES3})) AS s FROM dd),
        szs AS (SELECT doc_id, count(*) AS sz FROM ds GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
          FROM ds a JOIN ds b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        p AS (
          SELECT id_a, id_b FROM inter
          JOIN szs sa ON id_a = sa.doc_id
          JOIN szs sb ON id_b = sb.doc_id
          WHERE CAST(inter AS DOUBLE)
                / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.5),
        edges AS (
          SELECT id_a AS src, id_b AS dst FROM p
          UNION
          SELECT id_b AS src, id_a AS dst FROM p),
        reach AS (
          SELECT src AS id, src AS r FROM edges
          UNION
          SELECT e.src AS id, r.r FROM edges e JOIN reach r ON r.id = e.dst),
        comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
        surv AS MATERIALIZED (
          SELECT * FROM dd
          WHERE doc_id NOT IN (SELECT id FROM comp WHERE id != component)),
        toks AS (
          SELECT doc_id, text, source,
                 list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM surv),
        g AS (
          SELECT doc_id, u.i AS pos, array_to_string(t[u.i:u.i+3], ' ')
                 AS gram
          FROM toks,
               UNNEST(generate_series(1, greatest(len(t)-3, 0))) AS u(i)),
        btoks AS (
          SELECT list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents WHERE doc_id % 100 < 2),
        b AS (
          SELECT DISTINCT array_to_string(t[u.i:u.i+3], ' ') AS gram
          FROM btoks,
               UNNEST(generate_series(1, greatest(len(t)-3, 0))) AS u(i)),
        h AS (SELECT g.doc_id, g.pos FROM g JOIN b USING (gram)),
        isl AS (
          SELECT doc_id, pos,
                 max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_end
          FROM h),
        cov AS (
          SELECT doc_id,
                 SUM(GREATEST(0, (pos + 4)
                     - GREATEST(pos, COALESCE(prev_end, 0)))) AS ct
          FROM isl GROUP BY doc_id),
        iv AS (
          SELECT doc_id, GREATEST(1, pos - 2) AS s, pos + 6 AS e FROM h),
        ivp AS (
          SELECT doc_id, s, e,
                 COALESCE(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS pe
          FROM iv),
        ivg AS (
          SELECT doc_id, s, e,
                 SUM(CASE WHEN s > pe THEN 1 ELSE 0 END) OVER (
                   PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
          FROM ivp),
        spans AS (
          SELECT doc_id, grp, min(s) AS s, max(e) AS e
          FROM ivg GROUP BY doc_id, grp),
        sbounds AS (
          SELECT doc_id,
                 COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1)
                   AS st,
                 s - 1 AS en
          FROM spans
          UNION ALL
          SELECT s.doc_id, max(s.e) AS st, max(len(t.t)) AS en
          FROM spans s JOIN toks t USING (doc_id) GROUP BY s.doc_id),
        segs AS (
          SELECT doc_id, st, en,
                 row_number() OVER (PARTITION BY doc_id ORDER BY st) AS seg
          FROM sbounds WHERE st <= en),
        verdict AS (
          SELECT t.doc_id, t.source, len(t.t) AS total_tokens,
                 COALESCE(c.ct, 0) AS ct
          FROM toks t LEFT JOIN cov c USING (doc_id)),
        clean AS MATERIALIZED (
          -- keep rows (no contamination) pass the raw text through
          SELECT v.doc_id * 1000000 + 1 AS uid, v.source, t.text AS text
          FROM verdict v JOIN toks t USING (doc_id)
          WHERE v.ct = 0
          UNION ALL
          -- sub-threshold docs: each surviving run its own row
          SELECT v.doc_id * 1000000 + s.seg AS uid, v.source,
                 array_to_string(t.t[s.st:s.en], ' ') AS text
          FROM verdict v
          JOIN segs s USING (doc_id)
          JOIN toks t USING (doc_id)
          WHERE v.ct > 0 AND v.ct * 1000000 <= 500000 * v.total_tokens),
        qb AS (
          SELECT uid, source, text,
                 CAST(floor(1000000 * ({_QUALITY_EXPR})) AS BIGINT) AS qbin
          FROM clean),
        ranked AS (
          SELECT uid, source, text, qbin,
                 RANK() OVER (PARTITION BY source
                              ORDER BY qbin NULLS LAST) - 1 AS below,
                 COUNT(*) OVER (PARTITION BY source) AS n_src
          FROM qb),
        kept AS MATERIALIZED (
          SELECT uid, source, text,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
          FROM ranked
          WHERE (CASE WHEN n_src > 1
                      THEN (below * 1000000) // (n_src - 1)
                      ELSE 0 END) >= 100000),
        srctok AS (
          SELECT source, SUM(n_tokens) AS tok_s FROM kept GROUP BY source),
        thr AS (
          SELECT source,
                 CAST(floor(least(1.0, 15000.0 * 0.05
                       / CAST(tok_s AS DOUBLE)) * 1000000) AS BIGINT) AS thr
          FROM srctok),
        mixed AS MATERIALIZED (
          SELECT k.uid, k.source, k.text, k.n_tokens
          FROM kept k JOIN thr USING (source)
          WHERE CAST(('0x' || substr(md5(CAST(k.uid AS VARCHAR)), 1, 8))
                     AS BIGINT) % 1000000 < thr.thr),
        packed AS (
          SELECT uid, n_tokens,
                 CAST(floor((SUM(n_tokens) OVER (ORDER BY uid ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - n_tokens) / 512.0) AS BIGINT) AS seq_id
          FROM mixed),
        shuf AS (
          SELECT uid,
                 md5('42:' || CAST(uid AS VARCHAR)) AS skey
          FROM mixed)
        SELECT m.uid, m.source, m.n_tokens, p2.seq_id,
               CAST(CAST('0x' || substr(md5(CAST(m.uid AS VARCHAR)), 1, 8)
                    AS BIGINT) % 16 AS BIGINT) AS shard,
               CAST(CAST('0x' || substr(s.skey, 1, 1) AS BIGINT) AS INT)
                 AS part,
               ROW_NUMBER() OVER (
                 PARTITION BY substr(s.skey, 1, 1)
                 ORDER BY s.skey, m.uid) AS pos
        FROM mixed m
        JOIN packed p2 USING (uid)
        JOIN shuf s USING (uid)
    """,
    "corpus_curation": f"""
        WITH scored AS (
          SELECT doc_id, lang, text,
                 {_QUALITY_EXPR} AS quality
          FROM documents WHERE doc_id % 100 >= 2),
        qf AS (SELECT * FROM scored WHERE quality >= 0.24),
        reps AS (SELECT min(doc_id) AS rid FROM qf GROUP BY md5(text)),
        dd AS (SELECT * FROM qf WHERE doc_id IN (SELECT rid FROM reps)),
        bset AS (
          SELECT DISTINCT s FROM (
            SELECT unnest(list_distinct({_SHINGLES5})) AS s
            FROM documents WHERE doc_id % 100 < 2)),
        contaminated AS (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_id, unnest(list_distinct({_SHINGLES5})) AS s FROM dd) dg
          JOIN bset USING (s)),
        clean AS (SELECT * FROM dd
          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        sampled AS (SELECT * FROM clean
          WHERE doc_id % 100 < (CASE WHEN lang = 'en' THEN 80 ELSE 50 END))
        SELECT doc_id, lang, len({_W}) AS n_tokens, quality FROM sampled
    """,
    # the incremental batch-vs-state curation chain, stage by stage: state =
    # all base docs (doc_id % 7 != 0), batch = doc_id % 7 = 0; near-dup rule:
    # drop a batch doc iff a smaller-id Jaccard>=0.5 partner exists anywhere
    "curate_incremental": f"""
        WITH scored AS (
          SELECT doc_id, lang, text,
                 {_QUALITY_EXPR} AS quality
          FROM documents WHERE doc_id % 7 = 0),
        q1 AS (SELECT * FROM scored WHERE quality >= 0.24),
        q2 AS (SELECT * FROM q1 WHERE md5(text) NOT IN (
          SELECT md5(text) FROM documents WHERE doc_id % 7 != 0)),
        reps AS (SELECT min(doc_id) AS rid FROM q2 GROUP BY md5(text)),
        q3 AS (SELECT * FROM q2 WHERE doc_id IN (SELECT rid FROM reps)),
        bset AS (
          SELECT DISTINCT s FROM (
            SELECT unnest(list_distinct({_SHINGLES5})) AS s
            FROM documents WHERE doc_id % 100 < 2)),
        contaminated AS (
          SELECT DISTINCT doc_id FROM (
            SELECT doc_id, unnest(list_distinct({_SHINGLES5})) AS s FROM q3) dg
          JOIN bset USING (s)),
        q4 AS (SELECT * FROM q3
          WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
        pairs AS ({_JACCARD_PAIRS}),
        q5 AS (SELECT * FROM q4 WHERE doc_id NOT IN (
          SELECT id_b FROM pairs WHERE id_b % 7 = 0))
        SELECT doc_id, lang, len({_W}) AS n_tokens, quality FROM q5
    """,
    # pruned right-to-be-forgotten over the curation state: the stores are
    # pure derivations of the input subset, so the post-retraction state is
    # exactly "subset minus retracted" (corpus) and "distinct md5 of the
    # survivors" (hashes — a hash shared with a retracted doc survives)
    # one deletion request across state/output/index with an audit record:
    # the request id is md5 over the JSON array of the sorted ids
    # ('[0,33,9]' — string sort), per-artifact removal counts derive from
    # the base tables (state records the request size; output/index count
    # matching rows)
    "rtbf_audit": """
        WITH req AS (SELECT md5('[0,33,4,9]') AS request_id, 4 AS n_ids)
        SELECT request_id, CAST(n_ids AS BIGINT) AS n_ids, TRUE AS completed,
               'index' AS artifact,
               (SELECT COUNT(*) FROM embeddings WHERE vec_id IN (0, 4, 9, 33))
                 AS removed
        FROM req
        UNION ALL
        SELECT request_id, CAST(n_ids AS BIGINT), TRUE, 'output',
               (SELECT COUNT(*) FROM documents
                WHERE doc_id % 3 = 0 AND doc_id IN (0, 4, 9, 33))
        FROM req
        UNION ALL
        SELECT request_id, CAST(n_ids AS BIGINT), TRUE, 'state',
               CAST(n_ids AS BIGINT)
        FROM req
    """,
    "state_pruned_retraction": """
        WITH subset AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        kept AS (
          SELECT * FROM subset
          WHERE doc_id NOT IN (10, 45, 105, 1000000000))
        SELECT 'corpus' AS store, CAST(doc_id AS VARCHAR) AS k FROM kept
        UNION ALL
        SELECT DISTINCT 'hash' AS store, md5(text) AS k FROM kept
    """,
    # right-to-be-forgotten over the PUBLISHED output: what a plain reader
    # sees after retract_from_output is exactly the subset minus the ids
    "output_retraction": """
        SELECT doc_id, lang FROM documents
        WHERE doc_id % 3 = 0 AND doc_id NOT IN (0, 9, 12, 33, 1000000000)
    """,
    # general as-of join: nearest-earlier order per event, largest
    # (order_ms, o_orderkey) wins; LEFT JOIN keeps no-order events
    "asof_join_orders": """
        WITH ev AS (
          SELECT user_id AS k, event_id, epoch_ns(ts) // 1000000 AS ev_ms
          FROM events),
        o AS (
          SELECT o_custkey AS k, epoch_ms(o_orderdate) AS order_ms,
                 o_orderkey, o_totalprice
          FROM orders),
        j AS (
          SELECT ev.k, ev.event_id, ev.ev_ms, o.o_orderkey, o.o_totalprice,
                 row_number() OVER (PARTITION BY ev.event_id
                   ORDER BY o.order_ms DESC, o.o_orderkey DESC) AS rn
          FROM ev LEFT JOIN o ON o.k = ev.k AND o.order_ms <= ev.ev_ms
        )
        SELECT k AS user_id, event_id, ev_ms,
               o_orderkey AS asof_o_orderkey, o_totalprice AS asof_o_totalprice
        FROM j WHERE rn = 1
    """,
    # ---- dedup / similarity / text / multimodal --------------------------
    "dedup_exact": """
        SELECT md5(text) AS content_hash, min(doc_id) AS rep_id, count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    "dedup_exact_canonical": r"""
        WITH c AS (
          SELECT doc_id,
                 trim(regexp_replace(regexp_replace(lower(text),
                   '[^\p{L}\p{N} ]', ' ', 'g'), ' +', ' ', 'g')) AS canon
          FROM documents
        )
        SELECT md5(canon) AS canon_hash,
               min(doc_id) AS rep_id, count(*) AS n_variants
        FROM c WHERE canon <> '' GROUP BY 1
    """,
    "dedup_ngram_jaccard": _JACCARD_PAIRS,
    # LSH with 64 bands × 2 rows has miss probability ≤ 1e-8 per true pair at
    # j ≥ 0.5, and every candidate is verified with exact Jaccard — so its
    # output equals the exact algorithm's.
    "dedup_minhash_lsh": _JACCARD_PAIRS,
    # incremental run emits exactly the exact-Jaccard pairs touching the
    # ingest batch (doc_id % 7 = 0); banding recall is exact on this corpus
    "neardup_incremental": (
        f"SELECT * FROM ({_JACCARD_PAIRS}) p WHERE id_a % 7 = 0 OR id_b % 7 = 0"
    ),
    "dedup_simhash": _simhash_oracle(),
    "ann_lsh_topk": _lsh_ann_oracle(),
    "ann_ivf_topk": _ivf_ann_oracle(),
    # index trained on vec_id % 5 != 0, batch upserted without retraining:
    # same query set answered over ALL vectors assigned to the base centroids
    "ann_ivf_upsert": _ivf_ann_oracle(train_where="vec_id % 5 != 0"),
    "ann_pq_topk": _pq_oracle(),
    "ann_pq_rerank": _pq_rerank_oracle(),
    "ann_ivfpq_topk": _ivfpq_oracle(),
    "ann_ivfpq_residual": _ivfpq_residual_oracle(),
    "ann_ivfpq_rerank": _ivfpq_residual_oracle(rerank=50),
    # same parameters, same output — the saved-index path round-trips floats
    # bit-exactly, so it shares the replayed-kmeans oracle
    "ann_ivf_saved": _ivf_ann_oracle(),
    # index trained on ALL vectors, vec_id % 7 == 0 deleted from the cells
    # afterwards: same replayed kmeans, victims filtered from candidates only
    "ann_index_delete": _ivf_ann_oracle(cand_where="a.vec_id % 7 != 0"),
    "dedup_semantic": _semantic_dedup_oracle(),
    "ann_cosine_topk": f"""
        WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 ({_dot('q', 'c')})
                 / (sqrt({_dot('q', 'q')}) * sqrt({_dot('c', 'c')})) AS cos_sim
          FROM q, embeddings c
          WHERE c.vec_id <> q.vec_id
        )
        SELECT query_id, neighbor_id, cos_sim, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
          FROM scored
        ) WHERE rank <= 5
    """,
    "emb_centroids": f"""
        SELECT label, i AS dim_idx,
               CAST(SUM(CAST(floor(CAST(embedding[i + 1] AS DOUBLE)
                                   * 1000000000000.0) AS BIGINT)) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) / 1000000000000.0 AS centroid
        FROM embeddings, range(0, {DIM}) t(i)
        GROUP BY label, i
    """,
    "text_token_stats": f"""
        SELECT doc_id,
               len({_W}) AS n_tokens_ws,
               len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))
                 AS n_tokens_re,
               length(text) AS n_chars_computed
        FROM documents
    """,
    "text_quality": f"""
        SELECT doc_id,
               {_stop_ratio(_EN_STOPS)} AS stopword_ratio,
               CAST(list_sum(list_transform({_W}, t -> length(t))) AS DOUBLE)
                 / CAST(len({_W}) AS DOUBLE) AS avg_word_len,
               {_QUALITY_EXPR} AS quality
        FROM documents
    """,
    "text_lang_id": f"""
        SELECT doc_id,
               CASE
                 WHEN ({_stop_ratio(_EN_STOPS)}) >= ({_stop_ratio(_DE_STOPS)})
                  AND ({_stop_ratio(_EN_STOPS)}) >= ({_stop_ratio(_FR_STOPS)})
                  AND ({_stop_ratio(_EN_STOPS)}) >= 0.02 THEN 'en'
                 WHEN ({_stop_ratio(_DE_STOPS)}) >= ({_stop_ratio(_FR_STOPS)})
                  AND ({_stop_ratio(_DE_STOPS)}) >= 0.02 THEN 'de'
                 WHEN ({_stop_ratio(_FR_STOPS)}) >= 0.02 THEN 'fr'
                 ELSE 'und'
               END AS lang_pred
        FROM documents
    """,
    "text_fingerprint": f"""
        SELECT doc_id,
               CASE WHEN len({_W}) >= 5 THEN
                 list_min(list_transform(range(1, len({_W}) - 3), i ->
                   md5({_W}[i] || ' ' || {_W}[i+1] || ' ' || {_W}[i+2]
                       || ' ' || {_W}[i+3] || ' ' || {_W}[i+4])))
               ELSE md5(text) END AS fingerprint
        FROM documents
    """,
    "events_rolling": """
        SELECT event_id, user_id,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
                 / COUNT(*) OVER w AS roll_mean,
               COUNT(*) OVER w AS frame_n
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    "user_streaks": """
        WITH days AS (
          SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day
          FROM events),
        isl AS (
          SELECT user_id, day,
                 day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                   AS island
          FROM days),
        st AS (
          SELECT user_id, island, COUNT(*) AS streak_len
          FROM isl GROUP BY user_id, island)
        SELECT user_id, CAST(SUM(streak_len) AS BIGINT) AS n_days,
               MAX(streak_len) AS longest_streak
        FROM st GROUP BY user_id
    """,
    "snapshot_diff": """
        WITH a AS (
          SELECT o_orderkey, o_totalprice, o_orderstatus
          FROM orders WHERE o_orderkey % 10 < 8),
        b AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1.0
                      ELSE o_totalprice END AS o_totalprice,
                 o_orderstatus
          FROM orders WHERE o_orderkey % 10 >= 1),
        d AS (
          SELECT COALESCE(b.o_totalprice, a.o_totalprice) AS o_totalprice,
                 CASE WHEN a.o_orderkey IS NULL THEN 'added'
                      WHEN b.o_orderkey IS NULL THEN 'removed'
                      WHEN a.o_totalprice IS NOT DISTINCT FROM b.o_totalprice
                       AND a.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
                        THEN 'unchanged'
                      ELSE 'changed' END AS change_type
          FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
        SELECT change_type, COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS price_sum
        FROM d GROUP BY change_type
    """,
    "winsorize_values": """
        WITH b AS (
          SELECT event_type,
                 quantile_cont(value, 0.05) AS p_lo,
                 quantile_cont(value, 0.95) AS p_hi
          FROM events GROUP BY event_type)
        SELECT e.event_type, COUNT(*) AS n,
               MIN(b.p_lo) AS p_lo, MIN(b.p_hi) AS p_hi,
               CAST(SUM(CAST(least(greatest(e.value, b.p_lo), b.p_hi)
                             AS DECIMAL(18,4))) AS DOUBLE) AS clipped_sum
        FROM events e JOIN b USING (event_type)
        GROUP BY e.event_type
    """,
    "numeric_corr": """
        -- integer moments: quantity is integral, extendedprice is 2-decimal;
        -- width-18 integer operands give product widths 36/37 under either
        -- the p1+p2 or p1+p2+1 decimal product rule — below every engine's
        -- 38-digit cap (corr is invariant under the 100x rescale of y).
        -- ALL-INTEGER output: corr_e8 = FLOOR(corr*1e8 + 0.5) in pure double
        -- arithmetic (no double->DECIMAL cast whose HALF_UP/HALF_EVEN mode
        -- is engine-version-dependent — that flipped the r07/r08 hashes);
        -- the exact moment sums ship mod 1e18 so any future mismatch
        -- localizes to one column.
        WITH i AS (
          -- pairwise-complete rows only (standard corr semantics; matches
          -- exact_corr's complete-pair mask — no nulls in lineitem, so the
          -- filter is a no-op here but keeps the two definitions aligned)
          SELECT l_returnflag,
                 CAST(ROUND(l_quantity, 0) AS DECIMAL(18,0)) AS xi,
                 CAST(ROUND(l_extendedprice * 100, 0) AS DECIMAL(18,0)) AS yi
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        m AS (
          SELECT l_returnflag,
                 COUNT(*) AS n_rows,
                 SUM(xi) AS sx_d,
                 SUM(yi) AS sy_d,
                 SUM(xi * yi) AS sxy_d,
                 SUM(xi * xi) AS sx2_d,
                 SUM(yi * yi) AS sy2_d
          FROM i GROUP BY l_returnflag),
        d AS (
          SELECT l_returnflag, n_rows,
                 CAST(n_rows AS DOUBLE) AS n,
                 CAST(sx_d AS DOUBLE) AS sx, CAST(sy_d AS DOUBLE) AS sy,
                 CAST(sxy_d AS DOUBLE) AS sxy,
                 CAST(sx2_d AS DOUBLE) AS sx2, CAST(sy2_d AS DOUBLE) AS sy2,
                 sx_d, sy_d, sxy_d, sx2_d, sy2_d
          FROM m)
        SELECT l_returnflag, CAST(n_rows AS BIGINT) AS n,
               -- NULL on zero variance, matching exact_corr's defined-gate
               CASE WHEN (sx2 * n - sx * sx) > 0 AND (sy2 * n - sy * sy) > 0
                    THEN CAST(FLOOR((sxy * n - sx * sy)
                      / (sqrt(sx2 * n - sx * sx) * sqrt(sy2 * n - sy * sy))
                      * 1e8 + 0.5) AS BIGINT)
               END AS corr_e8,
               CAST(sx_d % 1000000000000000000 AS BIGINT) AS sx_m,
               CAST(sy_d % 1000000000000000000 AS BIGINT) AS sy_m,
               CAST(sxy_d % 1000000000000000000 AS BIGINT) AS sxy_m,
               CAST(sx2_d % 1000000000000000000 AS BIGINT) AS sx2_m,
               CAST(sy2_d % 1000000000000000000 AS BIGINT) AS sy2_m
        FROM d
    """,
    "quality_expectations": """
        WITH agg AS (
          SELECT COUNT(*) AS total,
            SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
              AS null_custkey,
            SUM(CASE WHEN o_totalprice <= 0.0 THEN 1 ELSE 0 END)
              AS nonpositive_price,
            SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
              AS bad_status,
            SUM(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01' THEN 1 ELSE 0
                END) AS date_before_1990,
            SUM(CASE WHEN o_totalprice > 500000.0 THEN 1 ELSE 0 END)
              AS price_over_500k
          FROM orders)
        SELECT check_name, CAST(violations AS BIGINT) AS violations, total,
               CAST(violations AS DOUBLE) / total AS violation_rate
        FROM (
          SELECT 'null_custkey' AS check_name, null_custkey AS violations,
                 total FROM agg
          UNION ALL SELECT 'nonpositive_price', nonpositive_price, total
                 FROM agg
          UNION ALL SELECT 'bad_status', bad_status, total FROM agg
          UNION ALL SELECT 'date_before_1990', date_before_1990, total
                 FROM agg
          UNION ALL SELECT 'price_over_500k', price_over_500k, total FROM agg)
    """,
    # ---- training-export data layout -----------------------------------
    "shard_manifest": """
        SELECT CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 16 AS BIGINT) AS shard,
               COUNT(*) AS n_rows,
               MIN(doc_id) AS min_id,
               MAX(doc_id) AS max_id,
               CAST(SUM(n_chars) AS BIGINT) AS total_size
        FROM documents
        GROUP BY 1
    """,
    "corpus_shuffle": """
        WITH k AS (
          SELECT doc_id, md5('42:' || CAST(doc_id AS VARCHAR)) AS skey
          FROM documents
        )
        SELECT doc_id,
               CAST(CAST('0x' || substr(skey, 1, 1) AS BIGINT) AS INT) AS part,
               ROW_NUMBER() OVER (
                 PARTITION BY substr(skey, 1, 1) ORDER BY skey, doc_id) AS pos
        FROM k
    """,
    # File-level data skipping only changes WHICH files Spark opens — the
    # result is a plain 2-D range scan, which is the whole correctness
    # contract of the stats-pruned read.
    "zorder_pruned_scan": """
        SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ts_ms
        FROM events
        WHERE user_id BETWEEN 3 AND 7
          AND epoch_ns(ts) // 1000000 BETWEEN 1704500000000 AND 1705500000000
    """,
    # base + appended generation read back through the carried stats: the
    # result is just the same filtered scan over ALL events
    "zorder_append_scan": """
        SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ts_ms
        FROM events
        WHERE user_id BETWEEN 3 AND 7
          AND epoch_ns(ts) // 1000000 BETWEEN 1704500000000 AND 1705500000000
    """,
    # retraction from the skipping table: the post-retraction full scan is
    # the plain table minus the retracted ids (absent ids are no-ops)
    "zorder_retraction": """
        SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ts_ms
        FROM events
        WHERE event_id NOT IN (1, 2, 3, 40, 41)
    """,
    # compaction must be read-invisible: the post-merge skipping scan equals
    # the plain filtered scan of every generation's rows
    "zorder_compact_scan": """
        SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ts_ms
        FROM events
        WHERE user_id BETWEEN 2 AND 6
          AND epoch_ns(ts) // 1000000 BETWEEN 1704600000000 AND 1705400000000
    """,
    # Bit-for-bit replay of the Morton interleave: the same integer-exact
    # bucketing ((x - min) // width, width = span // 2^16 + 1) then bit j of
    # user_id to position 2j+1 and of ts_ms to 2j.
    "zorder_events": f"""
        WITH e AS (
          SELECT event_id, user_id, epoch_ns(ts) // 1000000 AS ts_ms FROM events
        ),
        b AS (
          SELECT MIN(user_id) AS lu, MAX(user_id) AS hu,
                 MIN(ts_ms) AS lt, MAX(ts_ms) AS ht
          FROM e
        ),
        k AS (
          SELECT event_id,
                 CASE WHEN (hu - lu) >= 65536
                      THEN (user_id - lu) // (((hu - lu) // 65536) + 1)
                      ELSE (user_id - lu) * (65535 // greatest(hu - lu, 1)) END AS bu,
                 CASE WHEN (ht - lt) >= 65536
                      THEN (ts_ms - lt) // (((ht - lt) // 65536) + 1)
                      ELSE (ts_ms - lt) * (65535 // greatest(ht - lt, 1)) END AS bt
          FROM e, b
        )
        SELECT event_id,
               CAST({" + ".join(
                   f"(((bu >> {j}) & 1) << {2 * j + 1}) + (((bt >> {j}) & 1) << {2 * j})"
                   for j in range(16)
               )} AS BIGINT) AS zkey
        FROM k
    """,
    "multimodal_meta": """
        SELECT doc_id AS media_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_hash,
               CAST(64 + octet_length(encode(text)) % 64 AS INT) AS width,
               CAST(64 + CAST(floor(octet_length(encode(text)) / 64.0) AS BIGINT) % 64
                    AS INT) AS height
        FROM documents
    """,
    # -- substring-level dedup (r9): exact duplicated w-token spans --------
    # tokenization is whitespace-split with empties dropped on BOTH sides;
    # 8-gram windows enumerated 1-based; list slicing is inclusive in
    # DuckDB (t[i:i+7] = 8 elements) where Spark's slice(t, i, 8) takes a
    # length — same window either way.
    "dup_spans": """
        WITH toks AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
                 AS t
          FROM documents),
        g AS (
          SELECT doc_id, u.i AS pos, array_to_string(t[u.i:u.i+7], ' ')
                 AS gram
          FROM toks,
               UNNEST(generate_series(1, greatest(len(t)-7, 0))) AS u(i))
        SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_occurrences
        FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    # per-document interval union of the duplicated [pos, pos+8) spans —
    # the classic gaps-and-islands running max; zero-coverage documents
    # kept via the left join
    "dup_span_coverage": """
        WITH toks AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
                 AS t
          FROM documents),
        g AS (
          SELECT doc_id, u.i AS pos, array_to_string(t[u.i:u.i+7], ' ')
                 AS gram
          FROM toks,
               UNNEST(generate_series(1, greatest(len(t)-7, 0))) AS u(i)),
        d AS (
          SELECT gram FROM g GROUP BY gram
          HAVING COUNT(DISTINCT doc_id) >= 2),
        h AS (SELECT g.doc_id, g.pos FROM g JOIN d USING (gram)),
        isl AS (
          SELECT doc_id, pos,
                 max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_end
          FROM h),
        cov AS (
          SELECT doc_id,
                 SUM(GREATEST(0, (pos + 8)
                     - GREATEST(pos, COALESCE(prev_end, 0)))) AS dup_tokens
          FROM isl GROUP BY doc_id)
        SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS total_tokens,
               CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_tokens
        FROM toks t LEFT JOIN cov c USING (doc_id)
    """,
    # -- streaming wrappers replayed through the real writeStream path (r9) --
    # The stateful sessionizer with no idle timeout emits exactly the
    # gap-closed sessions: batch sessionization minus every user's final
    # (still-open) session. Duplicate timestamps extend like the stream's
    # sorted-ts fold, so the event_id tiebreak cannot change the output.
    "stream_sessionize_replay": """
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w) > 1800000000000
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
          SELECT user_id, ts,
                 CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_id
          FROM flagged
        ), agg AS (
          SELECT user_id, session_id, COUNT(*) AS n_events,
                 epoch_ns(min(ts)) // 1000000 AS start_ms,
                 epoch_ns(max(ts)) // 1000000 AS end_ms
          FROM sess GROUP BY user_id, session_id
        )
        SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
               start_ms, end_ms, 'gap' AS closed_by
        FROM agg a
        WHERE session_id < (SELECT MAX(session_id) FROM agg b
                            WHERE b.user_id = a.user_id)
    """,
    # Inner stream-stream interval join over availableNow replays every
    # matching (click, purchase-within-2h) pair exactly once; time-ordered
    # batch halves guarantee no buffered row is evicted before its
    # cross-batch partner (the registry query constructs the same split).
    "stream_interval_join": """
        SELECT l.event_id AS click_id, r.event_id AS purchase_id,
               l.user_id AS user_id,
               epoch_ns(l.ts) // 1000000 AS click_ms,
               epoch_ns(r.ts) // 1000000 AS purchase_ms
        FROM events l JOIN events r
          ON l.user_id = r.user_id
         AND l.event_type = 'click' AND r.event_type = 'purchase'
         AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL 2 HOUR
    """,
    # Append-mode watermarked windows: a 6h window reaches the sink iff the
    # final watermark (max event time - 30 min, ms precision) passed its
    # end; later windows are still open at stream end and never emit.
    "stream_windowed_counts": """
        WITH e AS (
          SELECT event_type, epoch_ns(ts) // 1000000 AS ms FROM events
        ), mx AS (SELECT MAX(ms) AS max_ms FROM e)
        SELECT (ms // 21600000) * 21600000 AS window_start_ms,
               (ms // 21600000) * 21600000 + 21600000 AS window_end_ms,
               event_type, COUNT(*) AS n
        FROM e, mx
        GROUP BY 1, 2, event_type, max_ms
        HAVING window_end_ms <= max_ms - 1800000
    """,
    # Streaming IVF ingest lands the SAME final index state as the batch
    # ivf_index_upsert (assignment to existing centroids, union of cells),
    # so it shares that entry's full kmeans-replay oracle.
    "stream_vector_ingest": _ivf_ann_oracle(train_where="vec_id % 5 != 0"),
    # One deletion request across all FOUR artifacts: every per-artifact
    # removed count derives from the base tables; the request id is md5
    # over the canonical sorted-id JSON array (sorted with key=str —
    # lexical — so [0, 9, 33, 4] canonicalizes to '[0,33,4,9]'). Id 4 is
    # deliberately not a multiple of 3 (ADVICE r9): it is removed from the
    # index and the unfiltered zordered table but absent from the %3==0
    # state/output, so the four removed counts genuinely differ and a bug
    # that cross-wires two artifacts' counts fails this oracle.
    "rtbf_all_artifacts": """
        WITH req AS (SELECT md5('[0,33,4,9]') AS request_id, 4 AS n_ids)
        SELECT request_id, CAST(n_ids AS BIGINT) AS n_ids, TRUE AS completed,
               'index' AS artifact,
               (SELECT COUNT(*) FROM embeddings WHERE vec_id IN (0, 4, 9, 33))
                 AS removed
        FROM req
        UNION ALL
        SELECT request_id, CAST(n_ids AS BIGINT), TRUE, 'output',
               (SELECT COUNT(*) FROM documents
                WHERE doc_id % 3 = 0 AND doc_id IN (0, 4, 9, 33))
        FROM req
        UNION ALL
        -- the state artifact records the REQUEST size (retract_from_state
        -- is multi-store and returns no row count; rtbf.py:158-164)
        SELECT request_id, CAST(n_ids AS BIGINT), TRUE, 'state',
               CAST(n_ids AS BIGINT)
        FROM req
        UNION ALL
        SELECT request_id, CAST(n_ids AS BIGINT), TRUE, 'zordered',
               (SELECT COUNT(*) FROM documents WHERE doc_id IN (0, 4, 9, 33))
        FROM req
    """,
    # ---- incremental maintenance folds (r10) -----------------------------
    # Minor state compaction: the folds carry the base, preserve the
    # newest append, and drop planted cross-duplicates — so the final
    # corpus holds every document id exactly once, the untouched hashes
    # store keeps the base's distinct content hashes, and the carry
    # marker is present. All five outputs are pure derivations of the
    # documents table (the fold arithmetic replayed in SQL).
    "compact_state_incremental": """
        WITH ids AS (SELECT doc_id AS id, text FROM documents)
        SELECT CAST((SELECT count(*) FROM ids) AS BIGINT) AS rows_corpus,
               CAST((SELECT count(DISTINCT id) FROM ids) AS BIGINT)
                 AS distinct_corpus,
               CAST((SELECT count(DISTINCT md5(text)) FROM ids
                     WHERE id % 4 <> 0) AS BIGINT) AS rows_hashes,
               1 AS base_carried,
               CAST((SELECT sum(id) FROM ids) AS BIGINT) AS sum_id
    """,
    # Minor output compaction: two incremental ticks accrue exactly two
    # negative-token bases (prior bases never rewritten), the replayed
    # rows are dropped against the retained base, and every id survives
    # exactly once.
    "compact_output_incremental": """
        SELECT CAST(count(*) AS BIGINT) AS rows_after,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS distinct_after,
               2 AS n_bases,
               CAST(sum(doc_id) AS BIGINT) AS sum_id
        FROM documents
    """,
    # ---- r10 continuation: hybrid retrieval / adaptive ANN / graph /
    # calibration ----------------------------------------------------------
    # BM25 top-50 (same division-form idf and fixed term order as the
    # bm25_topk oracle) fused with dense cosine top-50 for query vector 0
    # by reciprocal-rank fusion: score = 1/(60+rank_sparse) +
    # 1/(60+rank_dense), missing-list terms contribute 0.0 in fixed order.
    "hybrid_rrf_topk": f"""
        WITH lens AS (
          SELECT doc_id AS id, len(string_split(text, ' ')) AS dl FROM documents
        ),
        stats AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
          FROM lens
        ),
        toks AS (
          SELECT doc_id AS id, unnest(string_split(text, ' ')) AS term FROM documents
        ),
        tf AS (
          SELECT id, term, count(*) AS tf FROM toks
          WHERE term IN ('spark', 'merge', 'window') GROUP BY id, term
        ),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        contrib AS (
          SELECT id, term,
                 ((stats.n - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
                 * (CAST(tf AS DOUBLE) * 2.2)
                 / (CAST(tf AS DOUBLE)
                    + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / stats.avgdl)) AS c
          FROM tf JOIN dfreq USING (term) JOIN lens USING (id), stats
        ),
        pivoted AS (
          SELECT id,
                 max(CASE WHEN term = 'spark' THEN c END) AS c0,
                 max(CASE WHEN term = 'merge' THEN c END) AS c1,
                 max(CASE WHEN term = 'window' THEN c END) AS c2
          FROM contrib GROUP BY id
        ),
        sparse_scored AS (
          SELECT id AS doc_id,
                 coalesce(c0, 0.0) + coalesce(c1, 0.0) + coalesce(c2, 0.0) AS score
          FROM pivoted
        ),
        sparse AS (
          SELECT doc_id, rnk FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
            FROM sparse_scored
          ) WHERE rnk <= 50
        ),
        q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id = 0),
        dense_scored AS (
          SELECT c.vec_id AS doc_id,
                 ({_dot('q', 'c')})
                 / (sqrt({_dot('q', 'q')}) * sqrt({_dot('c', 'c')})) AS cos_sim
          FROM q, embeddings c WHERE c.vec_id <> q.vec_id
        ),
        dense AS (
          SELECT doc_id, rnk FROM (
            SELECT doc_id,
                   row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS rnk
            FROM dense_scored
          ) WHERE rnk <= 50
        ),
        fused AS (
          SELECT coalesce(s.doc_id, d.doc_id) AS doc_id,
                 s.rnk AS sparse_rank, d.rnk AS dense_rank,
                 coalesce(1.0 / (60 + s.rnk), 0.0)
                   + coalesce(1.0 / (60 + d.rnk), 0.0) AS rrf_score
          FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
        )
        SELECT doc_id, sparse_rank, dense_rank, rrf_score, rank FROM (
          SELECT *, row_number() OVER (
            ORDER BY rrf_score DESC, doc_id ASC) AS rank
          FROM fused
        ) WHERE rank <= 10
    """,
    # Coarse pass on the first 16 dims, per-query top-20 shortlist, exact
    # full-dim rerank to top-5 — mirrors similarity.matryoshka_topk.
    "ann_matryoshka_topk": f"""
        WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 8),
        coarse AS (
          -- explicit zero-prefix-norm guard mirroring similarity.py's
          -- -2.0 sentinel: without it DuckDB yields NULL (x/0.0) which
          -- only sorted last by coincidence of NULLS LAST in the DESC
          -- shortlist ordering
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 CASE WHEN ({_dotn('q', 'q', 16)}) > 0
                       AND ({_dotn('c', 'c', 16)}) > 0
                      THEN ({_dotn('q', 'c', 16)})
                           / (sqrt({_dotn('q', 'q', 16)})
                              * sqrt({_dotn('c', 'c', 16)}))
                      ELSE -2.0 END AS coarse_sim
          FROM q, embeddings c WHERE c.vec_id <> q.vec_id
        ),
        short AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
              PARTITION BY query_id
              ORDER BY coarse_sim DESC, neighbor_id ASC) AS crank
            FROM coarse
          ) WHERE crank <= 20
        ),
        scored AS (
          SELECT s.query_id, s.neighbor_id,
                 ({_dot('q', 'c')})
                 / (sqrt({_dot('q', 'q')}) * sqrt({_dot('c', 'c')})) AS cos_sim
          FROM short s
          JOIN embeddings q ON q.vec_id = s.query_id
          JOIN embeddings c ON c.vec_id = s.neighbor_id
        )
        SELECT query_id, neighbor_id, cos_sim, rank FROM (
          SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
          FROM scored
        ) WHERE rank <= 5
    """,
    # Unrolled integer PageRank — identical fixed-point arithmetic to
    # functions.graph.pagerank (3 iterations, damping 85%).
    "pagerank_copurchase": _pagerank_sql(iters=3, damping=85),
    "pagerank_converged": _pagerank_converged_sql(
        max_iters=12, tol_e12=5 * 10**11, damping=85
    ),
    # Span-level decontamination: benchmark slice = doc_id % 100 < 2;
    # training tokens covered by any benchmark 8-gram, via the same
    # interval-union window as dup_span_coverage.
    "decontaminate_spans": """
        WITH toks AS (
          SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
                 AS t
          FROM documents),
        g AS (
          SELECT doc_id, u.i AS pos, array_to_string(t[u.i:u.i+7], ' ')
                 AS gram
          FROM toks,
               UNNEST(generate_series(1, greatest(len(t)-7, 0))) AS u(i)),
        b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 < 2),
        h AS (
          SELECT g.doc_id, g.pos FROM g JOIN b USING (gram)
          WHERE g.doc_id % 100 >= 2),
        isl AS (
          SELECT doc_id, pos,
                 max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_end
          FROM h),
        cov AS (
          SELECT doc_id,
                 SUM(GREATEST(0, (pos + 8)
                     - GREATEST(pos, COALESCE(prev_end, 0)))) AS ct
          FROM isl GROUP BY doc_id)
        SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS total_tokens,
               CAST(COALESCE(c.ct, 0) AS BIGINT) AS contaminated_tokens
        FROM toks t LEFT JOIN cov c USING (doc_id)
        WHERE t.doc_id % 100 >= 2
    """,
    # The decontamination ACTION replayed relationally: 4-gram hits vs
    # the benchmark slice, un-margined interval union for the drop
    # verdict (> 50% contaminated tokens), margin-2 cut intervals merged
    # per doc, and each maximal surviving token run re-emitted as its own
    # (doc_id, seg) row — keep rows pass the raw text through, drop rows
    # carry a NULL clean_text audit record.
    "decontaminate_corpus": """
        WITH toks AS (
          SELECT doc_id, text,
                 list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents),
        g AS (
          SELECT doc_id, u.i AS pos, array_to_string(t[u.i:u.i+3], ' ')
                 AS gram
          FROM toks,
               UNNEST(generate_series(1, greatest(len(t)-3, 0))) AS u(i)),
        b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 100 < 2),
        h AS (
          SELECT g.doc_id, g.pos FROM g JOIN b USING (gram)
          WHERE g.doc_id % 100 >= 2),
        isl AS (
          SELECT doc_id, pos,
                 max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_end
          FROM h),
        cov AS (
          SELECT doc_id,
                 SUM(GREATEST(0, (pos + 4)
                     - GREATEST(pos, COALESCE(prev_end, 0)))) AS ct
          FROM isl GROUP BY doc_id),
        iv AS (
          SELECT doc_id, GREATEST(1, pos - 2) AS s, pos + 6 AS e FROM h),
        ivp AS (
          SELECT doc_id, s, e,
                 COALESCE(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS pe
          FROM iv),
        ivg AS (
          SELECT doc_id, s, e,
                 SUM(CASE WHEN s > pe THEN 1 ELSE 0 END) OVER (
                   PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
          FROM ivp),
        spans AS (
          SELECT doc_id, grp, min(s) AS s, max(e) AS e
          FROM ivg GROUP BY doc_id, grp),
        nsp AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id),
        bounds AS (
          SELECT doc_id,
                 COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1)
                   AS st,
                 s - 1 AS en
          FROM spans
          UNION ALL
          SELECT s.doc_id, max(s.e) AS st, max(len(t.t)) AS en
          FROM spans s JOIN toks t USING (doc_id) GROUP BY s.doc_id),
        segs AS (
          SELECT doc_id, st, en,
                 row_number() OVER (PARTITION BY doc_id ORDER BY st) AS seg
          FROM bounds WHERE st <= en),
        dsegs AS (SELECT doc_id, COUNT(*) AS n_segs FROM segs GROUP BY doc_id),
        verdict AS (
          SELECT t.doc_id, t.text, len(t.t) AS total_tokens,
                 COALESCE(c.ct, 0) AS ct,
                 COALESCE(n.n_spans, 0) AS n_spans,
                 CASE WHEN COALESCE(c.ct, 0) = 0 THEN 'keep'
                      WHEN COALESCE(c.ct, 0) * 1000000
                           > 500000 * len(t.t) THEN 'drop'
                      WHEN COALESCE(d.n_segs, 0) = 0 THEN 'drop'
                      ELSE 'splice' END AS action
          FROM toks t
          LEFT JOIN cov c USING (doc_id)
          LEFT JOIN nsp n USING (doc_id)
          LEFT JOIN dsegs d USING (doc_id)
          WHERE t.doc_id % 100 >= 2)
        SELECT doc_id, CAST(1 AS BIGINT) AS seg, action,
               CAST(0 AS BIGINT) AS n_dropped_spans,
               CAST(total_tokens AS BIGINT) AS total_tokens,
               CAST(ct AS BIGINT) AS contaminated_tokens,
               text AS clean_text
        FROM verdict WHERE action = 'keep'
        UNION ALL
        SELECT doc_id, CAST(0 AS BIGINT), action, CAST(n_spans AS BIGINT),
               CAST(total_tokens AS BIGINT), CAST(ct AS BIGINT),
               CAST(NULL AS VARCHAR)
        FROM verdict WHERE action = 'drop'
        UNION ALL
        SELECT v.doc_id, CAST(s.seg AS BIGINT), v.action,
               CAST(v.n_spans AS BIGINT), CAST(v.total_tokens AS BIGINT),
               CAST(v.ct AS BIGINT), array_to_string(t.t[s.st:s.en], ' ')
        FROM verdict v
        JOIN segs s USING (doc_id)
        JOIN toks t USING (doc_id)
        WHERE v.action = 'splice'
    """,
    # The substring-dedup ACTION replayed relationally: per-gram keeper =
    # min doc_id over grams in >= 2 docs; hits = every non-keeper
    # occurrence; then the same drop (> 50% dup tokens) / margin-0 cut
    # merge / segment re-chunk emitter as decontaminate_corpus.
    "dedup_corpus_spans": """
        WITH toks AS (
          SELECT doc_id, text,
                 list_filter(string_split(text, ' '), x -> x <> '') AS t
          FROM documents),
        g AS (
          SELECT doc_id, u.i AS pos, array_to_string(t[u.i:u.i+3], ' ')
                 AS gram
          FROM toks,
               UNNEST(generate_series(1, greatest(len(t)-3, 0))) AS u(i)),
        kp AS (
          SELECT gram, min(doc_id) AS keeper FROM g
          GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
        h AS (
          SELECT g.doc_id, g.pos FROM g JOIN kp USING (gram)
          WHERE g.doc_id <> kp.keeper),
        isl AS (
          SELECT doc_id, pos,
                 max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prev_end
          FROM h),
        cov AS (
          SELECT doc_id,
                 SUM(GREATEST(0, (pos + 4)
                     - GREATEST(pos, COALESCE(prev_end, 0)))) AS ct
          FROM isl GROUP BY doc_id),
        iv AS (
          SELECT doc_id, pos AS s, pos + 4 AS e FROM h),
        ivp AS (
          SELECT doc_id, s, e,
                 COALESCE(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS pe
          FROM iv),
        ivg AS (
          SELECT doc_id, s, e,
                 SUM(CASE WHEN s > pe THEN 1 ELSE 0 END) OVER (
                   PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
          FROM ivp),
        spans AS (
          SELECT doc_id, grp, min(s) AS s, max(e) AS e
          FROM ivg GROUP BY doc_id, grp),
        nsp AS (SELECT doc_id, COUNT(*) AS n_spans FROM spans GROUP BY doc_id),
        bounds AS (
          SELECT doc_id,
                 COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1)
                   AS st,
                 s - 1 AS en
          FROM spans
          UNION ALL
          SELECT s.doc_id, max(s.e) AS st, max(len(t.t)) AS en
          FROM spans s JOIN toks t USING (doc_id) GROUP BY s.doc_id),
        segs AS (
          SELECT doc_id, st, en,
                 row_number() OVER (PARTITION BY doc_id ORDER BY st) AS seg
          FROM bounds WHERE st <= en),
        dsegs AS (SELECT doc_id, COUNT(*) AS n_segs FROM segs GROUP BY doc_id),
        verdict AS (
          SELECT t.doc_id, t.text, len(t.t) AS total_tokens,
                 COALESCE(c.ct, 0) AS ct,
                 COALESCE(n.n_spans, 0) AS n_spans,
                 CASE WHEN COALESCE(c.ct, 0) = 0 THEN 'keep'
                      WHEN COALESCE(c.ct, 0) * 1000000
                           > 500000 * len(t.t) THEN 'drop'
                      WHEN COALESCE(d.n_segs, 0) = 0 THEN 'drop'
                      ELSE 'splice' END AS action
          FROM toks t
          LEFT JOIN cov c USING (doc_id)
          LEFT JOIN nsp n USING (doc_id)
          LEFT JOIN dsegs d USING (doc_id))
        SELECT doc_id, CAST(1 AS BIGINT) AS seg, action,
               CAST(0 AS BIGINT) AS n_dropped_spans,
               CAST(total_tokens AS BIGINT) AS total_tokens,
               CAST(ct AS BIGINT) AS dup_tokens,
               text AS clean_text
        FROM verdict WHERE action = 'keep'
        UNION ALL
        SELECT doc_id, CAST(0 AS BIGINT), action, CAST(n_spans AS BIGINT),
               CAST(total_tokens AS BIGINT), CAST(ct AS BIGINT),
               CAST(NULL AS VARCHAR)
        FROM verdict WHERE action = 'drop'
        UNION ALL
        SELECT v.doc_id, CAST(s.seg AS BIGINT), v.action,
               CAST(v.n_spans AS BIGINT), CAST(v.total_tokens AS BIGINT),
               CAST(v.ct AS BIGINT), array_to_string(t.t[s.st:s.en], ' ')
        FROM verdict v
        JOIN segs s USING (doc_id)
        JOIN toks t USING (doc_id)
        WHERE v.action = 'splice'
    """,
    # kNN graph (exact cosine top-3 per vector, same arithmetic as the
    # ann_cosine oracle), undirected + deduped, then textbook triangle
    # enumeration (each triangle once as x<y<z) and per-corner counts.
    # Every graph node appears, zero-filled.
    "triangle_knn": f"""
        WITH scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 ({_dot('q', 'c')})
                 / (sqrt({_dot('q', 'q')}) * sqrt({_dot('c', 'c')})) AS cos_sim
          FROM embeddings q, embeddings c WHERE c.vec_id <> q.vec_id
        ),
        nn AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id, row_number() OVER (
              PARTITION BY query_id
              ORDER BY cos_sim DESC, neighbor_id ASC) AS rnk
            FROM scored
          ) WHERE rnk <= 3
        ),
        und AS (
          SELECT DISTINCT least(query_id, neighbor_id) AS a,
                          greatest(query_id, neighbor_id) AS b
          FROM nn
        ),
        nodes AS (SELECT a AS v FROM und UNION SELECT b AS v FROM und),
        tris AS (
          SELECT e1.a AS x, e1.b AS y, e2.b AS z
          FROM und e1
          JOIN und e2 ON e2.a = e1.b
          JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
        ),
        corners AS (
          SELECT x AS v FROM tris
          UNION ALL SELECT y AS v FROM tris
          UNION ALL SELECT z AS v FROM tris
        ),
        per AS (SELECT v, count(*) AS n FROM corners GROUP BY v)
        SELECT nodes.v AS node_id,
               CAST(coalesce(per.n, 0) AS BIGINT) AS n_triangles
        FROM nodes LEFT JOIN per ON nodes.v = per.v
    """,
    # Window-form percent_rank on the e6 quality grid: RANK()-1 = rows
    # strictly below (ties share), scaled to [0, 1e6] by integer division —
    # the semantic mirror of the engine's bounded histogram-CDF plan.
    "quality_calibration": f"""
        WITH q AS (
          SELECT doc_id, source,
                 CAST(floor(1000000 * ({_QUALITY_EXPR})) AS BIGINT) AS qbin
          FROM documents
        ),
        r AS (
          SELECT doc_id, source, qbin,
                 RANK() OVER (PARTITION BY source
                              ORDER BY qbin NULLS LAST) - 1 AS below,
                 COUNT(*) OVER (PARTITION BY source) AS n_src
          FROM q
        ),
        pr AS (
          SELECT doc_id, source, qbin,
                 CASE WHEN n_src > 1
                      THEN CAST((below * 1000000) // (n_src - 1) AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END AS pr_e6
          FROM r
        )
        SELECT doc_id, source, qbin, pr_e6,
               least(CAST(9 AS BIGINT), pr_e6 // 100000) AS decile
        FROM pr
    """,
}

# The BPE variant of the composed pipeline: byte-identical SQL except the
# token count every budget-bearing stage (calibration-survivor n_tokens →
# per-source totals → mixing thresholds → packing prefix sum) is the BPE
# mirror instead of the whitespace count. Derived textually from the
# canonical oracle so the two can never drift structurally.
_WS_NTOK = "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens"
assert _WS_NTOK in ORACLES["corpus_pipeline_full"]
ORACLES["corpus_pipeline_bpe"] = ORACLES["corpus_pipeline_full"].replace(
    _WS_NTOK, f"{_BPE} AS n_tokens"
)
assert ORACLES["corpus_pipeline_bpe"] != ORACLES["corpus_pipeline_full"]
