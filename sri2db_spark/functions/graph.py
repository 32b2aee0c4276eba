"""Iterative graph analytics over edge-list DataFrames.

The reference engine has no graph operators; these extend the 100 TB
pipeline surface (domain authority ranking for web-corpus curation is the
canonical use: rank source domains by link structure, then weight sampling
by rank). The other iterative operator is connected components
(``functions.dedup.connected_components``); PageRank is the
other classic whose Spark shape — per-iteration shuffle join + aggregate
with lineage truncation — a 1000-executor deployment needs.

Determinism: ranks are fixed-point integers (``rank_e12``, 10^12 = rank
1.0 split across nodes), contributions are exact integer divisions, and
per-node inflow is an exact BIGINT sum — so the result is bit-identical
at any parallelism and replayable by any engine with 64-bit integer
arithmetic (the DuckDB oracle unrolls the same iterations in SQL).
Classical double-typed PageRank sums floats in partition order and is NOT
reproducible across engines; the fixed-point form loses < 10^-12 of mass
per division, far below any ranking-relevant signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..observation import observed_row

RANK_SCALE = 10**12


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping_pct: int = 85,
    checkpoint_every: int = 4,
    dedup_edges: bool = True,
    tol_e12: int | None = None,
) -> DataFrame:
    """Fixed-iteration integer PageRank over a directed edge list.

    Returns ``(node_id, rank_e12)`` for every node that appears as a
    source (callers that need dangling nodes ranked should add reverse
    or self edges first — the bipartite registry entry adds reverses).

    ``tol_e12`` switches to CONVERGENCE mode — how real domain-authority
    runs terminate: iterate until the exact integer L1 delta
    Σ|rank'−rank| ≤ tol_e12, capped at ``iters``. The stopping rule is
    integer arithmetic on the fixed-point ranks, so an oracle replays
    the identical decision (a float-tolerance rule would flip near the
    boundary across engines). Output gains an ``n_iters`` column (the
    iteration whose ranks are returned). The per-iteration delta is one
    O(nodes) join + aggregate over the already-materialized rank frames
    — edges are never touched by the check.

    rank'(v) = ((100-d)·(S div N)) div 100 + (d·Σ_{u→v} (rank(u) div
    outdeg(u))) div 100, with S = 10^12, all divisions integer.

    Plan per iteration: one shuffle join (edges ⋈ ranks on src — ranks is
    O(nodes), edges O(edges)) + one map-side-combined aggregation on dst.
    ``localCheckpoint`` every ``checkpoint_every`` iterations truncates
    lineage the same way ``connected_components`` does — without it the
    logical plan nests one join per iteration and driver-side planning
    blows up long before the executors do. Out-degrees are computed once
    and folded into the rank frame, so the static edge list is the only
    persisted dataset.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if dedup_edges:
        # duplicate edges would double-count contributions; callers whose
        # edge list is distinct by construction pass dedup_edges=False and
        # save a full edge-sized shuffle
        e = e.distinct()
    # hash-partition the (big) edge list by the join key ONCE before
    # caching: the cached plan's outputPartitioning satisfies every
    # iteration's join distribution, so only the O(nodes) rank side
    # shuffles per iteration — without this, the edge list re-shuffles
    # every iteration (the dominant cost at web-graph scale)
    e = e.repartition("src").persist()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    # 1-row node count, folded in as a column (lazy; no driver collect)
    n_nodes = outdeg.agg(F.count(F.lit(1)).alias("__n"))
    base = F.expr(f"{RANK_SCALE} div __n")
    teleport = F.expr(f"({100 - damping_pct} * ({RANK_SCALE} div __n)) div 100")
    ranks = (
        outdeg.crossJoin(F.broadcast(n_nodes))
        .select("src", "od", base.alias("r"), teleport.alias("tp"))
    ).localCheckpoint(eager=True)
    n_done = iters
    for i in range(iters):
        contrib = (
            e.alias("e")
            .join(ranks.alias("rk"), F.col("e.src") == F.col("rk.src"))
            .select(F.col("e.dst").alias("node"), F.expr("r div od").alias("c"))
        )
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        # every ranked node keeps its static od/tp columns; nodes with no
        # inflow (impossible once reverse edges exist, but cheap to keep
        # correct) coalesce to 0
        sel = [
            F.col("src"),
            F.col("od"),
            F.col("tp"),
            (
                F.col("tp")
                + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
            ).alias("r"),
        ]
        if tol_e12 is not None:
            # carry the previous rank through the join so the L1 delta is
            # ONE aggregate over the checkpointed frame instead of an extra
            # O(nodes) shuffle join per iteration (same integers: the join
            # it replaces matched every src exactly once)
            sel.append(ranks["r"].alias("__r_prev"))
        nxt = ranks.join(inflow, ranks["src"] == inflow["node"], "left").select(*sel)
        obs = None
        if tol_e12 is not None:
            # the L1 delta rides the checkpoint materialization via
            # observe() — the former separate agg().collect() was one more
            # O(nodes) job per iteration over the just-checkpointed frame
            from pyspark.sql import Observation  # noqa: PLC0415

            obs = Observation()
            nxt = nxt.observe(
                obs, F.sum(F.abs(F.col("r") - F.col("__r_prev"))).alias("d")
            )
        if (
            tol_e12 is not None
            or (i + 1) % checkpoint_every == 0
            or i == iters - 1
        ):
            # convergence mode checkpoints every round: the delta check
            # reads the frame anyway, so the materialization is free
            nxt = nxt.localCheckpoint(eager=True)
        if tol_e12 is not None:
            delta = observed_row(
                obs,
                lambda: nxt.agg(
                    F.sum(F.abs(F.col("r") - F.col("__r_prev"))).alias("d")
                ).first(),
            )["d"]
            if delta is not None and delta <= tol_e12:
                ranks = nxt
                n_done = i + 1
                break
        ranks = nxt
    e.unpersist()
    out = ranks.select(
        F.col("src").alias("node_id"), F.col("r").alias("rank_e12")
    )
    if tol_e12 is not None:
        out = out.withColumn("n_iters", F.lit(n_done).cast("bigint"))
    return out


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an undirected graph given as an edge
    list (either or both directions; self-loops and duplicates ignored).
    Returns ``(node_id, n_triangles)`` for every node of the graph.

    The at-scale algorithm is compact-forward / degree ordering (Latapy
    2008; the MapReduce form is Suri & Vassilvitskii 2011): orient every
    undirected edge from the (degree, id)-smaller endpoint to the larger,
    build wedges at each source, and probe the oriented edge set. The
    orientation bounds every node's out-degree by O(sqrt(m)) — a
    celebrity node with 10^7 neighbors contributes wedges only at its
    (few) lower-degree endpoints, so the wedge explosion the naive
    neighbor self-join suffers cannot happen. Plan: five hash joins (two
    to attach degrees, the wedge self-join, the closing-edge probe, the
    zero-fill) and three shuffling aggregations (edge dedup, degrees,
    per-node counts) — every frame involved is edge-shaped or smaller,
    and the wedge join is the only one whose output can exceed the edge
    count (bounded by the orientation, above).
    """
    a, b = F.col(src_col), F.col(dst_col)
    # localCheckpoint: the deduped edge set feeds FOUR downstream consumers
    # (degrees, the two degree-attach joins, the closing-edge probe). The
    # upstream edge source can be arbitrarily expensive (the kNN entry
    # builds it from a full cosine top-k), and while AQE reuses the
    # distinct's shuffle stage across consumers, each one still re-runs the
    # post-shuffle dedup aggregation; materializing the (small, edge-shaped)
    # frame once cuts that to a single pass and truncates the lineage.
    und = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # one pass, not a union of two reads: explode emits both endpoints of
    # every edge in the same scan (same multiset of rows, one consumer)
    deg = (
        und.select(F.explode(F.array(F.col("a"), F.col("b"))).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient a->b iff (deg, id) of a < (deg, id) of b (a total order, so
    # every undirected edge gets exactly one direction)
    da = deg.select(F.col("v").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("d").alias("db"))
    ranked = und.join(da, "a").join(db, "b")
    fwd = ranked.select(
        F.when(
            (F.col("da") < F.col("db"))
            | ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))),
            F.struct(F.col("a").alias("s"), F.col("b").alias("t")),
        )
        .otherwise(F.struct(F.col("b").alias("s"), F.col("a").alias("t")))
        .alias("e")
    ).select(F.col("e.s").alias("s"), F.col("e.t").alias("t"))
    # wedges at s: two oriented out-neighbors u < t' in the SAME total
    # order; since both edges leave s, ordering by plain id is a valid
    # canonical pair order for the probe below
    e1 = fwd.select(F.col("s"), F.col("t").alias("u"))
    e2 = fwd.select(F.col("s"), F.col("t").alias("w"))
    wedges = e1.join(e2, "s").filter(F.col("u") < F.col("w"))
    # the closing edge may be oriented either way between u and w; its
    # id-canonical form is exactly the undirected edge set
    closing = und.select(F.col("a").alias("u"), F.col("b").alias("w"))
    tris = wedges.join(closing, ["u", "w"]).select(
        F.col("s").alias("x"), F.col("u").alias("y"), F.col("w").alias("z")
    )
    # each triangle credits its three corners in ONE pass (explode), not a
    # 3-way union that would re-run the wedge+closing joins per branch
    per_node = (
        tris.select(
            F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("v")
        )
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_node, "v", "left")
        .select(
            F.col("v").alias("node_id"),
            F.coalesce(F.col("n_triangles"), F.lit(0)).cast("bigint").alias(
                "n_triangles"
            ),
        )
    )
