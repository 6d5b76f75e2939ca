"""Distributed Lloyd's k-means over embedding columns (round 8).

Embedding clustering is a first-class LLM-data operation: SemDeDup
(Abbas et al. 2023) clusters before intra-cluster pruning, cluster-
balanced sampling needs cluster ids, and topic-sharded training mixes
are built from them. The engine so far fits k-means on a driver SAMPLE
(`similarity.ivf_topk_kmeans`, pyspark.ml) — correct for IVF cell
layout, but the fit itself is not distributed and not hash-oracle-able.
This module is full-corpus Lloyd iteration as pure relational algebra:

- **assign**: points ⋈ centroids on the DIM key (the centroid table is
  k×dim rows, always broadcast) → per-point argmin over the k squared
  distances — the corpus is never replicated ×k as arrays and never
  collected;
- **update**: one (cluster, dim) hash aggregation (map-side combinable
  sum + count) rebuilds the centroid table.

Two shuffles per iteration, both on bounded keys.

Cross-engine determinism (the float-parity law, ARCHITECTURE §7h):
Lloyd's update averages member vectors — an UNORDERED float sum whose
~1-ULP engine drift can flip a boundary assignment next iteration and
cascade. So the geometry lives on an integer grid: input values
quantize once to fixed-point units (``floor(x·10⁴ + 0.5)``, exact in
both engines), and each centroid update rounds the per-dim mean BACK
to the grid — ``floor(sum/cnt + 0.5)`` where ``sum/cnt`` is one IEEE
division of exact integers (correctly rounded, bit-identical in both
engines; no unordered float reduction anywhere). Distances are then
pure integer ``Σ_d (v_d − c_d)²`` (bounded by dim·(2·scale·‖x‖∞)² —
~10¹⁰ for unit-ish 64-dim vectors, nowhere near 2⁶³), argmin ties
break toward the smaller cluster id, and the whole fixpoint replays
bit-for-bit as chained CTEs in DuckDB. Grid rounding perturbs true
Lloyd by ≤ 0.5·10⁻⁴ per dim per iteration — noise at clustering
granularity, and the price of a hash-checkable distributed fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from drugbankner_spark.tables import fits_one_task


def _quantized_points(
    vecs: DataFrame, id_col: str, vec_col: str, scale: int
) -> DataFrame:
    """(id, dim, v): one row per vector element, fixed-point BIGINT."""
    return vecs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(
            F.expr(
                f"transform({vec_col}, x -> CAST(floor(CAST(x AS "
                f"DOUBLE) * {scale} + 0.5) AS BIGINT))"
            )
        ).alias("dim", "v"),
    )


def _assign_step(pts: DataFrame, centroids: DataFrame) -> DataFrame:
    """One Lloyd assignment: dim-keyed equi-join against the BROADCAST
    k×dim centroid table, integer squared distance, per-point argmin
    (ties to the smaller cluster id). Factored out so the plan shape
    is testable — the loop's localCheckpoints hide it from the final
    query plan."""
    scored = (
        pts.join(F.broadcast(centroids), "dim")
        .groupBy("_id", "cluster_id")
        .agg(
            F.sum(
                (F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))
            ).alias("_d")
        )
    )
    return (
        scored.groupBy("_id")
        .agg(F.min(F.struct("_d", "cluster_id")).alias("_best"))
        .select(
            "_id",
            F.col("_best.cluster_id").alias("cluster_id"),
            F.col("_best._d").alias("sq_dist"),
        )
    )


def kmeans_fit(
    vecs: DataFrame,
    k: int = 8,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
) -> tuple[DataFrame, DataFrame]:
    """:func:`kmeans_lloyd` plus the model: returns ``(assignments,
    centroids)`` where ``centroids`` is the (cluster_id, dim, c)
    grid-integer table the FINAL assignment was scored against — the
    dim a serving path (``streaming.cluster_assign_stream``) routes
    new vectors with, bit-consistent with the batch assignment."""
    return _kmeans(vecs, k, n_iters, id_col, vec_col, scale)


def kmeans_lloyd(
    vecs: DataFrame,
    k: int = 8,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
) -> DataFrame:
    """Deterministic distributed Lloyd's k-means.

    Seeds are the ``k`` vectors with the smallest md5-derived 32-bit
    id hash (ties by id) — the engine's hash-rank draw, so both
    engines pick identical seeds with no RNG; ``cluster_id`` is the
    seed's ordinal (0..k-1). Each iteration assigns every point to its
    nearest centroid (grid-integer squared distance, ties to the
    smaller id) and recomputes grid-rounded centroid means; the final
    assignment is returned as (id, cluster_id, sq_dist) with
    ``sq_dist`` the integer distance used by that assignment.
    """
    return _kmeans(vecs, k, n_iters, id_col, vec_col, scale)[0]


def _kmeans(
    vecs: DataFrame, k: int, n_iters: int,
    id_col: str, vec_col: str, scale: int,
) -> tuple[DataFrame, DataFrame]:
    from drugbankner_spark.caching import cache_scope, shared_persist
    from drugbankner_spark.operators.dedup import content_hash32

    if k < 1 or n_iters < 1:
        raise ValueError("kmeans_lloyd: k and n_iters must be >= 1")
    with cache_scope():
        # Hash-partition the point table by _id ONCE before caching (round
        # 15, guide §2.4): every Lloyd iteration groups the scored join by
        # (_id, cluster_id) then by (_id), and the update joins back on
        # (_id) — HashPartitioning(_id) satisfies all three clustered
        # distributions (partitioning keys ⊆ grouping keys), and the cached
        # plan's partitioning survives into every consumer (static cache
        # width), so no iteration ever re-exchanges the (corpus-scale)
        # point table; only the k×dim centroid dim and the per-point
        # assignment rows move per round.
        # GATED on input size (round 16, VERDICT r15 next #6): below one
        # scan task's worth every per-iteration agg/join is a handful of
        # tiny tasks — the up-front exchange costs more than the
        # per-iteration exchanges it removes (driver r15: e2_kmeans −13%
        # at sf0.1). At scale the gate never skips and the cached
        # HashPartitioning(_id) is what keeps Lloyd iterations
        # exchange-free.
        qpts = _quantized_points(vecs, id_col, vec_col, scale)
        if not fits_one_task(vecs):
            qpts = qpts.repartition("_id")
        pts = shared_persist(qpts)
        # seed draw: global sort + limit(k) plans as TakeOrderedAndProject
        # (distributed per-partition top-k, k rows to the driver side) —
        # never a single-partition window over the full id set; ordinals
        # then come from a window over just the k winners
        w = Window.orderBy("_h", "_id")
        seed_ids = (
            vecs.select(
                F.col(id_col).alias("_id"),
                content_hash32(F.col(id_col).cast("string")).alias("_h"),
            )
            .orderBy("_h", "_id")
            .limit(k)
            .withColumn("cluster_id", F.row_number().over(w) - 1)
            .select("_id", "cluster_id")
        )
        centroids = pts.join(F.broadcast(seed_ids), "_id").select(
            "cluster_id", "dim", F.col("v").alias("c")
        )
        assigned = None
        for it in range(n_iters):
            # LAZY between rounds (round 15): the next centroid
            # checkpoint's job traverses the assignment anyway and
            # materializes it — one job per round instead of two. The
            # final round stays EAGER so the result is block-backed
            # before the scope drops the pts persist below.
            assigned = _assign_step(pts, centroids).localCheckpoint(
                eager=(it == n_iters - 1)
            )
            if it == n_iters - 1:
                break  # the last update would never be read
            # grid-rounded integer mean: ONE IEEE division of exact
            # integers + floor — bit-identical across engines, no
            # unordered float reduction
            centroids = (
                pts.join(assigned.select("_id", "cluster_id"), "_id")
                .groupBy("cluster_id", "dim")
                .agg(
                    F.floor(
                        F.sum("v") / F.count(F.lit(1)) + F.lit(0.5)
                    ).cast("long").alias("c")
                )
            ).localCheckpoint(eager=True)
    return (
        assigned.select(
            F.col("_id").alias(id_col), "cluster_id", "sq_dist"
        ),
        centroids,
    )


def cluster_balanced_sample(
    vecs: DataFrame,
    k: int = 8,
    per_cluster: int = 10,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assignments: DataFrame | None = None,
) -> DataFrame:
    """Cluster-balanced sampling (the diversity draw SemDeDup-style
    curation and topic-balanced training mixes use): k-means the
    corpus, then keep at most ``per_cluster`` vectors per cluster —
    drawn by the engine's deterministic hash rank (md5 of the id), so
    a rare topic cluster survives a draw that frequency-proportional
    sampling would flood with the head topic. Output: (id, cluster_id,
    draw_rank). Top-k per cluster runs through ``scale.sharded_topk``
    (round 12): a head-topic cluster can hold most of the corpus, and
    the plain per-cluster window ranks that whole cluster in one task;
    the two-phase form returns identical rows/ranks (the hash+id order
    is total). Pass precomputed ``assignments`` to reuse a fit."""
    from drugbankner_spark.operators.dedup import content_hash32
    from drugbankner_spark.operators.scale import sharded_topk

    if assignments is None:
        assignments = kmeans_lloyd(
            vecs, k=k, n_iters=n_iters, id_col=id_col, vec_col=vec_col
        )
    keyed = assignments.withColumn(
        "_h", content_hash32(F.col(id_col).cast("string"))
    )
    return sharded_topk(
        keyed, ["cluster_id"], [F.asc("_h"), F.asc(id_col)],
        int(per_cluster), rank_col="draw_rank",
    ).select(id_col, "cluster_id", "draw_rank")


def semdedup_clustered(
    vecs: DataFrame,
    k: int = 8,
    threshold: float = 0.95,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup in the PAPER's shape (Abbas et al. 2023 §3): k-means
    the corpus, then find near-duplicate pairs only WITHIN each
    cluster — the clustering is what makes the quadratic pair search
    local (cost Σ_c |c|² instead of n²), which is the method's whole
    scaling argument. The engine's earlier `similarity.semantic_dedup`
    localizes with sign-LSH buckets instead; this variant is the
    faithful cluster-scoped composition over :func:`kmeans_lloyd`.

    Within-cluster pairs at rounded-6dp cosine ≥ ``threshold`` feed
    the connected-component fold (graph.py) and the min-id member of
    each component survives. Output, one row per vector: (id,
    kmeans_cluster, cluster_id, cluster_size, is_survivor) — the
    semantic_dedup contract plus the k-means cell.

    Scale shape: ONE self-join keyed on the k-means cell (bounded by
    cell size — balance cells by raising k), the CC fixpoint's
    diameter rounds (``ValueError`` past ``max_iterations=25``), one
    size agg. Fully deterministic (grid-integer k-means, 6dp-rounded
    cosines, min-id survivor) — the whole composition hash-matches a
    chained-CTE + recursive-SQL oracle."""
    from drugbankner_spark.caching import shared_persist
    from drugbankner_spark.operators.graph import near_dup_clusters
    from drugbankner_spark.operators.similarity import cosine

    assign = kmeans_lloyd(
        vecs, k=k, n_iters=n_iters, id_col=id_col, vec_col=vec_col
    ).select(id_col, F.col("cluster_id").alias("kmeans_cluster"))
    # both self-join sides read the assigned corpus (branch-point law)
    v = shared_persist(vecs.select(id_col, vec_col).join(assign, id_col))
    a = v.select(
        "kmeans_cluster", F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("_ea"),
    )
    b = v.select(
        "kmeans_cluster", F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("_eb"),
    )
    pairs = (
        a.join(b, "kmeans_cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(
            F.round(cosine(F.col("_ea"), F.col("_eb")), 6)
            >= threshold
        )
        .select("id_a", "id_b")
    )
    comp = near_dup_clusters(vecs.select(id_col), pairs, id_col)
    sizes = comp.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        comp.join(sizes, "cluster_id")
        .join(assign, id_col)
        .select(
            id_col, "kmeans_cluster", "cluster_id", "cluster_size",
            (F.col(id_col) == F.col("cluster_id")).alias("is_survivor"),
        )
    )
