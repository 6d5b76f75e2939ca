"""Deterministic hash-based sampling and dataset splitting.

``df.sample`` is seeded per-partition, so its output changes whenever
the partitioning does — useless for reproducible corpus curation. The
primitive large pipelines actually use is HASH-mod sampling: a row's
fate is a pure function of its key, so the sample is stable across
runs, engines, partitionings, and incremental reloads (a re-ingested
row lands in the same split it was in last month). Same mechanism
backs train/valid/test splits that must never leak across reruns.

Both ops are single-projection column expressions (no shuffle, no RNG
state); the bucket hash is the engine-portable md5-derived 32-bit key
from dedup.content_hash32 (``kernel="xxhash64"`` swaps in the cheap
production hash once cross-engine reproducibility is no longer needed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from drugbankner_spark.operators.dedup import content_hash32

#: Bucket space for fraction arithmetic: fractions resolve to an exact
#: integer threshold so Spark and any oracle agree bit-for-bit.
N_BUCKETS = 10_000


def hash_bucket(key: Column, seed: str = "", kernel: str = "md5") -> Column:
    """Stable bucket in [0, N_BUCKETS) from the STRING form of a key.
    ``seed`` is concatenated into the hashed value, so different seeds
    give independent samples over the same keys."""
    return F.pmod(
        content_hash32(F.concat(key.cast("string"), F.lit(seed)), kernel),
        F.lit(N_BUCKETS),
    )


def hash_sample(
    df: DataFrame,
    key_col: str,
    fraction: float,
    seed: str = "",
    kernel: str = "md5",
) -> DataFrame:
    """Keep rows whose key-bucket falls below ``fraction`` — a
    deterministic, partitioning-independent sample. Sampling by a
    GROUPING key (user_id, doc_id) keeps entities intact: every row of
    a sampled user survives together, which per-row RNG sampling can't
    guarantee."""
    threshold = int(fraction * N_BUCKETS)
    return df.filter(hash_bucket(F.col(key_col), seed, kernel) < threshold)


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, float],
    seed: str = "",
    kernel: str = "md5",
) -> DataFrame:
    """Assign every row a split label ("train"/"valid"/"test"/...) by
    consecutive bucket ranges in weight order. Total weight must be 1.
    Deterministic in the key: reruns, engine swaps, and incremental
    ingests can never move a key across splits (no train/test leakage).
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    bucket = hash_bucket(F.col(key_col), seed, kernel)
    expr = None
    upper = 0.0
    names = list(weights)
    for name in names[:-1]:
        upper += weights[name]
        cond = bucket < int(upper * N_BUCKETS)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", expr)


def cluster_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    seed: str = "",
    kernel: str = "md5",
) -> DataFrame:
    """Train/valid/test split that can NEVER leak near-duplicates
    across splits: split by duplicate-CLUSTER, not by document.
    ``hash_split`` on doc_id is leak-proof against reruns but blind to
    near-dups — two 95%-similar documents hash independently and land
    in train AND test, the classic benchmark-contamination bug.

    Composition: near-dup ``pairs`` (minhash_band_pairs_rowwise output) →
    connected components (graph.near_dup_clusters: min-label
    propagation, one round per hop of graph diameter, ``ValueError``
    past ``max_iterations=25``) →
    ``hash_split`` on the CLUSTER id. A whole clique of near-dups
    therefore moves as one unit into a single split; singleton docs are
    their own cluster. Output: docs + ``split`` label.

    Scale: the CC runs on the PAIR graph (edges ≪ corpus), the final
    assignment is one left join + projection; same determinism contract
    as hash_split (stable across reruns/partitionings/ingests)."""
    from drugbankner_spark.operators.graph import near_dup_clusters

    clusters = near_dup_clusters(docs, pairs, id_col)
    labeled = docs.join(
        clusters.select(id_col, F.col("cluster_id").alias("_unit")),
        id_col,
    )
    return hash_split(labeled, "_unit", weights, seed, kernel).drop("_unit")


#: Scalable top-k-by-hash core: quantile GRID resolution and the
#: percentile_approx accuracy. Rank error ≤ n/_Q_ACCURACY per stratum;
#: grid step = 1/_Q_GRID; the boundary band spans ±_Q_PAD grid steps,
#: which must exceed grid-rounding (1 step) + sketch error (0.1 step).
_Q_GRID = 1_000
_Q_PAD = 2
_Q_ACCURACY = 10_000


def _topk_by_hash(
    df: DataFrame,
    strata_cols: list[str],
    key_col: str,
    k_of,
    seed: str,
    kernel: str,
) -> DataFrame:
    """The k smallest rows per stratum by deterministic (hash, key)
    order, where ``k_of`` is an expression over the per-stratum count
    ``_n`` giving that stratum's k — WITHOUT sorting whole strata.

    A windowed row_number per stratum routes the ENTIRE stratum through
    one reducer — a single-task sort of the biggest domain at 100 TB
    (the round-4 shape of stratified_sample). This core instead:

    1. ONE agg per stratum: row count + a literal grid of approx hash
       quantiles (percentile_approx — a mergeable, map-side-combinable
       sketch; its percentage argument must be foldable, hence a fixed
       grid rather than per-stratum k/n positions);
    2. picks bracketing cuts lo = grid[floor(k/n·G) - pad],
       hi = grid[ceil(k/n·G) + pad] per stratum (broadcast join);
    3. bulk-selects ``hash < lo`` — provably ≤ k rows, no sort;
    4. window-sorts ONLY the band [lo, hi] (~2·pad/G of the stratum ≈
       0.4%) and tops up to exactly k.

    Margin argument: count(h < lo) ≤ n·(floor-position/G + ε) < k and
    count(h ≤ hi) ≥ n·(ceil-position/G − ε) ≥ k for ε = 1/_Q_ACCURACY
    ≪ pad/G, so the k-th (hash, key) always falls inside the band. The
    selected SET therefore equals the full-sort formulation exactly —
    same determinism, same oracles (parity-tested against the windowed
    reference) — while the only sort touches the band. Tiny strata
    degrade gracefully: the band just covers more of them."""
    from pyspark.sql import Window

    h = content_hash32(
        F.concat(F.col(key_col).cast("string"), F.lit(seed)), kernel
    )
    d = df.withColumn("_h", h)
    grid = F.array(*[F.lit(i / _Q_GRID) for i in range(_Q_GRID + 1)])
    bounds = (
        d.groupBy(*strata_cols)
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.percentile_approx("_h", grid, F.lit(_Q_ACCURACY)).alias("_qs"),
        )
        .withColumn("_k", F.least(k_of, F.col("_n")))
        .withColumn(
            "_lo_cut",
            F.element_at(
                "_qs",
                F.greatest(
                    F.floor(F.col("_k") / F.col("_n") * _Q_GRID).cast("int")
                    - F.lit(_Q_PAD),
                    F.lit(0),
                ) + 1,
            ),
        )
        .withColumn(
            "_hi_cut",
            F.element_at(
                "_qs",
                F.least(
                    F.ceil(F.col("_k") / F.col("_n") * _Q_GRID).cast("int")
                    + F.lit(_Q_PAD),
                    F.lit(_Q_GRID),
                ) + 1,
            ),
        )
        .drop("_qs")
    )
    full = d.join(F.broadcast(bounds), strata_cols)
    bulk = full.filter(F.col("_h") < F.col("_lo_cut"))
    n_bulk = bulk.groupBy(*strata_cols).agg(
        F.count(F.lit(1)).alias("_n_bulk")
    )
    boundary = full.filter(
        (F.col("_h") >= F.col("_lo_cut")) & (F.col("_h") <= F.col("_hi_cut"))
    )
    w = Window.partitionBy(*strata_cols).orderBy(
        F.col("_h").asc(), F.col(key_col).cast("string").asc()
    )
    topped = (
        boundary.join(F.broadcast(n_bulk), strata_cols, "left")
        .withColumn("_rn", F.row_number().over(w))
        .filter(
            F.coalesce(F.col("_n_bulk"), F.lit(0)) + F.col("_rn")
            <= F.col("_k")
        )
        .drop("_rn", "_n_bulk")
    )
    return bulk.unionByName(topped).drop("_h", "_n", "_k", "_lo_cut",
                                         "_hi_cut")


def mixture_sample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    target_rows: dict[str, int],
    seed: str = "",
    kernel: str = "md5",
) -> DataFrame:
    """Domain-mixture draw: exactly ``target_rows[s]`` rows from each
    stratum value ``s`` (e.g. {"web": 5_000_000, "code": 3_000_000}) —
    the curated-corpus mixing step (a Pile/Dolma-style recipe executes
    as one of these per epoch). Deterministic hash-rank order within
    each stratum, so reruns draw the identical subset and raising a
    target later EXTENDS the previous draw (the first n rows of the
    hash order never change — incremental-friendly). Strata absent from
    ``target_rows`` are dropped; a target larger than the stratum keeps
    the whole stratum. Runs on the sort-free top-k core
    (:func:`_topk_by_hash`), so a dominant domain never funnels through
    one reducer."""
    mapping = F.create_map(*[
        x for k, v in target_rows.items() for x in (F.lit(k), F.lit(v))
    ])
    scoped = df.filter(mapping[F.col(stratum_col)].isNotNull())
    # k_of is evaluated over the per-stratum bounds frame (strata + _n)
    return _topk_by_hash(
        scoped, [stratum_col], key_col,
        mapping[F.col(stratum_col)].cast("long"), seed, kernel,
    )


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    key_col: str,
    fraction: float,
    seed: str = "",
    kernel: str = "md5",
) -> DataFrame:
    """EXACT-fraction-per-stratum sample: within each stratum, rows are
    ranked by their deterministic key hash and the top
    ``ceil(n * fraction)`` survive. Unlike ``hash_sample`` (whose
    per-stratum yield fluctuates binomially — fatal for small or skewed
    strata), every stratum contributes exactly its share, so class
    balance survives the sample. Still fully deterministic in
    (keys, seed): reruns and repartitions produce the identical sample.

    Cost (round 5): runs on the sort-free :func:`_topk_by_hash` core —
    per-stratum count + quantile-grid agg, bulk filter below the cut,
    window sort over only the ~0.4% boundary band. The round-4 form was
    one row_number window per stratum, which funnels the ENTIRE largest
    stratum through a single reducer at 100 TB; the selected set is
    identical (parity-tested against the windowed reference), so the
    driver oracle is unchanged. Rank ties are impossible (hash order,
    ties broken by key string). Strata = (lang, source), key = doc_id
    is the corpus-curation form.
    """
    return _topk_by_hash(
        df, strata_cols, key_col,
        F.ceil(F.col("_n") * fraction).cast("long"), seed, kernel,
    )


def cluster_balanced_sample(
    assigned: DataFrame,
    per_cluster: int,
    cluster_col: str = "cluster",
    key_col: str = "vec_id",
    seed: str = "",
    kernel: str = "md5",
) -> DataFrame:
    """Exactly ``min(per_cluster, |cluster|)`` rows from EVERY cluster
    in deterministic hash-rank order — the cluster-balanced draw that
    pairs with ``similarity.cluster_embeddings`` (over-represented
    regions of embedding space stop dominating the corpus; the
    SemDeDup/DSIR-flavored diversity move). Unlike ``mixture_sample``
    the cluster ids are data-dependent, so the quota applies uniformly
    instead of via an explicit target dict. Runs on the sort-free
    :func:`_topk_by_hash` core — no whole-cluster reducer."""
    if per_cluster <= 0:
        raise ValueError("cluster_balanced_sample: per_cluster must be > 0")
    return _topk_by_hash(
        assigned, [cluster_col], key_col,
        F.least(F.col("_n"), F.lit(int(per_cluster))).cast("long"),
        seed, kernel,
    )


def _topk_by_hash_windowed(
    df: DataFrame,
    strata_cols: list[str],
    key_col: str,
    k_of,
    seed: str = "",
    kernel: str = "md5",
) -> DataFrame:
    """Reference formulation of :func:`_topk_by_hash` — one row_number
    window per stratum. Kept (test-only) as the parity oracle for the
    sort-free core; NOT for production: the window funnels each whole
    stratum through a single reducer."""
    from pyspark.sql import Window

    h = content_hash32(
        F.concat(F.col(key_col).cast("string"), F.lit(seed)), kernel
    )
    w = Window.partitionBy(*strata_cols).orderBy(
        h.asc(), F.col(key_col).cast("string").asc()
    )
    wc = Window.partitionBy(*strata_cols)
    return (
        df.withColumn("_n", F.count(F.lit(1)).over(wc))
        .withColumn("_k", F.least(k_of, F.col("_n")))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.col("_k"))
        .drop("_rn", "_n", "_k")
    )


def training_shuffle_shards(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    seed: str = "",
    kernel: str = "md5",
) -> DataFrame:
    """Deterministic GLOBAL training-order shuffle — the last step of a
    pretraining pipeline: every row gets (shard, pos_in_shard) such
    that reading shard 0 in position order, then shard 1, ... replays
    one fixed pseudo-random permutation of the corpus. Changing
    ``seed`` yields an independent permutation (new training order per
    epoch without materializing anything twice).

    Scale shape: the naive form is ORDER BY hash — one global sort
    funneling the corpus through a final merge. Here the hash SPACE is
    range-partitioned instead: shard = h * n_shards / 2^32 (hash
    uniformity makes shards even), and pos_in_shard is a row_number
    window PARTITIONED by shard — every stage parallel, no global
    funnel. The composed order (shard, pos) is exactly the global
    hash order, so the permutation is identical to the single-sort
    form; ties on the 32-bit hash break by key, keeping the order
    total and partition-independent. md5 kernel is DuckDB-replicable
    (hash-oracled); xxhash64 is the cheap production kernel."""
    from pyspark.sql import Window

    h = content_hash32(
        F.concat(F.col(key_col).cast("string"), F.lit(seed)), kernel
    )
    shard = F.floor(h * n_shards / F.lit(4294967296)).cast("int")
    w = Window.partitionBy("shard").orderBy("_h", key_col)
    return (
        df.withColumn("_h", h)
        .withColumn("shard", shard)
        .withColumn("pos_in_shard", F.row_number().over(w) - 1)
        .drop("_h")
    )


def temperature_weights(
    domain_rows: dict[str, int], alpha: float = 0.7
) -> dict[str, float]:
    """Epoch weights from raw domain sizes via temperature flattening:
    sampling probability p_d ∝ (n_d / N)^alpha (alpha=1 keeps natural
    proportions, alpha→0 approaches uniform — the multilingual-LM
    rebalancing rule). Returned as PER-ROW replication weights
    normalized so the mixed corpus has the same total row count as the
    input: w_d = p_d * N / n_d. Feed straight into
    :func:`weighted_upsample`. Pure driver-side arithmetic over the
    domain histogram (a dict, never a DataFrame)."""
    if not domain_rows:
        return {}
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    total = sum(domain_rows.values())
    raw = {d: (n / total) ** alpha for d, n in domain_rows.items() if n > 0}
    z = sum(raw.values())
    return {d: (raw[d] / z) * total / domain_rows[d] for d in raw}


def weighted_upsample(
    df: DataFrame,
    domain_col: str,
    key_col: str,
    weights: dict[str, float],
    seed: str = "",
    kernel: str = "md5",
) -> DataFrame:
    """Fractional-epoch domain replication — the mixture-EXECUTION step
    of a LLaMA/Dolma-style recipe: a domain with weight 2.3 contributes
    every row twice plus a deterministic 30% of rows (by key hash) a
    third time; weight 0.5 keeps a deterministic half; weight 0 drops
    the domain. Output rows carry ``copy`` (0-based replica index), so
    downstream shuffling (:func:`training_shuffle_shards` keyed on
    key ⊕ copy) spreads replicas across the training order instead of
    emitting them adjacent.

    Determinism: the fractional tail is hash-mod selection on
    ``key_col`` (same contract as :func:`hash_sample`) — reruns,
    repartitions, and engine swaps replicate bit-for-bit, and nudging a
    weight from 2.3 to 2.4 only ADDS third copies (the kept set is a
    hash-prefix, monotone in the threshold). Domains absent from
    ``weights`` pass through at weight 1.

    Scale shape: one CASE projection + ``explode(sequence(...))`` — no
    join (weights are plan-time literals), no shuffle, output size
    exactly sum(n_d * w_d). The thresholds are integer bucket counts of
    ``N_BUCKETS``, so Spark and the DuckDB oracle agree exactly."""
    full_of: dict[str, int] = {}
    thr_of: dict[str, int] = {}
    for d, w in weights.items():
        if w < 0:
            raise ValueError(f"weight for {d!r} must be >= 0, got {w}")
        full_of[d] = int(w)
        thr_of[d] = int(round((w - int(w)) * N_BUCKETS))
    bucket = hash_bucket(F.col(key_col), seed, kernel)

    def _case(mapping: dict[str, int], default: int) -> Column:
        expr = None
        for d, v in mapping.items():
            cond = F.col(domain_col) == d
            expr = (F.when(cond, v) if expr is None
                    else expr.when(cond, v))
        return F.lit(default) if expr is None else expr.otherwise(default)

    n_copies = (
        _case(full_of, 1)
        + F.when(bucket < _case(thr_of, 0), 1).otherwise(0)
    )
    return (
        df.withColumn("_nc", n_copies)
        .filter(F.col("_nc") > 0)
        .withColumn(
            "copy", F.explode(F.sequence(F.lit(0), F.col("_nc") - 1))
        )
        .drop("_nc")
    )


def temperature_mixture_targets(
    df: DataFrame,
    stratum_col: str,
    total_budget: int,
    alpha: float = 0.5,
) -> dict[str, int]:
    """Temperature-weighted domain targets (round 6 — the UniMax/T5
    mixing rule): per-domain draw counts ∝ n_domain^alpha, normalized
    to ``total_budget`` and capped at availability. alpha=1 keeps the
    natural distribution, alpha→0 flattens toward uniform; 0.5 is the
    common low-resource-upweighting setting. Feed the result straight
    into :func:`mixture_sample` for the deterministic draw.

    Driver-side cost: ONE collect of the per-domain count table —
    bounded by domain cardinality (a handful of sources at any corpus
    size), the documented driver-materialization contract.

    alpha=0.5 runs in EXACT integer arithmetic (isqrt weights,
    integer-division allocation) so a SQL oracle reproduces targets
    bit-for-bit — floor(sqrt(n)) equals isqrt(n) for every n < 2^52,
    where double sqrt is correctly rounded. Other alphas use float
    pow (fine in production; record the resulting targets in the run
    config rather than oracling them)."""
    import math

    rows = sorted(
        (r[stratum_col], r["n"])
        for r in df.groupBy(stratum_col)
        .agg(F.count(F.lit(1)).alias("n")).collect()
    )
    if alpha == 0.5:
        weights = [(k, math.isqrt(n)) for k, n in rows]
        z = sum(w for _, w in weights)
        return {
            k: min(n, w * total_budget // z)
            for (k, n), (_, w) in zip(rows, weights)
        }
    weights_f = [(k, n ** alpha) for k, n in rows]
    z_f = sum(w for _, w in weights_f)
    return {
        k: min(n, int(w / z_f * total_budget))
        for (k, n), (_, w) in zip(rows, weights_f)
    }


def kfold_assign(
    df: DataFrame,
    id_col: str,
    k: int = 5,
    seed: str = "kfold",
    kernel: str = "md5",
) -> DataFrame:
    """Deterministic k-fold assignment: ``fold = hash32(seed:id) % k``
    — the cross-validation sibling of :func:`hash_split` (same
    hash-not-RNG contract: stable across reruns, partitionings, and
    engines). Output: the input plus a ``fold`` column. Pure
    projection, zero shuffle."""
    if k < 2:
        raise ValueError("kfold_assign: k must be >= 2")
    return df.withColumn(
        "fold",
        (hash_bucket(F.col(id_col).cast("string"), seed, kernel)
         % F.lit(k)).cast("int"),
    )


def kfold_split(
    df: DataFrame,
    id_col: str,
    fold: int,
    k: int = 5,
    seed: str = "kfold",
    kernel: str = "md5",
) -> tuple[DataFrame, DataFrame]:
    """(train, held_out) for one fold — held_out is fold ``fold``,
    train is everything else. Filters on the same pure projection, so
    both sides push down to the scan."""
    assigned = kfold_assign(df, id_col, k, seed, kernel)
    return (
        assigned.filter(F.col("fold") != fold).drop("fold"),
        assigned.filter(F.col("fold") == fold).drop("fold"),
    )
