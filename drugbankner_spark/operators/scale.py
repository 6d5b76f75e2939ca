"""Scale utilities (SURVEY.md §4, ARCHITECTURE.md §2-3): explicit skew
salting, bucketed co-located joins, and the index store.

AQE's skew-join covers the common case automatically; these are the
manual levers for when the planner needs help — extreme Zipfian keys
(entity names like "protein" in J2), or repeated join workloads where
bucketing amortizes the shuffle to zero.

The index store is :func:`write_partitioned` plus :func:`read_index`:
every serving index (LSH, IVF, IVF-PQ, the MinHash band table, the text
index, the linker's alias index) and the ingest state are written,
appended and read through these two, so the partition layout, the
empty-input fallback and the read memo's invalidation live in one
place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drugbankner_spark.caching import forget, session_memo, shared_persist


def _hadoop_fs(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for ``path_str`` via the JVM Hadoop API — the
    scheme-aware way to do table maintenance. ``shutil``/``os``/``glob``
    (round 2) only work on the driver's local disk; the same calls
    through ``FileSystem`` run identically on file://, hdfs:// and
    s3a:// — the environments the 100 TB story actually targets."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def _parquet_files(fs, path, recursive: bool = True):
    """The ``.parquet`` file statuses under ``path`` (none when it does
    not exist) — pure namespace metadata (one listing), no data scan."""
    if not fs.exists(path):
        return
    it = fs.listFiles(path, recursive)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            yield st


def _tree_bytes(fs, path) -> int:
    """Recursive size of the parquet files under ``path``."""
    return sum(st.getLen() for st in _parquet_files(fs, path))


def fact_salt_expr(salt_buckets: int):
    """The fact-side salt: ROW-varying (id-derived), never key-derived.
    Exposed so tests can assert that a hot key's rows actually spread
    across salt buckets (the round-1 key-derived salt could not)."""
    return F.pmod(F.monotonically_increasing_id(), F.lit(salt_buckets)).cast("int")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi join: the fact side gets a ROW-unique salt (derived
    from ``monotonically_increasing_id`` — NOT from the join key, which
    would give every row of a hot key the same salt and defeat the whole
    point), the dim side is EXPLODED across all salt values, and the join
    key becomes (key, salt). A hot key's rows now spread across
    ``salt_buckets`` reducers instead of one.

    Cost model: dim side is replicated ×salt_buckets (fine for dims; do
    NOT salt fact-fact joins this way — use AQE skew handling there).
    Which salt a given row receives is partition-layout dependent; join
    RESULTS are unaffected because the dim side carries every salt value.
    """
    fact_s = fact.withColumn("_salt", fact_salt_expr(salt_buckets))
    dim_s = dim.withColumn(
        "_salt",
        F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)])),
    )
    out = fact_s.join(dim_s, [key, "_salt"], how)
    return out.drop("_salt")


def write_bucketed(
    df: DataFrame, table_name: str, key: str, buckets: int = 8,
    sort_col: str | None = None,
) -> None:
    """Persist as a bucketed (+optionally sorted) table: subsequent equi
    joins/aggregations on ``key`` between tables bucketed the same way
    run with ZERO shuffle (bucket-to-bucket locality). The amortization
    play for repeated 100 TB join workloads."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # a stale managed-table location survives metastore resets (fresh
    # session + persistent warehouse dir) — clear it so overwrite works
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    fs, loc = _hadoop_fs(
        spark, warehouse.rstrip("/") + "/" + table_name.lower()
    )
    if fs.exists(loc):
        fs.delete(loc, True)
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table_name)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str,
    how: str = "inner",
) -> DataFrame:
    """Join two same-bucketed tables on their bucket key — Catalyst
    recognizes the co-partitioning and plans SortMergeJoin with no
    Exchange on either side (verified in tests/test_scale.py)."""
    return spark.table(left_table).join(spark.table(right_table), key, how)


#: Internal helper columns the two-phase rank primitives inject. An
#: input already carrying one of these names would be silently
#: clobbered mid-plan (and dropped from the output), so both entry
#: points REJECT such inputs up front (ADVICE r12) — rename before
#: calling; the names are deliberately unlikely.
_RANK_HELPER_COLS = frozenset(
    {"_shard", "_rns", "_pid", "_mid", "_m0", "_n", "_base", "_lrn"}
)


def _check_rank_helper_collisions(df: DataFrame, fn_name: str) -> None:
    clash = _RANK_HELPER_COLS.intersection(df.columns)
    if clash:
        raise ValueError(
            f"{fn_name}: input columns {sorted(clash)} collide with "
            "reserved internal helper names — rename them before calling"
        )


def _null_safe_broadcast_join(
    local: DataFrame, offsets: DataFrame, keys: list[str]
) -> DataFrame:
    """Broadcast equi-join that KEEPS rows whose group key is NULL
    (ADVICE r12: the list-form ``join(df, [cols])`` uses ``=`` which is
    never true for NULL = NULL, so NULL-keyed groups — e.g. the
    NULL-language bucket in ``zipf_slope(group_col=...)`` — silently
    vanished from the ranking). The offset side renames its key columns
    so the ``eqNullSafe`` condition is unambiguous, then drops them."""
    clash = {f"_r_{c}" for c in keys}.intersection(local.columns)
    if clash:
        # drop-by-name after the join would remove the user's column
        # too (same clobber class as _RANK_HELPER_COLS, via the other
        # namespace — round-13 review finding)
        raise ValueError(
            f"sharded ranking: input columns {sorted(clash)} collide "
            "with the null-safe join's renamed-key namespace — rename "
            "them before calling"
        )
    offs = offsets
    for c in keys:
        offs = offs.withColumnRenamed(c, f"_r_{c}")
    cond = None
    for c in keys:
        piece = local[c].eqNullSafe(offs[f"_r_{c}"])
        cond = piece if cond is None else cond & piece
    joined = local.join(F.broadcast(offs), cond)
    return joined.drop(*[f"_r_{c}" for c in keys])


def sharded_topk(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list,
    k: int,
    shards: int = 16,
    rank_col: str = "rank",
) -> DataFrame:
    """Two-phase per-group top-k that never lands a hot group's FULL
    row set in one window task (round 12, ADVICE r11: AQE's skew-join
    splitting does not apply to windows, so a plain
    ``row_number().over(partitionBy(group))`` stragglers on whatever
    group is biggest — a stop gram's posting list, a dominant
    language's vocabulary).

    Phase 1 salts rows with a ROW-varying shard id (the
    ``fact_salt_expr`` discipline — key-derived salts would put the
    whole hot group in one shard) and takes the top-k inside each
    (group, shard): any row in the group's true top-k is necessarily
    in its shard's top-k, so no qualifying row is lost. Phase 2
    re-ranks the surviving ≤ ``shards × k`` rows per group — a BOUNDED
    window whose partition size is a constant, not data-scale.

    Output: the input rows with ``rank_col`` (1-based) ≤ k — identical
    rows and ranks to the single-window form PROVIDED ``order_cols``
    is a TOTAL order within each group (include a unique tiebreaker,
    exactly as a deterministic single-window top-k already requires;
    equality is pinned in tests/test_scale.py). Cost: one extra
    window pass over the input — worth it when groups can be huge,
    overhead when the group count is bounded and small (time-series
    keys); pick per call site."""
    from pyspark.sql import Window

    if k < 1 or shards < 1:
        raise ValueError(
            f"sharded_topk: k and shards must be >= 1 (k={k}, "
            f"shards={shards})"
        )
    _check_rank_helper_collisions(df, "sharded_topk")

    w_shard = Window.partitionBy(*part_cols, "_shard").orderBy(*order_cols)
    pool = (
        df.withColumn("_shard", fact_salt_expr(shards))
        .withColumn("_rns", F.row_number().over(w_shard))
        .filter(F.col("_rns") <= k)
        .drop("_shard", "_rns")
    )
    w_full = Window.partitionBy(*part_cols).orderBy(*order_cols)
    return (
        pool.withColumn(rank_col, F.row_number().over(w_full))
        .filter(F.col(rank_col) <= k)
    )


def sharded_row_number(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list,
    out_col: str = "rank",
    num_partitions: int | None = None,
    method: str = "row_number",
) -> DataFrame:
    """FULL per-group row_number (every row ranked, no truncation)
    without landing any group's whole row set in one window task —
    the companion to :func:`sharded_topk` for rankings that cannot
    truncate (Zipf rank-frequency points need rank 1..V over the
    ENTIRE vocabulary; a corpus-wide group is one task under the
    plain window).

    ``method='rank'`` switches the in-partition function to SQL
    ``rank()`` (ties share a rank, gaps follow) — exact because the
    range exchange puts equal sort keys in ONE partition, so a tie
    block never spans the offset boundary and the shift (earlier
    partitions' ROW count, identical for both methods) is the plain
    #rows-before-the-block that rank semantics add to the local rank.
    Use it when the order is intentionally NON-total (percent_rank
    over raw values); 'row_number' keeps the total-order contract.

    Cost shape (round 12, second pass): 'row_number' pays ONE
    full-data exchange — the range repartition, followed by an
    in-partition sort; in-partition positions come from
    ``monotonically_increasing_id`` (consecutive within a partition,
    and nondeterministic, so Catalyst will not reorder it past the
    Sort), normalized by a map-side-combinable per-(partition, group)
    min/count agg that broadcasts back — the same work a plain
    single-window rank does, minus the unsplittable hot task. A
    window over (partition-id, group) would NOT reuse the range
    exchange (RangePartitioning does not satisfy the window's
    ClusteredDistribution) and was measured inserting a second
    full-data hash exchange. 'rank' keeps that window form — tie
    semantics need rank() itself — and so pays both exchanges;
    percent_rank is its only engine caller.

    Two phases, the :func:`~drugbankner_spark.operators.suffixarray.
    global_dense_rank` discipline generalized to per-group:
    range-repartition on (part_cols, order_cols) — equal keys land in
    one partition and each group's rows occupy a CONTIGUOUS run of
    partitions in sort order — then row_number within (partition,
    group) and shift by the group's row count in earlier partitions.
    The offset dim has at most (#partitions + #groups) rows (ranges
    are contiguous, so a partition adds one boundary group), windowed
    per group over the partition id and broadcast back.

    ``order_cols`` must be a TOTAL order within each group (same
    determinism contract as sharded_topk); pass ``F.desc(...)`` /
    ``F.asc(...)`` expressions — they drive both the range exchange
    and the in-partition sort, so the global order is exact."""
    from pyspark.sql import Window

    if method not in ("row_number", "rank"):
        raise ValueError(f"sharded_row_number: unknown method={method!r}")
    _check_rank_helper_collisions(df, "sharded_row_number")
    parts = df.repartitionByRange(
        *([num_partitions] if num_partitions else []),
        *[F.col(c) for c in part_cols], *order_cols,
    )
    w_off = (
        Window.partitionBy(*part_cols).orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    if method == "row_number":
        # in-partition position WITHOUT a second exchange: sort inside
        # the range partitions, then read positions off
        # monotonically_increasing_id (consecutive per partition; its
        # nondeterminism PINS it above the Sort). Persist the branch
        # point: the offsets agg and the output must observe one
        # evaluation of (_pid, _mid), not two.
        local = shared_persist(
            parts.sortWithinPartitions(
                *[F.col(c) for c in part_cols], *order_cols
            )
            .withColumn("_mid", F.monotonically_increasing_id())
            .withColumn("_pid", F.spark_partition_id())
        )
        hist = local.groupBy("_pid", *part_cols).agg(
            F.min("_mid").alias("_m0"),
            F.count(F.lit(1)).alias("_n"),
        )
        offsets = hist.withColumn(
            "_base", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
        ).select("_pid", *part_cols, "_m0", "_base")
        return (
            _null_safe_broadcast_join(local, offsets, ["_pid", *part_cols])
            .withColumn(
                out_col,
                F.col("_mid") - F.col("_m0") + F.lit(1) + F.col("_base"),
            )
            .drop("_pid", "_mid", "_m0", "_base")
        )
    # method == 'rank': ties must share a rank, so the in-partition
    # function has to be rank() itself — a window over (partition id,
    # group), which costs the second (hash) exchange documented above.
    local = shared_persist(
        parts.withColumn("_pid", F.spark_partition_id()).withColumn(
            "_lrn",
            F.rank().over(
                Window.partitionBy("_pid", *part_cols).orderBy(*order_cols)
            ),
        )
    )
    hist = local.groupBy("_pid", *part_cols).agg(
        F.count(F.lit(1)).alias("_n")
    )
    offsets = hist.withColumn(
        "_base", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("_pid", *part_cols, "_base")
    return (
        _null_safe_broadcast_join(local, offsets, ["_pid", *part_cols])
        .withColumn(out_col, F.col("_base") + F.col("_lrn"))
        .drop("_pid", "_lrn", "_base")
    )


def key_skew_profile(
    df: DataFrame, key: str, top_n: int = 20, hot_share: float = 0.01
) -> DataFrame:
    """Heavy-hitter profile for a join/agg key: the ``top_n`` most
    frequent keys with their absolute count, share of all rows, and a
    ``is_hot`` flag (share > ``hot_share``). This is the measurement that
    DECIDES between a plain join, AQE skew handling, and salted_join —
    salting costs ×buckets dim replication, so apply it to keys this
    profile flags, not speculatively.

    Cost: one map-side-combinable groupBy + a 1-row total broadcast back;
    the result is top_n rows. Run it on a hash_sample() at 100 TB — key
    SHARE is scale-invariant under uniform sampling.
    """
    # persisted: counts feeds both the 1-row total and the profile —
    # without it the source aggregation runs twice
    counts = shared_persist(
        df.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
    )
    total = counts.agg(F.sum("n_rows").alias("total_rows"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            key,
            "n_rows",
            F.round(F.col("n_rows") / F.col("total_rows"), 6).alias("share"),
            (F.col("n_rows") / F.col("total_rows") > hot_share).alias("is_hot"),
        )
        .orderBy(F.desc("n_rows"), F.asc(key))
        .limit(top_n)
    )


def recommended_join_strategy(
    profile: DataFrame,
    dim_rows: int,
    broadcast_threshold_rows: int = 1_000_000,
) -> str:
    """Turn a :func:`key_skew_profile` into a join-strategy decision —
    the logic the skew bench (bench.py ``skew`` section) demonstrates
    end-to-end on the Zipfian-names J2 workload (SURVEY hard-part #4):

    - ``'broadcast'`` when the dim side fits the broadcast budget: no
      shuffle at all, skew irrelevant (hot keys hit every executor's
      local hash table).
    - ``'salted'`` when the dim can't broadcast AND the profile flags a
      hot key: salting costs ×buckets dim replication but splits the hot
      key's reducer — AQE's skew rule only splits a skewed partition
      AFTER the shuffle materializes it, and can't help at all when the
      hot key is a single unsplittable group for a following agg.
    - ``'plain'`` otherwise: let AQE coalesce/handle residual imbalance.

    Cost: the profile is top_n rows — this is a driver-side decision on
    already-aggregated data, not a scan."""
    if dim_rows <= broadcast_threshold_rows:
        return "broadcast"
    if any(r["is_hot"] for r in profile.collect()):
        return "salted"
    return "plain"


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    max_records_per_file: int = 1_000_000,
    files_per_partition: int = 1,
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned Parquet sink with explicit file-count control —
    the write side of the index store.

    The naive ``df.write.partitionBy(c)`` writes one file per (task ×
    partition value) — at 1000 executors × 1000 partition values that is
    a million tiny files, and small files are the dominant failure mode
    of 100 TB table layouts (NameNode/listing pressure, per-file open
    cost, no scan parallelism *within* a value). Repartitioning by the
    partition columns first routes each value's rows to
    ``files_per_partition`` tasks (salted when >1 so a hot value still
    splits), and ``maxRecordsPerFile`` caps the opposite failure (one
    giant file per value). With no ``partition_cols`` the write is a
    plain one (side tables, fit metadata, ingest state).

    ``mode='append'`` adds files only under the partitions the new rows
    land in; existing partitions are untouched, so maintaining an index
    costs O(new data). A partitioned write of zero rows leaves no
    parquet footer to infer a schema from, so an empty frame is written
    plain instead: its partition columns stay ordinary columns and a
    probe's filters on them still resolve to an empty result. The next
    append replaces that zero-row placeholder (a plain file beside
    partition directories is not a readable layout). Emptiness is read
    off a driver-side file listing after the write — no Spark job.

    Every write drops the memoized :func:`read_index` of ``path``."""
    spark = df.sparkSession
    fs, root = _hadoop_fs(spark, path)
    if partition_cols:
        if mode == "append" and any(_parquet_files(fs, root, False)):
            mode = "overwrite"  # the store holds the zero-row placeholder
        parts = [F.col(c) for c in partition_cols]
        if files_per_partition > 1:
            parts.append(F.pmod(F.monotonically_increasing_id(),
                                F.lit(files_per_partition)))
        n_target = max(spark.sparkContext.defaultParallelism, 1)
        (
            df.repartition(n_target, *parts)
            .write.mode(mode)
            .option("maxRecordsPerFile", max_records_per_file)
            .partitionBy(*partition_cols)
            .parquet(path)
        )
    if not partition_cols or not any(_parquet_files(fs, root)):
        df.write.mode(mode).option(
            "maxRecordsPerFile", max_records_per_file
        ).parquet(path)
    _forget_read(spark, path)


def read_index(spark: SparkSession, path: str) -> DataFrame:
    """The read side of the index store: the analyzed read of ``path``,
    memoized per session. Analyzing a partitioned layout lists every
    partition directory on the driver (~0.5-1 s for a 256-bucket index)
    — pure overhead to repeat per probe. The memoized DataFrame is lazy;
    literal partition predicates applied on top of it still prune at
    planning time."""
    reads = session_memo(spark).setdefault("index_reads", {})
    if path not in reads:
        reads[path] = spark.read.parquet(path)
    return reads[path]


def _forget_read(spark: SparkSession, path: str) -> None:
    """Drop the memoized read of ``path`` in every session and refresh
    Spark's own file listing, so a rewritten store is never served from
    deleted files (parquet reads resolve the listing eagerly — without
    this, later probes hit FileNotFoundException or stale results)."""
    forget(spark, "index_reads", path)
    try:
        spark.catalog.refreshByPath(path)
    except Exception:
        pass  # path not yet known to the catalog — nothing to refresh


def zorder_key(cols: list[str], bits: int = 16) -> F.Column:
    """Morton (Z-order) interleave of up to 4 numeric columns: each
    column is rank-agnostically squashed into ``bits`` bits (caller
    pre-scales — pass e.g. ``F.percent_rank()*65535`` cast to int for
    non-uniform data), then the bit at position i of column j lands at
    output position ``i * n_cols + j``. Rows sorted by this key cluster
    NEARBY (c1, c2, ...) values into the same Parquet row groups, so
    min/max row-group statistics prune scans for predicates on ANY
    prefix-free subset of the columns — the standard lakehouse trick
    for multi-column data skipping (a single-column sort only helps
    that one column)."""
    if not 1 <= len(cols) <= 4:
        raise ValueError("zorder_key: 1-4 columns")
    n = len(cols)
    out = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            bit = F.shiftright(F.col(c).cast("long"), i).bitwiseAND(
                F.lit(1)
            )
            out = out.bitwiseOR(
                F.shiftleft(bit.cast("long"), i * n + j)
            )
    return out


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 16,
    max_records_per_file: int = 1_000_000,
) -> None:
    """Write Parquet clustered by the Z-order of ``cols``:
    repartitionByRange on the Morton key (range partitioning keeps the
    global order across tasks — a plain repartition would shuffle
    arbitrarily and defeat the clustering) then sortWithinPartitions,
    so row-group min/max stats are tight on EVERY interleaved column.
    One extra shuffle at write time buys every future multi-column
    range scan its pruning."""
    keyed = df.withColumn("_z", zorder_key(cols, bits))
    (
        keyed.repartitionByRange("_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(path)
    )


def write_with_bloom_filters(
    df: DataFrame,
    path: str,
    bloom_cols: dict[str, int],
    mode: str = "overwrite",
    max_records_per_file: int = 1_000_000,
) -> None:
    """Parquet sink with per-column BLOOM FILTERS — the point-lookup
    pruning layer min/max row-group stats can't provide: min/max skip
    RANGE predicates, but an ``id = X`` probe against a high-cardinality
    unsorted column overlaps every row group's range; the bloom filter
    answers "definitely absent" per row group, so needle-in-100 TB
    lookups (digest probes, id joins against the dedup index) skip
    everything but the true hits. ``bloom_cols`` maps column → expected
    distinct count (sizes the filter; ~1.25 bytes/ndv at 1% fpp).
    Spark's vectorized reader consumes the filters automatically when
    ``spark.sql.parquet.filterPushdown`` is on (engine default)."""
    w = df.write.mode(mode).option("maxRecordsPerFile",
                                   max_records_per_file)
    for col, ndv in bloom_cols.items():
        w = w.option(f"parquet.bloom.filter.enabled#{col}", "true")
        w = w.option(f"parquet.bloom.filter.expected.ndv#{col}", str(ndv))
    w.parquet(path)


def upsert_partitions(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    max_records_per_file: int = 1_000_000,
) -> None:
    """Partition-level upsert via DYNAMIC partition overwrite: replaces
    ONLY the Hive partitions present in ``df``, leaving every other
    partition's files untouched (static overwrite mode — Spark's
    default — would delete the WHOLE table first). This is the
    idempotent-by-partition reprocessing primitive: re-running a day's
    batch rewrites exactly that day, so at 100 TB a backfill touches
    O(changed partitions), never the table. Writers route rows to one
    task per partition value first (the write_partitioned small-files
    discipline)."""
    (
        df.repartition(*[F.col(c) for c in partition_cols])
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_cols: list[str] | None = None,
) -> int:
    """Table-maintenance compaction: rewrite a Parquet directory so each
    output file is ~``target_file_bytes``. Returns the number of files
    written. Streaming sinks and incremental appends accrete small files;
    periodic compaction restores scan efficiency (fewer opens, full
    vectorized-reader batches). Sizing derives from the CURRENT on-disk
    bytes — a pure metadata sum, no data scan.

    All filesystem steps (size listing, swap) go through the Hadoop
    FileSystem API, so this runs unchanged against HDFS/S3A, not just
    the driver's local disk. The swap is rename-to-backup → rename-tmp-in
    → delete-backup, with every Hadoop boolean return CHECKED (they
    signal failure by returning False, not raising): the dataset is never
    deleted before its replacement is in place, and a failed step raises
    IOError instead of silently returning a success count. Renames are
    atomic on HDFS; on object stores rename is copy-based, so schedule
    compaction in a maintenance window (same caveat as any
    non-transactional layout — a table format with commit semantics is
    the upgrade path)."""
    fs, src = _hadoop_fs(spark, path)
    on_disk = _tree_bytes(fs, src)
    n_files = max(1, round(on_disk / target_file_bytes))
    df = spark.read.parquet(path)
    tmp_str = path.rstrip("/") + ".compact.tmp"
    bak_str = path.rstrip("/") + ".compact.bak"
    _, tmp = _hadoop_fs(spark, tmp_str)
    _, bak = _hadoop_fs(spark, bak_str)
    if fs.exists(bak):
        raise IOError(
            f"compact_small_files: stale backup {bak_str} exists — a "
            "previous compaction died mid-swap; inspect/restore it first"
        )
    w = df.repartition(n_files).write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(tmp_str)
    if not fs.rename(src, bak):
        raise IOError(f"compact_small_files: rename {path} -> {bak_str} failed")
    if not fs.rename(tmp, src):
        # put the original back before raising — no data-loss window
        fs.rename(bak, src)
        raise IOError(f"compact_small_files: rename {tmp_str} -> {path} failed")
    if not fs.delete(bak, True):
        raise IOError(
            f"compact_small_files: compaction succeeded but deleting the "
            f"backup {bak_str} failed — remove it before the next run"
        )
    return n_files


def snapshot_manifest(spark: SparkSession, path: str) -> DataFrame:
    """Content manifest of a dataset directory: one row per data file —
    (rel_path, n_bytes, mtime_ms, content_sha256) — the reproducibility
    pin a training run records so "which exact bytes did we train on"
    has an answer. Listing walks the Hadoop FileSystem API (identical
    on file://, HDFS, S3A); hashing reads each file ONCE via the
    binaryFile source, distributed across executors — the driver never
    touches file contents. Pair with :func:`manifest_diff` to audit
    what changed between two snapshots."""
    import re as _re

    # normalize the INPUT path with the same scheme-strip applied to the
    # listed paths below — a scheme-qualified input ('file:/data/x')
    # must yield the same prefix length (ADVICE r05: it mis-sliced
    # every rel_path otherwise)
    base = (
        _re.sub(r"^[A-Za-z][A-Za-z0-9+.-]*:/+", "/", path).rstrip("/") + "/"
    )
    listed = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.parquet"
    ).option("recursiveFileLookup", "true").load(path)
    # listed paths carry a scheme (file:/...); drop it, then cut the
    # base prefix BY LENGTH — no regex, so special chars in paths are
    # inert and the cut is exact
    no_scheme = F.regexp_replace(F.col("path"), r"^[A-Za-z][A-Za-z0-9+.-]*:/+", "/")
    return listed.select(
        F.substring(no_scheme, len(base) + 1, F.lit(1 << 30))
        .alias("rel_path"),
        F.col("length").alias("n_bytes"),
        (F.col("modificationTime").cast("double") * 1000).cast("long")
        .alias("mtime_ms"),
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )


def manifest_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Changes between two :func:`snapshot_manifest` outputs as one
    long-format report: (rel_path, change) with change ∈ {'added',
    'removed', 'modified'} — byte-identical files (same path AND
    content hash) drop out. Two small full-outer-joined manifests;
    never touches data files."""
    o = old.select("rel_path", F.col("content_sha256").alias("_old"))
    n = new.select("rel_path", F.col("content_sha256").alias("_new"))
    joined = o.join(n, "rel_path", "full_outer")
    return joined.select(
        "rel_path",
        F.when(F.col("_old").isNull(), F.lit("added"))
        .when(F.col("_new").isNull(), F.lit("removed"))
        .when(F.col("_old") != F.col("_new"), F.lit("modified"))
        .alias("change"),
    ).filter(F.col("change").isNotNull())


def describe_parquet_layout(spark: SparkSession, path: str) -> DataFrame:
    """Physical-layout audit: per (file, row-group) — row counts, byte
    sizes, and per-column min/max presence — the observability half of
    the storage levers (zorder_write / write_with_bloom_filters /
    compact_small_files): BEFORE re-clustering 100 TB, measure whether
    row-group statistics are actually tight enough to skip. Metadata
    footers only (pyarrow), fanned out one file per task via the
    binaryFile LISTING (content is never read)."""
    import pandas as pd

    from pyspark.sql import types as T

    files = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.parquet"
    ).option("recursiveFileLookup", "true").load(path).select("path")

    out_schema = T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("row_group", T.LongType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("total_byte_size", T.LongType()),
        T.StructField("n_columns", T.LongType()),
        T.StructField("n_cols_with_minmax", T.LongType()),
    ])

    def run(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                local = p[len("file:"):] if p.startswith("file:") else p
                meta = pq.ParquetFile(local).metadata
                for rg in range(meta.num_row_groups):
                    g = meta.row_group(rg)
                    with_stats = sum(
                        1 for c in range(g.num_columns)
                        if g.column(c).statistics is not None
                        and g.column(c).statistics.has_min_max
                    )
                    rows.append((
                        p, rg, g.num_rows, g.total_byte_size,
                        g.num_columns, with_stats,
                    ))
            yield pd.DataFrame(
                rows,
                columns=["path", "row_group", "n_rows",
                         "total_byte_size", "n_columns",
                         "n_cols_with_minmax"],
            )

    return files.mapInPandas(run, out_schema)


def write_text_file(spark: SparkSession, path: str, text: str) -> None:
    """Small-artifact text write through the Hadoop FileSystem API —
    identical on file://, HDFS and S3A (model/tokenizer state, configs;
    NOT data — data goes through DataFrame writers)."""
    fs, p = _hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def read_text_file(spark: SparkSession, path: str) -> str:
    fs, p = _hadoop_fs(spark, path)
    stream = fs.open(p)
    try:
        # py4j passes Java byte[] buffers BY COPY, so incremental
        # stream.read(buf) can't fill a Python bytearray — slurp on the
        # JVM side and let py4j convert the returned byte[]
        data = spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        return bytes(data).decode("utf-8")
    finally:
        stream.close()
