"""Distributed suffix array by prefix doubling + exact substring
duplication (round 7).

The strongest published exact-dedup method for LLM training corpora is
suffix-array substring deduplication (Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better"): build the suffix array of
the concatenated corpus, and every pair of adjacent suffixes sharing a
prefix of ≥ L characters marks a duplicated span. The reference corpus
tools and the repo's existing gram-keyed dedup family approximate this
with fixed-length shingles; the suffix array is the EXACT instrument —
it finds every duplicated substring of every length ≥ L in one
structure.

Construction is Manber-Myers / Larsson-Sadakane PREFIX DOUBLING
re-expressed relationally — the shape used by published distributed
suffix-array builders (Flick & Aluru, SC'15): the corpus becomes a
(gpos, rank) table; each of the ⌈log₂ N⌉ rounds self-joins the table at
offset 2^k and re-ranks by the (rank, rank@+2^k) pair. Every round is
ONE equi-join on position plus ONE global dense-rank; no suffix string
is ever materialized, so memory stays O(N) rows of fixed width no
matter how long the duplicated substrings are — exactly the property
the gram-explosion approach lacks (an L-char window replicates the
corpus ×L bytes; the suffix array replicates it ×log N integer tuples,
spread over rounds).

The global dense-rank is the scale-critical primitive: a naive
``Window.orderBy`` collapses to one partition. :func:`global_dense_rank`
does the classic two-phase distributed ranking instead — range-
repartition by key, rank WITHIN partitions (window keyed by
``spark_partition_id``), then add per-partition offsets computed from a
P-row partition-histogram dim (broadcast). All rows shuffle exactly
once per round; the only driver-sized object is the P-row histogram.

Lineage is cut per round with ``localCheckpoint`` (the engine's CC/BFS
fixpoint pattern) so round k doesn't replay rounds 0..k-1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from drugbankner_spark.tables import local_df

#: Separator between concatenated documents — sorts below every
#: printable character in BOTH engines (binary collation) and never
#: occurs in text, so duplicated spans cannot cross document bounds.
DOC_SEP = "\x01"


def global_running_sum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    out_col: str = "_cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """EXCLUSIVE prefix sum of ``value_col`` in global ``order_cols``
    order without a single-partition window — the cumsum twin of
    :func:`global_dense_rank` (VERDICT r07 "what's wrong" #1): range-
    repartition on the order keys, window-cumsum WITHIN each partition
    (keyed by ``spark_partition_id``), then shift each partition by the
    total of the partitions before it (a P-row histogram dim, window-
    cumsummed on the driver-sized side and broadcast back). All rows
    shuffle exactly once; the only unpartitioned window runs over the
    P-row histogram."""
    from drugbankner_spark.caching import shared_persist

    parts = df.repartitionByRange(
        *([num_partitions] if num_partitions else []), *order_cols
    )
    w_in = Window.partitionBy("_pid").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    # persist the branch point: the histogram and the data pass BOTH
    # read ``_pid``, and two independently-planned range exchanges may
    # sample DIFFERENT boundaries — the pids would disagree and the
    # offsets silently misalign (caught on the suffix-array bench
    # corpus: ranks overshot n). One shared subtree = one exchange.
    local = shared_persist(
        parts.withColumn("_pid", F.spark_partition_id()).withColumn(
            "_lsum", F.coalesce(F.sum(value_col).over(w_in), F.lit(0))
        )
    )
    hist = local.groupBy("_pid").agg(F.sum(value_col).alias("_tot"))
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = hist.withColumn(
        "_base", F.coalesce(F.sum("_tot").over(w_off), F.lit(0))
    ).select("_pid", "_base")
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, F.col("_base") + F.col("_lsum"))
        .drop("_pid", "_lsum", "_base")
    )


def corpus_positions(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = DOC_SEP,
    win_len: int = 1,
) -> DataFrame:
    """(gpos, doc_id, local_pos, ch): one row per character of the
    doc-id-ordered, separator-joined corpus string. Global positions
    are 1-based (substr convention in both engines); ``ch`` is the
    character as a 1-char STRING so the initial rank uses binary string
    order — identical in Spark and DuckDB. Per-doc offsets come from
    the TWO-PHASE distributed prefix sum over the doc-length dim, in
    the collected-histogram form (round 15): deterministic id-range
    buckets (one 1-row min/max job, no range-sampling pass), per-bucket
    window cumsum, per-bucket totals collected (≤P rows) and turned
    into a broadcast literal offset dim — two jobs total where
    :func:`global_running_sum`'s sampled-range + window-over-histogram
    shape cost ~5. The per-character explode (sequence + substring,
    the _char_ngrams pattern) is embarrassingly parallel.

    ``win_len > 1`` (round 16): ``ch`` becomes the TRUE ``win_len``-char
    corpus window starting at each position — including characters that
    cross document boundaries. Each doc's string is extended with the
    next ``win_len−1`` corpus characters, gathered on the DOC dim (two
    bounded passes: per-bucket lead() prefixes + a collected per-bucket
    head table chained on the driver), so the per-position cost is one
    substring — the corpus is never re-shuffled for the window. The
    window truncates only at the true corpus end, where the shorter
    string IS the true suffix. This is what lets :func:`suffix_array`
    start prefix doubling at k = win_len: every equal-window tie
    certifies ``win_len`` agreed characters (truncated windows never
    tie — distinct corpus-end positions have distinct lengths)."""
    from drugbankner_spark.caching import shared_persist

    spark = docs.sparkSession
    lens = docs.select(
        F.col(id_col),
        (F.length(text_col) + F.lit(len(sep))).alias("_span"),
        F.concat(F.col(text_col), F.lit(sep)).alias("_t"),
    )
    bounds = lens.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).collect()[0]
    if bounds["lo"] is None:  # empty corpus
        return lens.select(
            F.lit(0).cast("long").alias("gpos"),
            F.col(id_col).alias("doc_id"),
            F.lit(0).alias("local_pos"),
            F.lit("").alias("ch"),
        ).filter(F.lit(False))
    lo, hi = int(bounds["lo"]), int(bounds["hi"])
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    span = hi - lo + 1
    # deterministic monotone bucket over the id range: equal ids →
    # equal bucket, bucket ascending ⟺ id ascending (ties impossible:
    # ids are distinct). Balance tracks id density, which is what the
    # fixtures (dense ids) and any reasonable corpus have.
    bucket = F.floor(
        (F.col(id_col) - F.lit(lo)) * n_buckets / F.lit(span)
    ).cast("int")
    w_in = Window.partitionBy("_b").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    local = shared_persist(
        lens.withColumn("_b", bucket)
        .repartition("_b")
        .withColumn(
            "_lsum", F.coalesce(F.sum("_span").over(w_in), F.lit(0))
        )
    )
    hist = sorted(
        local.groupBy("_b").agg(F.sum("_span").alias("_tot")).collect(),
        key=lambda r: r["_b"],
    )
    base = 0
    offsets = {}
    for r in hist:
        offsets[r["_b"]] = base
        base += int(r["_tot"])
    max_b = max(offsets) if offsets else -1
    src = local
    if win_len > 1:
        ext = win_len - 1
        # Extend every doc's string with the next ``ext`` CORPUS chars
        # so each position's window is the true corpus window. All
        # doc-dim work: in-bucket continuation from the next docs'
        # lead() prefixes (every _t is ≥1 char — the sep — so ext
        # following docs always cover ext chars), cross-bucket
        # continuation from a collected per-bucket head table chained
        # on the driver (≤P×ext chars). The per-position table is
        # never re-shuffled for the window.
        w_doc = Window.partitionBy("_b").orderBy(id_col)
        heads = sorted(
            local.withColumn("_rn", F.row_number().over(w_doc))
            .filter(F.col("_rn") <= ext)
            .select("_b", "_rn", F.substring("_t", 1, ext).alias("_h"))
            .collect(),
            key=lambda r: (r["_b"], r["_rn"]),
        )
        bucket_head: dict[int, str] = {}
        for r in heads:
            bucket_head[r["_b"]] = (
                bucket_head.get(r["_b"], "") + r["_h"]
            )[:ext]
        # after[b] = the first ext corpus chars AFTER bucket b's docs
        after: dict[int, str] = {}
        tail = ""
        for b in reversed(range(max_b + 1)):
            after[b] = tail
            if b in bucket_head:
                tail = (bucket_head[b] + tail)[:ext]
        lead_parts = [
            F.coalesce(
                F.substring(F.lead("_t", j).over(w_doc), 1, ext),
                F.lit(""),
            )
            for j in range(1, ext + 1)
        ]
        if max_b < 4096:
            after_col = F.element_at(
                F.array(*[F.lit(after.get(b, ""))
                          for b in range(max_b + 1)]),
                F.col("_b") + 1,
            )
            src = local.withColumn(
                "_ext",
                F.substring(
                    F.concat_ws("", *lead_parts, after_col), 1, ext
                ),
            )
        else:  # pragma: no cover — cluster-scale width
            after_df = local_df(
                spark, sorted(after.items()), "_b int, _after string"
            )
            src = local.join(F.broadcast(after_df), "_b").withColumn(
                "_ext",
                F.substring(
                    F.concat_ws("", *lead_parts, F.col("_after")), 1, ext
                ),
            )
    else:
        src = local.withColumn("_ext", F.lit(""))
    # literal-array offset lookup — same rationale (and the same ~4k
    # fallback) as _collected_dense_rank below
    if max_b < 4096:
        arr = F.array(*[
            F.lit(int(offsets.get(b, 0))).cast("long")
            for b in range(max_b + 1)
        ])
        offs = src.select(
            F.col(id_col),
            (F.element_at(arr, F.col("_b") + 1)
             + F.col("_lsum")).alias("_off"),
            "_t", "_ext",
        )
    else:  # pragma: no cover — cluster-scale width
        off_df = local_df(
            spark, sorted(offsets.items()), "_b int, _base long"
        )
        offs = (
            src.join(F.broadcast(off_df), "_b")
            .select(
                F.col(id_col),
                (F.col("_base") + F.col("_lsum")).alias("_off"),
                "_t", "_ext",
            )
        )
    return offs.select(
        F.col(id_col), "_off",
        F.concat(F.col("_t"), F.col("_ext")).alias("_tx"),
        F.explode(
            F.sequence(F.lit(1), F.length("_t"))
        ).alias("_i"),
    ).select(
        (F.col("_off") + F.col("_i")).alias("gpos"),
        F.col(id_col).alias("doc_id"),
        F.col("_i").alias("local_pos"),
        F.expr(f"substring(_tx, _i, {int(win_len)})").alias("ch"),
    )


def global_dense_rank(
    df: DataFrame, key_cols: list[str], out_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Dense rank over a GLOBAL key order without a single-partition
    window: range-repartition on the keys, dense-rank within each
    partition (window keyed by the partition id), then shift each
    partition by the cumulative distinct-key count of the partitions
    before it (a P-row dim, window-cumsummed and broadcast back).

    Range partitioning puts equal keys in the same partition (Spark's
    RangePartitioner is key-value based), so the within-partition dense
    rank plus cross-partition offset is exact."""
    from drugbankner_spark.caching import shared_persist

    parts = df.repartitionByRange(
        *( [num_partitions] if num_partitions else [] ), *key_cols
    )
    pid = F.spark_partition_id()
    w_in = Window.partitionBy("_pid").orderBy(*key_cols)
    # persist the branch point (same reasoning as global_running_sum):
    # the histogram and the rank pass must observe ONE range exchange's
    # ``_pid``, not two independently-sampled ones
    local = shared_persist(
        parts.withColumn("_pid", pid).withColumn(
            "_lrank", F.dense_rank().over(w_in)
        )
    )
    hist = local.groupBy("_pid").agg(
        F.max("_lrank").alias("_n_keys")
    )
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    offsets = hist.withColumn(
        "_base", F.coalesce(F.sum("_n_keys").over(w_off), F.lit(0))
    ).select("_pid", "_base")
    return (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_base") + F.col("_lrank")))
        .drop("_pid", "_lrank", "_base")
    )


def _collected_dense_rank(
    df: DataFrame,
    key_cols: list[str],
    num_partitions: int | None = None,
    bucket_col=None,
) -> tuple[DataFrame, int, int]:
    """Two-phase global dense rank with the partition histogram
    COLLECTED — returns ``(ranked_df, n_distinct_keys, n_rows)``.

    Versus :func:`global_dense_rank` (round 15, guide §1.2/§2): the
    P-row histogram was already computed to shift per-partition ranks;
    collecting it (≤P rows) instead of window-cumsum + broadcast-join
    buys three things at once: (a) the caller's fixpoint stop
    criterion (``n_distinct == n_rows``) falls out of the same job
    that materializes the persisted branch point — the per-round
    ``max(rank)`` collect job disappears; (b) the offsets become a
    driver-built literal dim, whose broadcast needs no job; (c) with
    ``bucket_col`` set, a DETERMINISTIC hash repartition on the bucket
    replaces sampled range partitioning, deleting the per-round
    sampling pass. Callers of ``bucket_col`` must guarantee bucket
    ascending ⟺ key ascending and equal keys → equal bucket (the
    prefix-doubling loop derives it from the previous round's dense
    rank, which satisfies both by construction)."""
    from drugbankner_spark.caching import shared_persist

    spark = df.sparkSession
    if bucket_col is not None:
        group = "_b"
        parts = df.withColumn("_b", bucket_col)
        parts = (
            parts.repartition(num_partitions, "_b")
            if num_partitions else parts.repartition("_b")
        )
        local = shared_persist(
            parts.withColumn(
                "_lrank",
                F.dense_rank().over(
                    Window.partitionBy("_b").orderBy(*key_cols)
                ),
            )
        )
    else:
        group = "_pid"
        parts = df.repartitionByRange(
            *([num_partitions] if num_partitions else []), *key_cols
        )
        # persist the branch point (branch-point law): the histogram
        # and the rank pass must observe ONE range exchange's _pid,
        # not two independently-sampled ones
        local = shared_persist(
            parts.withColumn("_pid", F.spark_partition_id()).withColumn(
                "_lrank",
                F.dense_rank().over(
                    Window.partitionBy("_pid").orderBy(*key_cols)
                ),
            )
        )
    hist = sorted(
        local.groupBy(group)
        .agg(F.max("_lrank").alias("_n_keys"),
             F.count(F.lit(1)).alias("_n_rows"))
        .collect(),
        key=lambda r: r[group],
    )
    n_distinct = sum(r["_n_keys"] for r in hist)
    n_rows = sum(r["_n_rows"] for r in hist)
    base = 0
    offsets = {}
    for r in hist:
        offsets[r[group]] = base
        base += r["_n_keys"]
    # Offsets applied as a LITERAL ARRAY LOOKUP, not a broadcast join
    # (round 16, guide §2.4): the dim is ≤P driver-held longs, and the
    # join cost one broadcast-build job PLUS a join node in every
    # round's re-planned query (the driver-side planning gaps measured
    # LARGER than the round's job time at sf0.1). element_at over a
    # literal array is a pure projection: zero extra jobs, a smaller
    # per-round plan. Every row's group id appears in the histogram by
    # construction, so padded slots (0) are never read. Above ~4k
    # groups (cluster-scale shuffle widths) fall back to the broadcast
    # join — a multi-thousand-element literal bloats plan/codegen.
    max_g = max(offsets) if offsets else -1
    if max_g < 4096:
        arr = F.array(*[
            F.lit(int(offsets.get(g, 0))).cast("long")
            for g in range(max_g + 1)
        ])
        ranked = (
            local.withColumn(
                "rank",
                F.element_at(arr, F.col(group) + 1) + F.col("_lrank"),
            )
            .drop(group, "_lrank",
                  *(["_b"] if bucket_col is not None else []))
        )
    else:  # pragma: no cover — cluster-scale width
        off_df = local_df(
            spark, sorted(offsets.items()), f"{group} int, _base long"
        )
        ranked = (
            local.join(F.broadcast(off_df), group)
            .withColumn("rank", F.col("_base") + F.col("_lrank"))
            .drop(group, "_lrank", "_base",
                  *(["_b"] if bucket_col is not None else []))
        )
    return ranked, n_distinct, n_rows


#: Round-0 window width for :func:`suffix_array`: the initial rank keys
#: on the true ``SA_INITIAL_WINDOW``-char corpus window of each
#: position, so prefix doubling starts at k=16 instead of k=1 — two
#: whole ranking rounds gone. Cost: round 0's exchange carries ~15
#: extra bytes/position, far below the ~80 bytes/position/round the
#: eliminated rounds shuffled (the window rides ONE exchange; a round
#: pays an explode×4 gather plus a repartition). 16 = one more
#: quadrupling step bought (64-char guarantee after round 1) while the
#: per-doc extension gather stays trivially small.
SA_INITIAL_WINDOW = 16


def suffix_array(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = DOC_SEP,
    max_rounds: int = 40,
    num_partitions: int | None = None,
    initial_window: int = SA_INITIAL_WINDOW,
) -> DataFrame:
    """(gpos, doc_id, local_pos, sa_rank): the suffix array of the
    doc-ordered, separator-joined corpus — ``sa_rank`` is the 1-based
    position of gpos's suffix in sorted suffix order.

    Prefix QUADRUPLING (round 15): each round re-keys by the rank
    4-tuple (r[i], r[i+k], r[i+2k], r[i+3k]) — exactly two classic
    doubling steps fused, because dense rank is order-isomorphic to
    its key tuple: ordering by (rank₂[i], rank₂[i+2k]) equals ordering
    by ((r[i], r[i+k]), (r[i+2k], r[i+3k])) — so the final permutation
    is unchanged while the round count halves. Past-the-end components
    coalesce to 0 (< every real rank ≥ 1): shorter sorts first,
    matching string comparison. Stops when all ranks are distinct or
    after ``max_rounds``; suffixes are pairwise distinct (distinct
    lengths), so the final rank is a permutation.

    WINDOWED ROUND 0 (round 16, guide §1.2 — remove whole passes):
    round 0 ranks each position by its true ``initial_window``-char
    corpus window (cross-document continuation included — see
    :func:`corpus_positions` ``win_len``), so k starts at
    ``initial_window``, not 1. Exactness: a window always terminates
    at a separator, so no window is a proper prefix of another
    (differing windows order exactly as the true suffixes), and a
    corpus-end-truncated window IS its whole suffix (distinct lengths
    → it never ties) — hence every round-0 tie certifies
    ``initial_window`` agreed characters, which is precisely the
    precondition prefix doubling needs to begin at that k.

    Per-round Spark-job budget (round 15, guide §2.4/§1): ONE
    histogram-collect job (which doubles as the stop criterion — no
    separate max(rank) pass) + ONE eager checkpoint. Rounds ≥ 1
    partition by the FORMULA bucket ``⌊(r−1)·P/n_prev⌋`` over the
    previous round's dense rank instead of sampled range partitioning
    — deterministic, evenly spread over the dense rank domain, and no
    sampling job; round 0 (window keys) buckets by the first char's
    codepoint, monotone with binary string order. Measured at sf0.1:
    r14 ~5 jobs/round × 8 rounds → r15 2 × 4 → r16 2 × 2.

    ``num_partitions`` sizes every per-round shuffle: leave None for
    the session default at cluster scale; set it small for bench-scale
    corpora where per-round fixed stage cost dominates."""
    from drugbankner_spark.caching import cache_scope

    spark = docs.sparkSession
    # `held` owns the newest round's persists: round 0's include
    # corpus_positions' internal offset persist, needed only until the
    # round-0 checkpoint materializes
    with cache_scope() as held:
        pos = corpus_positions(docs, text_col, id_col, sep,
                               win_len=initial_window)
        # round-0 bucket: ascii() (the FIRST char's codepoint) is monotone
        # with binary string order (UTF-8 is order-preserving) — equal
        # keys share a bucket and bucket order follows key order, so no
        # sampled range partitioning even at round 0
        ranked, n_distinct, n = _collected_dense_rank(
            pos.select("gpos", "doc_id", "local_pos",
                       F.col("ch").alias("_k1")),
            ["_k1"],
            num_partitions=num_partitions,
            bucket_col=F.ascii(F.col("_k1")),
        )
        # LAZY checkpoint (round 15): the next round's histogram job is the
        # first thing that reads `cur`, so it materializes the checkpoint
        # as a side effect — the per-round eager-checkpoint job disappears.
        # The price is deferred cache release: round r−1's branch-point
        # persist stays alive until round r's histogram has run
        # (held.release() below); the LAST round's persist is released by
        # the caller, like every registered cache.
        cur = ranked.drop("_k1").localCheckpoint(eager=False)
        n_buckets = num_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )
        d_doc = cur.schema["doc_id"].dataType.simpleString()
        d_pos = cur.schema["local_pos"].dataType.simpleString()
        k = max(1, int(initial_window))  # round 0 certified this many chars
        rounds = 0
        while rounds < max_rounds and n_distinct < n:
            # ONE exchange gathers all four rank components (round 15):
            # each position contributes its rank to itself (tag 0) and to
            # the three positions k, 2k, 3k BEFORE it (tags 1-3); a single
            # groupBy(gpos) pivots the tags into the 4-tuple key. The
            # former 3-way self-join shape cost four exchanges per round.
            contrib = cur.select(
                F.explode(
                    F.array(*[
                        F.struct(
                            (F.col("gpos") - F.lit(off * k)).alias("gpos"),
                            F.lit(tag).alias("_tag"),
                            F.col("rank").alias("_r"),
                            (F.col("doc_id") if tag == 0 else
                             F.lit(None).cast(d_doc)).alias("doc_id"),
                            (F.col("local_pos") if tag == 0 else
                             F.lit(None).cast(d_pos)).alias("local_pos"),
                        )
                        for tag, off in ((0, 0), (1, 1), (2, 2), (3, 3))
                    ])
                ).alias("_c")
            ).select("_c.*").filter(F.col("gpos") >= 1)
            keyed = contrib.groupBy("gpos").agg(
                F.max(F.when(F.col("_tag") == 0, F.col("_r"))).alias("_k1"),
                *[
                    F.coalesce(
                        F.max(F.when(F.col("_tag") == t, F.col("_r"))),
                        F.lit(0),
                    ).alias(f"_k{t + 1}")
                    for t in (1, 2, 3)
                ],
                F.max("doc_id").alias("doc_id"),
                F.max("local_pos").alias("local_pos"),
            )
            # previous ranks are DENSE in [1, n_distinct]: the formula
            # bucket spreads distinct keys evenly with no sampling pass
            bucket = F.floor(
                (F.col("_k1") - 1) * n_buckets / F.lit(int(n_distinct))
            ).cast("int")
            with cache_scope() as fresh:
                ranked, n_distinct, _ = _collected_dense_rank(
                    keyed, ["_k1", "_k2", "_k3", "_k4"],
                    num_partitions=num_partitions, bucket_col=bucket,
                )
                # the histogram job above materialized the PREVIOUS
                # round's lazy checkpoint — its backing caches are now
                # dead weight
                held.release()
                fresh.keep()
            cur = ranked.drop("_k1", "_k2", "_k3", "_k4").localCheckpoint(
                eager=False
            )
            k *= 4
            rounds += 1
        # the LAST round's persists back the lazy `cur`: hand them to
        # the caller's scope (or release_shared_caches())
        held.keep()
    return cur.withColumnRenamed("rank", "sa_rank")


def duplicated_spans(
    docs: DataFrame,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    sa: DataFrame | None = None,
) -> DataFrame:
    """Exact duplicated substrings of length ≥ ``min_len`` (Lee et al.
    2022 §3): adjacent suffixes in SA order sharing a ≥ min_len prefix.
    Output: (doc_id, local_pos, other_doc_id, other_pos, prefix) — one
    row per adjacent duplicated pair, canonical prefix included so the
    result is content-checkable.

    The LCP test joins the two positions back to the document texts and
    compares the min_len-char windows directly — one broadcast-or-
    shuffle join on doc id, no suffix materialization. (A full Kasai
    LCP array is sequential by nature; the fixed-threshold test is what
    dedup needs and stays relational.)"""
    if sa is None:
        sa = suffix_array(docs, text_col, id_col)
    texts = docs.select(
        F.col(id_col).alias("_tid"), F.col(text_col).alias("_txt")
    )

    def windowed(frame: DataFrame, prefix: str) -> DataFrame:
        return (
            frame.join(texts, frame["doc_id"] == texts["_tid"])
            .select(
                F.col("sa_rank"),
                F.col("doc_id").alias(f"{prefix}doc_id"),
                F.col("local_pos").alias(f"{prefix}pos"),
                F.substring(
                    F.col("_txt"), F.col("local_pos").cast("int"),
                    min_len
                ).alias(f"{prefix}win"),
            )
        )

    cur = windowed(sa, "")
    nxt = windowed(
        sa.withColumn("sa_rank", F.col("sa_rank") - 1), "other_"
    )
    return (
        cur.join(nxt, "sa_rank")
        .filter(
            (F.length("win") >= min_len)
            & (F.col("win") == F.col("other_win"))
        )
        .select(
            "doc_id", F.col("pos").alias("local_pos"),
            "other_doc_id", F.col("other_pos"),
            F.col("win").alias("prefix"),
        )
    )


def sa_dedup_corpus(
    docs: DataFrame,
    min_len: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    sa: DataFrame | None = None,
) -> DataFrame:
    """Lee et al. 2022 exact-substring REMOVAL composed end to end
    (VERDICT r07 next #2): every duplicated ``min_len``-char window
    keeps its corpus-FIRST occurrence (minimal (doc, position)) and
    every other occurrence's span is stripped from its document.
    Output: (id, text, n_chars_kept, n_chars_removed) — the gram-free
    exact counterpart of the shingle-based span dedups in
    operators/corpus.py.

    Semantics: suffixes sharing a ≥ min_len prefix are CONTIGUOUS in
    suffix-array order, so the adjacent pairs from
    :func:`duplicated_spans` enumerate every occurrence of every
    duplicated window; grouping the pair endpoints by the canonical
    ``prefix`` yields the occurrence set, one keeper per prefix
    survives, and overlapping removal spans merge per document via the
    engine's gaps-and-islands interval fold (operators/corpus.py)
    before one per-row strip pass rebuilds the text.

    Scale shape: the keeper vote is ONE shuffle keyed on the prefix
    string (hash it for a production kernel — the md5 twin of the
    gram-stats pattern; the text key keeps the DuckDB oracle exact);
    the interval merge windows partition by DOC id (bounded per doc,
    never corpus-wide); the strip is pure per-row expressions. The SA
    construction dominates — see :func:`suffix_array`'s sizing note."""
    from drugbankner_spark.caching import shared_persist
    from drugbankner_spark.operators.corpus import _merged_span_intervals

    # both occurrence branches read the span table — persist so the
    # post-checkpoint join/window work runs once (branch-point law)
    spans = shared_persist(
        duplicated_spans(docs, min_len, text_col, id_col, sa=sa)
    )
    occ = (
        spans.select("prefix", F.col("doc_id").alias("_d"),
                     F.col("local_pos").alias("_p"))
        .unionByName(
            spans.select("prefix", F.col("other_doc_id").alias("_d"),
                         F.col("other_pos").alias("_p"))
        )
        .distinct()
    )
    keeper = occ.groupBy("prefix").agg(
        F.min(F.struct(F.col("_d"), F.col("_p"))).alias("_keep")
    )
    removals = (
        occ.join(keeper, "prefix")
        .filter(
            (F.col("_d") != F.col("_keep._d"))
            | (F.col("_p") != F.col("_keep._p"))
        )
        .select(F.col("_d").alias(id_col),
                F.col("_p").cast("int").alias("_start"))
        .distinct()
    )
    merged = _merged_span_intervals(removals, id_col, min_len)
    stripped = F.expr(
        f"""aggregate(
            _spans,
            struct(CAST('' AS STRING) AS acc, 1 AS nxt),
            (s, sp) -> struct(
                concat(s.acc, substring({text_col}, s.nxt,
                                        CAST(sp._lo AS INT) - s.nxt)),
                CAST(sp._hi AS INT)),
            s -> concat(s.acc, substring({text_col}, s.nxt,
                        length({text_col}) - s.nxt + 1)))"""
    )
    empty = "array<struct<_lo:int,_hi:int>>"
    return (
        docs.join(merged, id_col, "left")
        .withColumn(
            "_spans",
            F.coalesce(F.col("_spans"), F.array().cast(empty)),
        )
        .select(
            F.col(id_col),
            stripped.alias(text_col),
            F.length(stripped).alias("n_chars_kept"),
            (F.length(text_col) - F.length(stripped))
            .alias("n_chars_removed"),
        )
    )
