"""End-to-end corpus cleaning: the composition a training-data pipeline
actually runs — near-dup clustering, canonical selection, then quality
filtering — expressed entirely in the engine's own operators so the
whole thing is ONE lazy plan (no materialization between stages except
the component fixpoint's checkpoints).

Order matters and is pinned: dedup FIRST (clusters computed on the full
corpus so a low-quality copy still collapses into its cluster), then
quality rules on the per-cluster canonical survivor. Filtering first
would let a dropped bridge document split a duplicate cluster in two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drugbankner_spark.caching import shared_persist
from drugbankner_spark.tables import local_df

from drugbankner_spark.operators.graph import near_dup_clusters
from drugbankner_spark.operators.textanalysis import gopher_quality_filter


def clean_corpus(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **filter_kwargs,
) -> DataFrame:
    """documents + candidate near-dup pairs → the cleaned corpus:
    one row per KEPT canonical document with its cluster size and
    quality features. Canonical = min doc id per duplicate cluster
    (deterministic, partition-independent).

    Plan shape: component labels (iterative, bounded — see graph.py),
    one (cluster) agg, one self-join of docs on the canonical ids
    (broadcast-able when the survivor set is small), one scan-side
    quality projection. Everything after the fixpoint is a straight-line
    Catalyst plan."""
    clusters = near_dup_clusters(docs, pairs, id_col)
    canon = clusters.groupBy("cluster_id").agg(
        F.min(id_col).alias(id_col),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    canon_docs = docs.join(canon, id_col)
    quality = gopher_quality_filter(
        canon_docs, text_col=text_col, id_col=id_col, **filter_kwargs
    )
    return (
        canon_docs.select(id_col, "cluster_id", "cluster_size")
        .join(quality, id_col)
        .filter(F.col("keep"))
        .select(
            id_col, "cluster_id", "cluster_size", "n_tokens",
        )
    )


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 32,
) -> DataFrame:
    """Split each document into overlapping token windows — the
    training-data shaping step before context-window packing. Output:
    (id, chunk_index, chunk_text, n_chunk_tokens), chunk i starting at
    token i*(chunk_tokens-overlap).

    Pure per-row array expressions (split → sequence of starts → slice)
    + ONE posexplode: no shuffle, no UDF, whole-stage codegen'd — a 100
    TB corpus chunks at scan speed. The last window may be short; empty
    docs yield one empty chunk (deterministic lower bound, mirroring
    shingle_array's convention)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    # project the split ONCE: a lambda's captured child expressions are
    # re-evaluated per array element, so slicing an inline split would
    # be O(tokens²) per document (round-6 lambda-capture audit)
    pre = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
    )
    toks = F.col("_toks")
    step = chunk_tokens - overlap
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - 1, F.lit(0)), F.lit(step)
    )
    chunks = F.transform(
        starts, lambda s: F.array_join(F.slice(toks, s + 1, chunk_tokens), " ")
    )
    return pre.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_index", "chunk_text"),
    ).withColumn("n_chunk_tokens", F.size(F.split(F.col("chunk_text"), " ")))


def pack_sequence_assignments(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 2048,
    n_buckets: int = 64,
) -> DataFrame:
    """GPT-style sequence packing: concatenate documents in ``id_col``
    order and split the token stream into fixed ``seq_len`` windows —
    the final shaping step before training. Output, one row per doc:
    (id, n_tokens, seq_first, seq_last, offset_in_first) — which
    training sequence(s) the doc lands in and where it starts. Docs
    spanning a boundary report seq_first < seq_last.

    Scale: the naive form is one GLOBAL running sum — an unpartitioned
    window that funnels 100 TB through a single task. Here it is the
    classic parallel prefix sum: range-bucket by id (min/max from one
    agg), per-bucket token totals (tiny) roll into base offsets on the
    driver, and the intra-bucket running sum is a window PARTITIONED by
    bucket — every stage parallel, results identical to the global scan
    (oracle-checked against DuckDB's single window)."""
    from pyspark.sql import Window

    d = docs.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).alias("n_tokens"),
    )
    lo, hi = d.agg(F.min(id_col), F.max(id_col)).first()
    if lo is None:
        return d.select(
            id_col, "n_tokens",
            F.lit(None).cast("long").alias("seq_first"),
            F.lit(None).cast("long").alias("seq_last"),
            F.lit(None).cast("long").alias("offset_in_first"),
        )
    bucket = F.least(
        F.width_bucket(F.col(id_col), F.lit(lo), F.lit(hi + 1),
                       F.lit(n_buckets)),
        F.lit(n_buckets),
    ).alias("_bucket")
    db = d.select(id_col, "n_tokens", bucket)
    per_bucket = {
        r["_bucket"]: r["_t"]
        for r in db.groupBy("_bucket")
        .agg(F.sum("n_tokens").alias("_t")).collect()
    }
    base, acc = [], 0
    for b in range(1, n_buckets + 1):
        base.append((b, acc))
        acc += per_bucket.get(b, 0)
    # Arrow-backed literal dim (round 16): avoids a Python-worker
    # round trip inside every job that executes this subtree
    offsets = local_df(
        docs.sparkSession, base, "_bucket int, _base long"
    )
    w = (
        Window.partitionBy("_bucket").orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    assigned = (
        db.join(F.broadcast(offsets), "_bucket")
        .withColumn(
            "_start",
            F.col("_base") + F.coalesce(F.sum("n_tokens").over(w), F.lit(0)),
        )
    )
    return assigned.select(
        F.col(id_col),
        "n_tokens",
        F.floor(F.col("_start") / seq_len).alias("seq_first"),
        F.floor((F.col("_start") + F.col("n_tokens") - 1) / seq_len).alias(
            "seq_last"
        ),
        F.pmod(F.col("_start"), F.lit(seq_len)).alias("offset_in_first"),
    )


def ingest_clean_batch(
    spark,
    new_docs: DataFrame,
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_model=None,
    quality_threshold: float = 0.5,
    **filter_kwargs,
) -> DataFrame:
    """Continuous-ingest corpus cleaning: admit one arriving batch
    against persistent state, touching only O(batch) text. This is the
    composition of the engine's three incremental primitives —
    ``incremental_exact_dedup`` (digest index), ``incremental_near_dup_
    pairs`` (stored MinHash band table), ``gopher_quality_filter`` — the
    form a 100 TB pipeline actually runs: the corpus is never rebuilt,
    each document's text is scanned and hashed exactly once, at its own
    ingest.

    State layout under ``state_dir``: ``corpus/`` (admitted documents)
    and ``bands/`` (their LSH band keys). Per batch:

    1. exact dedup vs stored digests + in-batch min-id survivor;
    2. near-dup probe of the band table — a fresh doc pairing with ANY
       stored doc is rejected (FIRST-WRITER-WINS: arrival order decides
       the canonical, the streaming-ingest counterpart of
       ``clean_corpus``'s global min-id rule — documented divergence);
       in-batch pairs keep the min id (pair graphs within one batch are
       cliques under the band threshold, so min-per-pair = min-per-
       component in practice; re-probing later batches catches the
       rest);
    3. Gopher quality rules on survivors — plus, when a fitted
       ``quality_model`` is supplied, the learned mlquality gate
       (P(high quality) ≥ ``quality_threshold``);
    4. admitted docs + their band keys are APPENDED to the state.

    Returns the admitted batch rows. First call bootstraps the state."""
    import os

    from drugbankner_spark.operators import dedup as D
    from drugbankner_spark.operators.scale import write_partitioned

    from pyspark.errors import AnalysisException

    corpus_path = os.path.join(state_dir, "corpus")
    bands_path = os.path.join(state_dir, "bands")
    try:
        stored = spark.read.parquet(corpus_path)
        bootstrapped = True
    except AnalysisException:  # PATH_NOT_FOUND → first batch bootstraps
        stored = None
        bootstrapped = False

    if bootstrapped:
        fresh = shared_persist(D.incremental_exact_dedup(
            new_docs, stored, text_col, id_col
        ))
        pairs = D.incremental_near_dup_pairs(
            spark, fresh, bands_path, text_col, id_col
        )
        # every pair involves ≥1 batch doc; classify sides by batch
        # membership with two equi left-joins (an OR-join would plan as
        # a nested loop), then: both-in-batch → min id wins; one side
        # stored → the batch side loses (first-writer-wins)
        bids = fresh.select(F.col(id_col).alias("_bid")).distinct()
        flagged = (
            pairs.join(
                bids.select(F.col("_bid").alias("id_a"),
                            F.lit(True).alias("_a_in")), "id_a", "left")
            .join(
                bids.select(F.col("_bid").alias("id_b"),
                            F.lit(True).alias("_b_in")), "id_b", "left")
        )
        losers = flagged.select(
            F.when(F.col("_a_in") & F.col("_b_in"),
                   F.greatest("id_a", "id_b"))
            .when(F.col("_a_in"), F.col("id_a"))
            .otherwise(F.col("id_b"))
            .alias(id_col)
        )
        fresh = fresh.join(losers.distinct(), id_col, "left_anti")
    else:
        pairs = D.minhash_band_pairs_rowwise(new_docs, text_col, id_col, 16)
        losers = pairs.select(F.greatest("id_a", "id_b").alias(id_col))
        fresh = D.exact_dedup(
            new_docs.withColumn(
                "_sha", F.sha2(F.col(text_col), 256)
            ), ["_sha"], order_cols=[id_col],
        ).drop("_sha").join(losers.distinct(), id_col, "left_anti")

    from drugbankner_spark.operators.textanalysis import gopher_quality_filter

    quality = gopher_quality_filter(
        fresh, text_col=text_col, id_col=id_col, **filter_kwargs
    )
    fresh = fresh.join(
        quality.filter(F.col("keep")).select(id_col), id_col, "semi"
    )
    # optional LEARNED gate after the rule gate (round 5): a fitted
    # mlquality PipelineModel scores the rule-survivors; both gates are
    # scan-shaped, so the composed admission is still one pass
    if quality_model is not None:
        from drugbankner_spark.operators.mlquality import filter_by_quality

        fresh = filter_by_quality(
            fresh, quality_model, quality_threshold, text_col, id_col
        )
    # localCheckpoint (eager), not persist: admitted's LINEAGE reads the
    # same state paths the next lines append to. A merely-persisted plan
    # re-evaluated after the append (cache eviction, or the returned
    # DataFrame) would see its own output as already-stored and reject
    # its rows — the checkpoint severs the lineage at the pre-append
    # snapshot.
    admitted = fresh.localCheckpoint(eager=True)

    # both writes go through the scale.py index store, which refreshes
    # the session's listing of each path — without that, this ingest's
    # rows would be invisible to the next batch and to the re-read below
    write_partitioned(admitted, corpus_path, [], mode="append")
    if bootstrapped:
        D.append_to_minhash_band_table(admitted, bands_path, text_col, id_col)
    else:
        D.build_minhash_band_table(admitted, bands_path, text_col, id_col)
    return spark.read.parquet(corpus_path).join(
        admitted.select(id_col), id_col, "semi"
    )


def stream_ingest_corpus(
    docs_stream: DataFrame, state_dir: str, **kwargs
) -> None:
    """Structured-Streaming face of ``ingest_clean_batch``: drive a
    document stream through a ``foreachBatch`` sink where every
    micro-batch is admitted against the same persistent state. Spark
    re-runs a failed epoch with the same epoch_id; the exact-dedup
    digest check makes replayed batches idempotent (re-presented docs
    are rejected as duplicates), giving effectively-exactly-once
    admission."""
    from drugbankner_spark.streaming.streams import run_foreach_batch

    def admit(batch_df: DataFrame, epoch_id: int) -> None:
        ingest_clean_batch(
            batch_df.sparkSession, batch_df, state_dir, **kwargs
        )

    run_foreach_batch(docs_stream, admit, output_mode="append",
                      max_files_per_trigger=1)


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination — the test-set-leakage guard every LLM
    data pipeline needs: flag training documents sharing any n-token
    shingle with a benchmark/eval set. Output: one row per train doc
    with ``n_overlapping`` (distinct shared shingles) and
    ``contaminated``.

    Plan shape: both sides reduce to DISTINCT (id, shingle) pairs; the
    benchmark side is tiny relative to the corpus (eval sets are
    thousands of docs) so its distinct shingle dim broadcasts — the
    train side never shuffles. The shuffle-free count-per-doc then joins
    back to ids only. n=8 follows the common n-gram-overlap
    decontamination practice (e.g. GPT-3 appendix C uses 13-grams,
    Gopher 8-grams); tune per tokenizer."""
    from drugbankner_spark.operators.dedup import token_shingles

    t = token_shingles(train, text_col, id_col, n)
    b = token_shingles(benchmark, text_col, id_col, n).select(
        "shingle"
    ).distinct()
    hits = (
        t.join(F.broadcast(b), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlapping"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_overlapping", F.lit(0)).alias("n_overlapping"),
            (F.coalesce("n_overlapping", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def _merged_span_intervals(
    starts: DataFrame, id_col: str, n: int
) -> DataFrame:
    """(id, _start) span starts — each covering token positions
    [_start, _start + n) — folded into per-doc DISJOINT intervals
    (id, _spans: array<struct<_lo,_hi>>) via gaps-and-islands: a
    windowed cummax of span ends marks where a new island begins, a
    running sum numbers the islands, one agg takes (min lo, max hi)
    per island. The window partitions by the DOC id — bounded by
    per-document span count, never a corpus-wide key. Shared by the
    intra- and cross-document span dedups so their per-token coverage
    test is O(tokens × merged_intervals), not O(tokens × spans)
    (VERDICT r05 watch item: one token repeated 50k times collapses to
    ONE interval instead of ~10^9 lambda evaluations)."""
    from pyspark.sql import Window

    ws = Window.partitionBy(id_col).orderBy("_start")
    prev_hi = F.max(F.col("_start") + n).over(
        ws.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = starts.withColumn(
        "_new",
        F.when(
            prev_hi.isNull() | (F.col("_start") > prev_hi), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_island",
        F.sum("_new").over(ws.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("_start").alias("_lo"),
            F.max(F.col("_start") + n).alias("_hi"),
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(
            F.struct(F.col("_lo"), F.col("_hi"))
        )).alias("_spans"))
    )


def _span_interval_filter(toks):
    """Array of surviving (token, 1-based position) structs: a token
    survives only if NO merged [_lo, _hi) interval covers it."""
    return F.filter(
        F.transform(toks, lambda t, i: F.struct(
            t.alias("t"), (i + 1).alias("p")
        )),
        lambda s: ~F.exists(
            F.col("_spans"),
            lambda sp: (s["p"] >= sp["_lo"]) & (s["p"] < sp["_hi"]),
        ),
    )


_EMPTY_SPANS = "array<struct<_lo:int,_hi:int>>"


def dedup_repeated_ngrams(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    kernel: str = "md5",
) -> DataFrame:
    """Intra-document repeated-substring removal (round 5 — the
    within-doc counterpart of the corpus-level dedup family, after Lee
    et al., "Deduplicating Training Data Makes Language Models Better"):
    when a token ``n``-gram reoccurs inside the SAME document, every
    token of each LATER occurrence's span is dropped (first occurrence
    kept; spans may overlap — a token survives only if no duplicate
    span covers it). Boilerplate chains, copy-pasted paragraphs, and
    templated repetition melt out of each document without touching
    cross-document structure.

    Plan shape: posexplode the per-position n-gram list → one window
    per (doc, gram) marking repeat occurrences → gaps-and-islands merge
    of the overlapping spans into DISJOINT [lo, hi) intervals (windowed
    cummax over span ends, per doc) → per-doc interval list (tiny
    array) joined back → per-token ``exists`` test + rebuild via
    filter/array_join. Both windows partition by doc-bounded keys —
    never a corpus-wide key, so there is no skewed-reducer hazard at
    100 TB. The interval merge (VERDICT r05 watch item) makes the
    per-token test O(tokens × merged_intervals) instead of
    O(tokens × spans): a pathological doc (one token repeated 50k
    times) collapses to ONE interval instead of ~50k spans and ~10^9
    lambda evaluations. Output: (id, text, n_tokens_kept,
    n_tokens_dropped), fully SQL-expressible (hash-oracled).

    The repeat-detection window keys on a HASH of the gram, not the
    gram text — sf3 bench showed the gram shuffle is this operator's
    single biggest stage (~256 MB/stage at 30× bench SF), and the
    window only needs gram IDENTITY. ``kernel="md5"`` (default) is the
    128-bit collision-free oracle form (the DuckDB twin groups by the
    raw gram — identical groups); ``kernel="xxhash64"`` shuffles 8-byte
    keys for production corpora (within-doc 64-bit collision odds are
    ~1e-11 per 10k-gram document; parity vs md5 is tested)."""
    from pyspark.sql import Window

    toks = F.split(F.col(text_col), " ")
    # pre-projected token array: the gram lambda must slice a column
    # REFERENCE, not an inline split (re-evaluated per element →
    # O(tokens²); round-6 lambda-capture audit)
    tk = F.col("_toks")
    gram_text = F.array_join(F.slice(tk, F.col("_i"), n), " ")
    if kernel == "md5":
        gram_key = F.md5(gram_text)
    elif kernel == "xxhash64":
        gram_key = F.xxhash64(gram_text)
    else:
        raise ValueError(f"unknown hash kernel: {kernel!r}")
    grams = docs.select(
        F.col(id_col), toks.alias("_toks")
    ).select(
        F.col(id_col), "_toks",
        F.posexplode(
            # sequence(1, 0) is DESCENDING in Spark (slice at index 0
            # then throws) — docs shorter than n grams get an empty list
            F.when(
                F.size(tk) >= n,
                F.sequence(F.lit(1), F.size(tk) - (n - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("_pos0", "_i"),
    ).select(
        F.col(id_col),
        F.col("_pos0").alias("_pos"),
        gram_key.alias("_gram"),
    )
    w = Window.partitionBy(id_col, "_gram").orderBy("_pos")
    # posexplode indexes the gram ARRAY 0-based; token positions are
    # 1-based → span start = index + 1; each span covers [start, start+n)
    starts = (
        grams.withColumn("_occ", F.row_number().over(w))
        .filter(F.col("_occ") > 1)
        .select(F.col(id_col), (F.col("_pos") + 1).alias("_start"))
    )
    dup_spans = _merged_span_intervals(starts, id_col, n)
    kept = _span_interval_filter(toks)
    return (
        docs.join(dup_spans, id_col, "left")
        .withColumn("_spans", F.coalesce(
            F.col("_spans"), F.array().cast(_EMPTY_SPANS)
        ))
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(kept, lambda s: s["t"]), " "
            ).alias(text_col),
            F.size(kept).alias("n_tokens_kept"),
            (F.size(toks) - F.size(kept)).alias("n_tokens_dropped"),
        )
    )


def materialize_packed_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 2048,
    n_buckets: int = 64,
    with_boundaries: bool = False,
) -> DataFrame:
    """The last mile after :func:`pack_sequence_assignments`: emit the
    ACTUAL training sequences — (seq_id, tokens[≤seq_len], n_tokens),
    the concatenated-in-id-order token stream cut into fixed windows
    (final window may be short; padding is the trainer's concern).
    ``with_boundaries=True`` adds ``doc_starts``: the local offsets
    where each document begins inside the sequence — exactly what a
    trainer needs to build the block-diagonal attention mask that stops
    packed neighbors attending across document boundaries.

    Derivation: each doc's global start offset comes from the
    assignment's (seq_first, offset_in_first) — the parallel-prefix-sum
    machinery, no global window — then tokens explode with their global
    position, group by ``seq_id = pos div seq_len`` and sort within the
    (bounded, ≤seq_len-row) group. Shuffles (id, token, pos) pairs
    once; every group is exactly one training sequence, so there is no
    skew by construction. Flattening the output in seq order
    reproduces the exact concatenated token stream (tested)."""
    assign = pack_sequence_assignments(
        docs, id_col, text_col, seq_len, n_buckets
    ).select(
        id_col,
        (F.col("seq_first") * seq_len + F.col("offset_in_first")).alias(
            "_start"
        ),
    )
    toks = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("_i", "_tok"),
    )
    placed = toks.join(assign, id_col).select(
        (F.col("_start") + F.col("_i")).alias("_pos"),
        "_tok",
        (F.col("_i") == 0).alias("_doc_start"),
    )
    grouped = (
        placed.groupBy(F.floor(F.col("_pos") / seq_len).alias("seq_id"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                lambda s: s["_tok"],
            ).alias("tokens"),
            # local offsets where a NEW document begins inside this
            # sequence — the block-diagonal attention-mask boundaries a
            # trainer needs so packed neighbors don't attend across
            # documents; a doc CONTINUING from the previous sequence
            # contributes no boundary (its tokens attend to nothing
            # earlier in this sequence anyway)
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_doc_start"),
                        F.col("_pos") % seq_len,
                    )
                )
            ).alias("doc_starts"),
        )
        .withColumn("n_tokens", F.size("tokens"))
    )
    if not with_boundaries:
        return grouped.select("seq_id", "tokens", "n_tokens")
    return grouped.select("seq_id", "tokens", "doc_starts", "n_tokens")


def crossdoc_span_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    kernel: str = "md5",
) -> DataFrame:
    """Cross-document substring removal — the corpus-level counterpart
    of :func:`dedup_repeated_ngrams` (after Lee et al., "Deduplicating
    Training Data Makes Language Models Better": duplicated spans of
    >= n tokens appearing in MORE THAN ONE document are cut from every
    document except one keeper). Keeper = the document with the MINIMUM
    id among those containing the gram (first-writer-wins, deterministic
    and partition-independent); the keeper retains ALL its occurrences
    — intra-document repeats are :func:`dedup_repeated_ngrams`'s job,
    and composing the two gives the full Lee-et-al. semantics.

    Plan shape: one gram melt (posexplode of the per-position n-gram
    list, shared-persisted — it feeds both the stats agg and the
    occurrence join), one groupBy over the gram KEY computing
    (n_docs, keeper), one co-partitioned join back on the same key,
    one per-doc span agg, one join to rebuild the text. No window over
    a corpus-wide key; the only per-key state is the 2-value gram stat.

    ``kernel="md5"`` keys grams by their md5 hex (128-bit,
    collision-free, bit-reproducible in the DuckDB oracle — the ORACLE
    form). ``kernel="xxhash64"`` keys by Spark's native 64-bit xxhash —
    4x smaller shuffle keys and no cryptographic rounds; the PRODUCTION
    form for 100 TB corpora (same-output parity vs md5 is tested on
    planted duplicates)."""
    from pyspark.sql import Window

    toks = F.split(F.col(text_col), " ")
    gram_expr = F.col("_gram")
    if kernel == "md5":
        key = F.md5(gram_expr)
    elif kernel == "xxhash64":
        key = F.xxhash64(gram_expr)
    else:
        raise ValueError(f"unknown hash kernel: {kernel!r}")

    # pre-projected token array (lambda-capture audit — see
    # dedup_repeated_ngrams)
    tk = F.col("_toks")
    grams = shared_persist(
        docs.select(
            F.col(id_col), toks.alias("_toks")
        ).select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    F.when(
                        F.size(tk) >= n,
                        F.sequence(F.lit(1), F.size(tk) - (n - 1)),
                    ).otherwise(F.array().cast("array<int>")),
                    lambda i: F.array_join(F.slice(tk, i, n), " "),
                )
            ).alias("_pos", "_gram"),
        ).select(id_col, "_pos", key.alias("_key"))
    )
    stats = grams.groupBy("_key").agg(
        F.countDistinct(id_col).alias("_n_docs"),
        F.min(id_col).alias("_keeper"),
    ).filter(F.col("_n_docs") > 1)
    # positions from posexplode are 0-based gram indexes; token
    # positions are 1-based -> span start = index + 1; duplicate starts
    # (same position hit through several gram keys) fold away inside
    # the interval merge
    starts = (
        grams.join(stats, "_key")
        .filter(F.col(id_col) != F.col("_keeper"))
        .select(F.col(id_col), (F.col("_pos") + 1).alias("_start"))
    )
    dup_spans = _merged_span_intervals(starts, id_col, n)
    kept = _span_interval_filter(toks)
    return (
        docs.join(dup_spans, id_col, "left")
        .withColumn("_spans", F.coalesce(
            F.col("_spans"), F.array().cast(_EMPTY_SPANS)
        ))
        .select(
            F.col(id_col),
            F.array_join(
                F.transform(kept, lambda s: s["t"]), " "
            ).alias(text_col),
            F.size(kept).alias("n_tokens_kept"),
            (F.size(toks) - F.size(kept)).alias("n_tokens_dropped"),
        )
    )


def bloom_bit_positions(shingle: F.Column | str, m_bits: int, k: int):
    """The k bloom bit positions of a shingle: deterministic md5-derived
    32-bit hashes (``dedup.content_hash32`` kernel) of the shingle
    salted with the probe index, mod ``m_bits`` — bit-reproducible in
    DuckDB SQL, so the oracle replicates membership INCLUDING false
    positives."""
    from drugbankner_spark.operators.dedup import content_hash32

    col = F.col(shingle) if isinstance(shingle, str) else shingle
    return [
        F.pmod(
            content_hash32(F.concat(col, F.lit("\x1f"), F.lit(str(j)))),
            F.lit(m_bits),
        ).cast("long")
        for j in range(k)
    ]


def bloom_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    m_bits: int = 1 << 20,
    k: int = 3,
) -> DataFrame:
    """Join-free benchmark decontamination — the 100 TB shape of
    :func:`decontaminate`: instead of shuffling the benchmark shingle
    dim into a (broadcast) join, compress it into an ``m_bits``-wide
    Bloom bitmap (m_bits=2^20 -> 128 KiB regardless of benchmark size),
    broadcast THAT, and probe every training shingle in the same scan
    that produced it. The train side never shuffles text at all; the
    only shuffle is the final per-doc count agg over (id, flag) pairs.

    A shingle is flagged iff ALL ``k`` of its bit positions are lit by
    some benchmark shingle — the classic Bloom false-positive semantics
    (FP rate ~ (1 - e^(-k*n_shingles/m))^k; with the defaults and a
    100k-shingle eval set, ~2e-5). Positions come from
    :func:`bloom_bit_positions` (md5-derived), so the DuckDB oracle
    reproduces the exact same flags, false positives included.

    Output schema matches :func:`decontaminate`:
    (id, n_overlapping, contaminated) where ``n_overlapping`` counts
    the doc's DISTINCT flagged shingles."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    from drugbankner_spark.operators.dedup import token_shingles

    spark = train.sparkSession
    pos_rows = (
        token_shingles(benchmark, text_col, id_col, n)
        .select("shingle").distinct()
        .select(F.explode(F.array(
            *bloom_bit_positions("shingle", m_bits, k)
        )).alias("pos"))
        .distinct()
        .collect()
    )
    bitmap = np.zeros(m_bits, dtype=bool)
    bitmap[[r["pos"] for r in pos_rows]] = True
    bc = spark.sparkContext.broadcast(np.packbits(bitmap))

    def _probe(pos: "pd.Series") -> "pd.Series":
        bits = np.unpackbits(bc.value)
        return pd.Series(bits[pos.to_numpy()].astype(bool))

    # explicit SCALAR eval type: this module uses postponed annotation
    # evaluation, which the type-hint inference path can't resolve
    probe = pandas_udf(_probe, "boolean", PandasUDFType.SCALAR)

    sh = token_shingles(train, text_col, id_col, n)
    all_lit = F.lit(True)
    for p in bloom_bit_positions("shingle", m_bits, k):
        all_lit = all_lit & probe(p)
    hits = (
        sh.withColumn("_hit", all_lit)
        .filter(F.col("_hit"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlapping"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_overlapping", F.lit(0)).alias("n_overlapping"),
            (F.coalesce("n_overlapping", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def corpus_datacard(
    docs: DataFrame,
    group_cols: tuple[str, str] = ("source", "lang"),
    text_col: str = "text",
) -> DataFrame:
    """One-query dataset report over ``ROLLUP(source, lang)`` — the
    summary table a dataset release publishes as its "data card": doc
    counts, exact-duplicate rate (sha256 digest distincts), token
    totals, and exact length percentiles, per source×lang slice plus
    per-source and corpus-wide rollup rows.

    One aggregation → one shuffle on the grouping sets; the digest
    distinct adds the standard two-phase expand and the exact median
    collects each group's token counts once. At 100 TB scope the same
    shape holds (group count is bounded by the source×lang product, not
    corpus size); swap ``percentile`` for ``approx_percentile`` and
    count-distinct for HLL (operators/sketches.py) when exactness is
    worth trading for a fully map-side-combinable plan.
    """
    from drugbankner_spark.operators.textanalysis import token_count

    a, b = group_cols
    n_tokens = token_count(F.col(text_col))
    digest = F.sha2(F.col(text_col), 256)
    return (
        docs.select(a, b, n_tokens.alias("_nt"), digest.alias("_dg"))
        .rollup(a, b)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("_dg").alias("n_distinct_texts"),
            (F.count(F.lit(1)) - F.countDistinct("_dg")).alias("n_exact_dups"),
            F.sum("_nt").alias("total_tokens"),
            F.min("_nt").alias("min_tokens"),
            F.round(F.expr("percentile(_nt, 0.5)"), 4).alias("p50_tokens"),
            F.round(F.expr("percentile(_nt, 0.95)"), 4).alias("p95_tokens"),
            F.max("_nt").alias("max_tokens"),
        )
    )


def datacard_markdown(datacard: DataFrame, title: str = "Dataset") -> str:
    """Render a :func:`corpus_datacard` result as the human-readable
    release artifact — a markdown report with the corpus-wide rollup
    first, then per-source and per-slice tables. The input is already
    the TINY aggregated table (bounded by source×lang), so collecting
    it is the point, not a scale concern; pair with
    ``scale.write_text_file`` to publish next to the data."""
    rows = [r.asDict() for r in datacard.collect()]
    a, b = datacard.columns[0], datacard.columns[1]
    total = next(r for r in rows if r[a] is None and r[b] is None)
    lines = [
        f"# {title} — data card",
        "",
        f"- documents: {total['n_docs']:,}",
        f"- distinct texts: {total['n_distinct_texts']:,}"
        f" (exact duplicates: {total['n_exact_dups']:,})",
        f"- total tokens: {total['total_tokens']:,}",
        f"- tokens/doc: min {total['min_tokens']}, p50"
        f" {total['p50_tokens']}, p95 {total['p95_tokens']},"
        f" max {total['max_tokens']}",
        "",
        f"| {a} | {b} | docs | dups | tokens | p50 | p95 |",
        "|---|---|---|---|---|---|---|",
    ]
    slices = sorted(
        (r for r in rows if r[a] is not None),
        key=lambda r: (r[a], r[b] if r[b] is not None else ""),
    )
    for r in slices:
        lines.append(
            f"| {r[a]} | {r[b] if r[b] is not None else '(all)'} "
            f"| {r['n_docs']:,} | {r['n_exact_dups']:,} "
            f"| {r['total_tokens']:,} | {r['p50_tokens']} "
            f"| {r['p95_tokens']} |"
        )
    return "\n".join(lines) + "\n"


def length_buckets(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Power-of-two length bucketing — the dynamic-batching prequel to
    sequence packing: group documents whose token counts share a
    magnitude (bucket b holds counts in [2^b, 2^(b+1))), so a batch
    builder pads within a bucket instead of padding every sequence to
    the corpus max. Returns one row per document: (id, n_tokens,
    bucket, bucket_lo, bucket_hi).

    The bucket is computed as ``length(binary(n)) - 1`` — the integer
    floor(log2(n)) with NO floating-point log (log2(8) landing at
    2.999... would mis-bucket exact powers of two differently per
    engine; the base-2 digit count is exact everywhere, and DuckDB's
    ``bin()`` replicates it for the oracle). Empty documents (0
    tokens) get bucket -1 with a [0, 0] range. Pure per-row
    projection: zero shuffle at any scale."""
    from drugbankner_spark.operators.textanalysis import token_count

    n = token_count(F.col(text_col))
    bucket = F.when(n <= 0, F.lit(-1)).otherwise(
        F.length(F.conv(n.cast("string"), 10, 2)) - 1
    )
    return docs.select(
        F.col(id_col),
        n.alias("n_tokens"),
        bucket.alias("bucket"),
        F.when(bucket < 0, F.lit(0)).otherwise(
            F.pow(F.lit(2), bucket).cast("long")
        ).alias("bucket_lo"),
        F.when(bucket < 0, F.lit(0)).otherwise(
            F.pow(F.lit(2), bucket + 1).cast("long") - 1
        ).alias("bucket_hi"),
    )


def strip_boilerplate_sentences(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_doc_count: int = 2,
    kernel: str = "md5",
) -> DataFrame:
    """Cross-document BOILERPLATE removal at sentence granularity
    (round 6) — the RefinedWeb/CCNet "remove lines duplicated across
    documents" pass, on the engine's naive period-sentence unit
    (functions/normalize.py split_sentences): a sentence whose trimmed
    form appears in MORE than ``max_doc_count`` distinct docs (nav
    chrome, legal footers, cookie banners) is deleted from every doc;
    survivors reassemble in original order. Output: (id, text_clean,
    n_removed) — a doc whose sentences are ALL flagged keeps a row with
    empty text_clean (downstream length filters see it); a doc with no
    non-empty sentence at all contributes no row.

    Scale shape: sentences shuffle as (id, pos, hash) — the doc-freq
    agg and the flag join both key on the 32-bit sentence hash
    (dedup.content_hash32 dual kernel: md5 oracle / xxhash64
    production), never on sentence text; reassembly is one per-doc agg
    over an array_sort. The boilerplate dim holds only the flagged
    hashes — AQE broadcasts it when small."""
    from drugbankner_spark.operators.dedup import content_hash32

    sents = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\.")).alias("pos", "_s"),
    ).select(
        F.col(id_col),
        "pos",
        F.trim(F.col("_s")).alias("sent"),
    ).filter(F.col("sent") != "").select(
        F.col(id_col),
        "pos",
        "sent",
        content_hash32(F.col("sent"), kernel).alias("_h"),
    )
    flagged = (
        sents.groupBy("_h")
        .agg(F.countDistinct(id_col).alias("_df"))
        .filter(F.col("_df") > max_doc_count)
        .select("_h", F.lit(True).alias("_bad"))
    )
    marked = sents.join(flagged, "_h", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "sent", "_bad"))
            ).alias("_a")
        )
        .select(
            F.col(id_col),
            F.concat_ws(
                ". ",
                F.transform(
                    F.filter(F.col("_a"), lambda x: x["_bad"].isNull()),
                    lambda x: x["sent"],
                ),
            ).alias("text_clean"),
            F.size(
                F.filter(F.col("_a"), lambda x: x["_bad"].isNotNull())
            ).cast("long").alias("n_removed"),
        )
    )


def c4_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 3,
    min_kept_lines: int = 1,
) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020 §2.2) — line level:
    keep only lines that end in a terminal punctuation mark
    (``. ! ? "``), have ≥ ``min_words_per_line`` words, and don't
    mention "javascript" (case-insensitive); page level: flag pages
    containing ``{`` or "lorem ipsum" and pages left with fewer than
    ``min_kept_lines`` lines. Output per doc: cleaned ``text`` (kept
    lines re-joined in order, '' when none survive), ``n_lines_kept``,
    ``n_lines_dropped``, ``has_brace``, ``has_lorem``, ``keep``.

    Everything is a higher-order array expression over the split lines
    — no explode, no join, no shuffle: at 100 TB this runs at parquet
    scan throughput like :func:`gopher_quality_filter`, which is the
    point of C4's design (cheap rules first, expensive dedup after)."""
    t = F.col(text_col)
    lines = F.split(t, "\n")

    def _line_ok(x):
        words = F.size(F.filter(F.split(x, " "), lambda w: w != ""))
        return (
            F.substring(x, -1, 1).isin(".", "!", "?", '"')
            & (words >= min_words_per_line)
            & ~F.contains(F.lower(x), F.lit("javascript"))
        )

    kept = F.filter(lines, _line_ok)
    has_brace = F.contains(t, F.lit("{"))
    has_lorem = F.contains(F.lower(t), F.lit("lorem ipsum"))
    n_kept = F.size(kept)
    return docs.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("text"),
        n_kept.alias("n_lines_kept"),
        (F.size(lines) - n_kept).alias("n_lines_dropped"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        (
            ~has_brace & ~has_lorem & (n_kept >= min_kept_lines)
        ).alias("keep"),
    )


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_text: bool = False,
) -> DataFrame:
    """The modern pretraining-curation chain composed end to end —
    C4 line rules → PII scrub → Gopher quality rules → exact dedup —
    as ONE lazy plan (the FineWeb/Dolma recipe order: cheap rules
    first, scrub before quality so ratios see the redacted text, dedup
    last on the final bytes). Per ORIGINAL document: every stage's
    verdict plus the final ``keep``:

    (id, keep_c4, has_pii, keep_quality, is_exact_dup, keep,
    n_chars_final)

    ``keep_text=True`` appends ``text_final`` (the scrubbed bytes) so
    downstream stages — packing, tokenization — can consume the
    survivors without recomputing the chain.

    PII is scrubbed, not dropped — ``has_pii`` is an audit flag.
    Exact dedup groups the scrubbed text of C4-surviving pages and
    keeps the MIN id. Every stage is the repo's existing operator, so
    the one new thing is the composition — and the driver hash-checks
    it end to end."""
    from drugbankner_spark.operators.pii import pii_scrub
    from drugbankner_spark.operators.textanalysis import (
        gopher_quality_filter,
    )

    c4 = c4_filter(docs, text_col, id_col)
    keepc4 = c4.select(
        F.col(id_col), F.col("keep").alias("keep_c4"), "text"
    )
    scr = pii_scrub(keepc4.select(id_col, "text"), "text", id_col)
    base = keepc4.drop("text").join(
        scr.select(id_col, "text", "has_pii"), id_col
    )
    qual = gopher_quality_filter(
        scr.select(id_col, "text"), "text", id_col
    ).select(id_col, F.col("keep").alias("keep_quality"))
    keeper = (
        base.filter(F.col("keep_c4"))
        .groupBy("text")
        .agg(F.min(id_col).alias("_keeper"))
    )
    is_dup = F.col("keep_c4") & (F.col(id_col) != F.col("_keeper"))
    out = (
        base.join(qual, id_col)
        .join(keeper, "text", "left")
        .select(
            F.col(id_col),
            "keep_c4", "has_pii", "keep_quality",
            is_dup.alias("is_exact_dup"),
            (
                F.col("keep_c4") & F.col("keep_quality") & ~is_dup
            ).alias("keep"),
            F.length("text").alias("n_chars_final"),
            F.col("text").alias("text_final"),
        )
    )
    if not keep_text:
        out = out.drop("text_final")
    return out


def pretrain_prep(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seq_len: int = 512,
) -> DataFrame:
    """The full pretraining prep composed end to end (round 7): the
    curation chain (C4 → PII scrub → Gopher → exact dedup), then
    GPT-style sequence packing of the SURVIVING scrubbed corpus — the
    last two pipeline stages a training run consumes, under ONE lazy
    plan. Output: one row per KEPT document with its packed placement
    (id, n_tokens, seq_first, seq_last, offset_in_first).

    Composition, not new operators: every stage is the repo's existing
    hash-oracled kernel; what the composed oracle checks is that the
    stages agree on the hand-off (which docs survive, what their final
    bytes are, where packing places them)."""
    cur = curate_corpus(docs, text_col, id_col, keep_text=True)
    kept = cur.filter(F.col("keep")).select(
        F.col(id_col), F.col("text_final").alias(text_col)
    )
    return pack_sequence_assignments(
        kept, id_col=id_col, text_col=text_col, seq_len=seq_len
    )


def repair_text(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dehyphenate: bool = True,
    collapse_whitespace: bool = True,
    strip_controls: bool = True,
    mask_numbers: bool = False,
) -> DataFrame:
    """Extraction-artifact repair — the cleanup pass between raw PDF/
    OCR/HTML text and every downstream operator: rejoin line-wrap
    hyphenations (``over-\\nfit`` → ``overfit``), strip C0 control
    characters (except \\t \\n), collapse runs of spaces/tabs, and
    optionally mask digit runs as ``<NUM>`` (the classic LM-vocab
    trick). Rules apply IN THAT ORDER and each is a single
    ``regexp_replace`` — lookaround-free patterns that mean the same
    in Java and RE2, zero shuffle, scan throughput. Output: (id, text,
    n_chars_before, n_chars_after)."""
    t = F.col(text_col)
    before = F.length(t)
    if dehyphenate:
        t = F.regexp_replace(
            t, r"([A-Za-z])-\n([A-Za-z])", r"$1$2"
        )
    if strip_controls:
        t = F.regexp_replace(t, r"[\x00-\x08\x0b-\x1f\x7f]", "")
    if collapse_whitespace:
        t = F.regexp_replace(t, r"[ \t]+", " ")
    if mask_numbers:
        t = F.regexp_replace(t, r"[0-9]+", "<NUM>")
    return docs.select(
        F.col(id_col),
        t.alias("text"),
        before.alias("n_chars_before"),
        F.length(t).alias("n_chars_after"),
    )


def augment_text(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    drop_every_k: int = 11,
    swap_every_k: int = 7,
) -> DataFrame:
    """Deterministic EDA-style augmentation (Wei & Zou 2019, minus the
    RNG): token p is DELETED iff ``hash32(id~p) % drop_every_k == 0``,
    then adjacent pair (2i−1, 2i) of the surviving sequence SWAPS iff
    ``hash32(id^i) % swap_every_k == 0`` — pairs are disjoint by
    construction, so there is no sequential dependence and the whole
    transform is two pure array expressions (zero shuffle). Same
    hash-not-RNG contract as span corruption: the augmented corpus is
    reproducible across engines, partitionings, and epochs (vary the
    salt per epoch for fresh augmentations). Output: (id, text,
    n_dropped, n_swapped_pairs)."""
    from drugbankner_spark.operators.dedup import content_hash32

    idc = F.col(id_col).cast("string")
    pre = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_tk")
    )
    tk = F.col("_tk")
    # survivors: positions (1-based) whose drop hash doesn't fire
    keep_pos = F.filter(
        F.sequence(F.lit(1), F.size(tk)),
        lambda p: content_hash32(
            F.concat(idc, F.lit("~"), p.cast("string"))
        ) % drop_every_k != 0,
    )
    kept = pre.select(
        F.col(id_col),
        (F.size(tk) - F.size(keep_pos)).alias("n_dropped"),
        F.transform(keep_pos, lambda p: F.element_at(tk, p))
        .alias("_kt"),
    )
    kt = F.col("_kt")
    n = F.size(kt)
    # pair i covers positions (2i-1, 2i); swap fires per-pair. The
    # pair index is kept INTEGER all the way to the hash — a double
    # would stringify as '1.0' and change the digest.
    def swap_fires(i):
        return (
            content_hash32(
                F.concat(idc, F.lit("^"),
                         i.cast("long").cast("string"))
            ) % swap_every_k == 0
        )

    swapped = F.transform(
        F.sequence(F.lit(1), n),
        lambda j: F.when(
            (j % 2 == 1) & (j < n)
            & swap_fires(F.floor((j + 1) / 2)),
            F.element_at(kt, (j + 1).cast("int")),
        ).when(
            (j % 2 == 0) & swap_fires(F.floor(j / 2)),
            F.element_at(kt, (j - 1).cast("int")),
        ).otherwise(F.element_at(kt, j.cast("int"))),
    )
    n_pairs_swapped = F.size(F.filter(
        F.sequence(F.lit(1), F.floor(n / 2).cast("int")),
        lambda i: swap_fires(i),
    ))
    return kept.select(
        F.col(id_col),
        F.array_join(swapped, " ").alias("text"),
        "n_dropped",
        F.when(n >= 2, n_pairs_swapped).otherwise(F.lit(0))
        .alias("n_swapped_pairs"),
    )
