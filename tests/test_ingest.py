"""Continuous corpus ingest (operators/corpus.py::ingest_clean_batch +
stream_ingest_corpus): admit arriving batches against persistent state —
exact dups, near-dups (cross-batch AND in-batch), and low-quality docs
rejected, each document's text hashed exactly once, at its own ingest."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from drugbankner_spark.operators.corpus import (
    ingest_clean_batch,
    stream_ingest_corpus,
)

GOOD = ("the quick brown fox jumps over the lazy dog and then the dog "
        "sleeps by the river bank and then runs away to the distant "
        "green hills again while the birds are singing in the trees")
GOOD2 = ("a completely different story begins here where the old ship "
         "sails across the wide ocean and the crew is watching the "
         "stars to find their way home through the long cold night")


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ingest_clean_batch_two_batches(spark, tmp_path):
    state = str(tmp_path / "state")
    b1 = _df(spark, [
        (1, GOOD),                       # admitted
        (2, GOOD),                       # exact in-batch dup → rejected
        (3, GOOD2),                      # admitted
        (4, "tiny doc"),                 # fails quality → rejected
    ])
    a1 = {r["doc_id"] for r in
          ingest_clean_batch(spark, b1, state, min_tokens=10).collect()}
    assert a1 == {1, 3}

    b2 = _df(spark, [
        (5, GOOD),                       # exact CROSS-batch dup → rejected
        (6, GOOD + " extra tail"),       # near-dup of stored 1 → rejected
        (7, GOOD2.replace("ship", "boat")),  # near-dup of stored 3 → rejected
        (8, "the third tale speaks of a quiet village in the mountains "
            "where the people are baking bread and the children play "
            "near the old stone well every single morning of the year"),
        (9, "the third tale speaks of a quiet village in the mountains "
            "where the people are baking bread and the children play "
            "near the old stone well every single morning of the week"),
    ])                                   # 8/9 near-dups: min id 8 wins
    a2 = {r["doc_id"] for r in
          ingest_clean_batch(spark, b2, state, min_tokens=10).collect()}
    assert a2 == {8}

    final = spark.read.parquet(os.path.join(state, "corpus"))
    assert {r["doc_id"] for r in final.select("doc_id").collect()} == {1, 3, 8}
    # re-presenting an admitted doc is a no-op (idempotent replay)
    a3 = ingest_clean_batch(
        spark, _df(spark, [(10, GOOD)]), state, min_tokens=10
    ).count()
    assert a3 == 0


def test_ingest_after_a_batch_that_admits_nothing(spark, tmp_path):
    # A first batch whose every document fails the quality rules
    # bootstraps an empty state; the band table it leaves must stay
    # readable, so later batches are still admitted and deduplicated.
    state = str(tmp_path / "state")
    b1 = _df(spark, [(1, "tiny doc")])
    assert ingest_clean_batch(spark, b1, state, min_tokens=10).count() == 0

    b2 = _df(spark, [(2, GOOD), (3, GOOD2)])
    a2 = {r["doc_id"] for r in
          ingest_clean_batch(spark, b2, state, min_tokens=10).collect()}
    assert a2 == {2, 3}

    b3 = _df(spark, [(4, GOOD + " extra tail")])  # near-dup of stored 2
    assert ingest_clean_batch(spark, b3, state, min_tokens=10).count() == 0
    final = spark.read.parquet(os.path.join(state, "corpus"))
    assert {r["doc_id"] for r in final.select("doc_id").collect()} == {2, 3}


def test_stream_ingest_corpus_micro_batches(spark, tmp_path):
    # two parquet files → two micro-batches (maxFilesPerTrigger=1)
    # through foreachBatch. Micro-batch ORDER is not contractual, so
    # assert order-invariant properties: one admitted doc per duplicate
    # equivalence class, low quality rejected.
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    _df(spark, [(1, GOOD), (2, GOOD2), (3, "tiny doc")]) \
        .repartition(1).write.parquet(src)
    _df(spark, [(11, GOOD + " extra tail"), (12, GOOD2), (13, GOOD2)]) \
        .repartition(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream
        .schema("doc_id long, text string")
        .parquet(src)
    )
    stream_ingest_corpus(stream, state, min_tokens=10)

    final = spark.read.parquet(os.path.join(state, "corpus")).collect()
    ids = {r["doc_id"] for r in final}
    # classes: {1, 11} (near), {2, 12, 13} (exact/near), {3 low-quality}
    assert len(ids) == 2
    assert len(ids & {1, 11}) == 1
    assert len(ids & {2, 12, 13}) == 1
    assert 3 not in ids


def test_pack_sequence_assignments_gapless_and_bucket_invariant(spark):
    from drugbankner_spark.operators.corpus import pack_sequence_assignments
    from drugbankner_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = pack_sequence_assignments(docs, seq_len=512).collect()
    rows = sorted((r["doc_id"], r) for r in out)
    # the packed stream is gapless: each doc starts where the previous
    # ended (start = seq_first*512 + offset_in_first)
    pos = 0
    for _, r in rows:
        assert r["seq_first"] * 512 + r["offset_in_first"] == pos
        assert r["seq_last"] == (pos + r["n_tokens"] - 1) // 512
        pos += r["n_tokens"]
    # bucketing is an implementation detail: different bucket counts
    # give identical assignments
    alt = {(r["doc_id"], r["seq_first"], r["offset_in_first"])
           for r in pack_sequence_assignments(
               docs, seq_len=512, n_buckets=7).collect()}
    assert alt == {(r["doc_id"], r["seq_first"], r["offset_in_first"])
                   for _, r in rows}


def test_ingest_with_learned_quality_gate(spark, tmp_path):
    # round 5: the mlquality model composes into continuous ingest as a
    # second gate after the Gopher rules — gibberish that passes the
    # rule thresholds is still rejected by the classifier.
    from drugbankner_spark.operators.corpus import ingest_clean_batch
    from drugbankner_spark.operators.mlquality import (
        train_quality_classifier,
    )

    clean = ("the quick brown fox jumps over the lazy dog and then "
             "walks home across the quiet field before the evening")
    junk = ("zxq vvk kkq foo bar baz the and onk plw qrt mne uyt rew "
            "dsa zxc bnm poi lkj hgf the of wer tyu iop asd fgh jkl")
    seed = spark.createDataFrame(
        [(clean + f" extra{i}", 1.0) for i in range(6)]
        + [(junk + f" extra{i}", 0.0) for i in range(6)],
        "text string, label double",
    )
    model = train_quality_classifier(seed)
    batch = spark.createDataFrame(
        [(1, clean + " first arrival"),
         (2, junk + " also long enough to pass the rule gate")],
        "doc_id long, text string",
    )
    state = str(tmp_path / "state_mlq")
    admitted = ingest_clean_batch(
        spark, batch, state, quality_model=model, quality_threshold=0.5
    )
    ids = {r["doc_id"] for r in admitted.collect()}
    assert ids == {1}  # junk passed rules but failed the learned gate


def test_stream_cm_sketch_equals_batch_build(spark, tmp_path):
    # Streaming sketch maintenance: two micro-batches, each landing its
    # own epoch partition; the merge-on-read sketch must equal a single
    # batch build over the full corpus, cell for cell.
    from pyspark.sql import functions as F

    from drugbankner_spark.operators.sketches import (
        cm_build, read_cm_sketch, stream_cm_token_stats,
    )

    src = str(tmp_path / "cm_src")
    state = str(tmp_path / "cm_state")
    docs = [(i, f"tok{i % 7} tok{i % 3} shared common words {i}")
            for i in range(40)]
    _df(spark, docs[:20]).repartition(1).write.parquet(src)
    _df(spark, docs[20:]).repartition(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream
        .schema("doc_id long, text string")
        .parquet(src)
    )
    stream_cm_token_stats(stream, state, width=256, depth=3)

    merged = read_cm_sketch(spark, state).toPandas() \
        .sort_values(["row", "pos"]).reset_index(drop=True)
    toks = _df(spark, docs).select(
        F.explode(F.split("text", " ")).alias("tok"))
    single = cm_build(toks, "tok", width=256, depth=3).toPandas() \
        .sort_values(["row", "pos"]).reset_index(drop=True)
    assert merged.equals(single)
    # replay idempotency: re-landing an epoch's sketch rewrites only its
    # own partition — the merged answer is unchanged
    from drugbankner_spark.operators.scale import upsert_partitions
    epoch0 = spark.read.parquet(state).filter(F.col("_epoch") == 0)
    upsert_partitions(epoch0, state, ["_epoch"])
    spark.catalog.refreshByPath(state)
    again = read_cm_sketch(spark, state).toPandas() \
        .sort_values(["row", "pos"]).reset_index(drop=True)
    assert again.equals(single)


def test_compact_cm_state_staged_protocol(spark, tmp_path):
    # Round 13/14: the SUM-family compactor (CM merge is cell-wise
    # sum, NOT idempotent under re-fold like the HLL max) — equality
    # across the compaction boundary, a staging partition left by a
    # "crash" must neither double-count a read nor break the resume,
    # the resumed run must finish the swap AND continue to the
    # caller's higher boundary in the same call (ADVICE r13), and the
    # manifest commit makes reads exact at EVERY protocol point
    # (VERDICT r13 next #5 — no undercount window).
    from pyspark.sql import functions as F

    from drugbankner_spark.operators.sketches import (
        EPOCH_GEN_ANCHOR,
        EPOCH_STAGING,
        _epoch_manifest,
        cm_build,
        compact_cm_state,
        read_cm_sketch,
        stream_cm_token_stats,
    )

    src = str(tmp_path / "ccm_src")
    state = str(tmp_path / "ccm_state")
    docs = [(i, f"tok{i % 7} tok{i % 3} shared common words {i}")
            for i in range(60)]
    for lo in range(0, 60, 20):
        _df(spark, docs[lo:lo + 20]).repartition(1) \
            .write.mode("append").parquet(src)
    stream_cm_token_stats(
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema("doc_id long, text string").parquet(src),
        state, width=256, depth=3,
    )
    epochs = sorted(r["_epoch"] for r in spark.read.parquet(state)
                    .select("_epoch").distinct().collect())
    assert len(epochs) >= 3
    toks = _df(spark, docs).select(
        F.explode(F.split("text", " ")).alias("tok"))
    want = cm_build(toks, "tok", width=256, depth=3).toPandas() \
        .sort_values(["row", "pos"]).reset_index(drop=True)

    def live_epochs():
        spark.catalog.refreshByPath(state)
        return sorted(r["_epoch"] for r in spark.read.parquet(state)
                      .select("_epoch").distinct().collect())

    # fold all but the newest epoch → generation-1 base + manifest
    removed = compact_cm_state(spark, state, epochs[-2])
    assert removed == len(epochs) - 1
    assert _epoch_manifest(spark, state) == (1, epochs[-2])
    assert live_epochs() == [EPOCH_GEN_ANCHOR - 1, epochs[-1]]
    got = read_cm_sketch(spark, state).toPandas() \
        .sort_values(["row", "pos"]).reset_index(drop=True)
    assert got.equals(want)
    # re-firing the cron at the same boundary is a no-op, not base
    # churn (round 14: a fold of base-only must not bump generations)
    assert compact_cm_state(spark, state, epochs[-2]) == 0
    assert _epoch_manifest(spark, state) == (1, epochs[-2])

    # crash simulation with a PRE-R15 staged fold + LEGACY (r13
    # plain-int) marker written by hand — a read in this window must
    # NOT double-count (staging never live), and a re-run under the
    # r15 direct-write protocol DROPS the stale staging and marker
    # and re-folds from the intact inputs at the CALLER's boundary
    # (there is no resume state anymore — an uncommitted crash left
    # nothing live, so redo is the recovery).
    from drugbankner_spark.operators.scale import (
        upsert_partitions,
        write_text_file,
    )

    staged = (
        spark.read.parquet(state)
        .filter(F.col("_epoch") != EPOCH_STAGING)
        .groupBy("row", "pos").agg(F.sum("cnt").alias("cnt"))
        .withColumn("_epoch", F.lit(int(EPOCH_STAGING)))
    )
    upsert_partitions(staged, state, ["_epoch"])
    write_text_file(spark, state + "/_COMPACTING", str(epochs[-1]))
    spark.catalog.refreshByPath(state)
    mid = read_cm_sketch(spark, state).toPandas() \
        .sort_values(["row", "pos"]).reset_index(drop=True)
    assert mid.equals(want)  # staging invisible, no double count
    # the re-run folds fresh at the caller's boundary as generation 2
    compact_cm_state(spark, state, 10**9)
    after = read_cm_sketch(spark, state).toPandas() \
        .sort_values(["row", "pos"]).reset_index(drop=True)
    assert after.equals(want)
    assert _epoch_manifest(spark, state) == (2, 10**9)
    assert live_epochs() == [EPOCH_GEN_ANCHOR - 2]
    # stale marker with nothing staged: cleanup only, reads unchanged
    write_text_file(spark, state + "/_COMPACTING", "0")
    assert compact_cm_state(spark, state, 0) == 0
    import os as _os

    assert not _os.path.exists(state + "/_COMPACTING")
    spark.catalog.refreshByPath(state)
    assert read_cm_sketch(spark, state).toPandas() \
        .sort_values(["row", "pos"]).reset_index(drop=True).equals(want)
    # EMPTY fold (round-13 review finding): a boundary below every
    # epoch must be a clean no-op — no crash, no marker left behind
    assert compact_cm_state(spark, state, -100) == 0
    assert not _os.path.exists(state + "/_COMPACTING")
    spark.catalog.refreshByPath(state)
    assert read_cm_sketch(spark, state).toPandas() \
        .sort_values(["row", "pos"]).reset_index(drop=True).equals(want)


def test_compact_epoch_state_read_safe_swap_and_resume_continue(
    spark, tmp_path
):
    # Round 14 (VERDICT r13 next #5), protocol re-cut round 15
    # (VERDICT r14 next #2 — no directory rename anywhere): (a) reads
    # planned at EVERY hand-simulated crash state — pre-r15 staged
    # fold, marker written, unmanifested generation base (however it
    # got there: a legacy rename or a direct fold write),
    # committed-but-unvacuumed — count every row exactly once;
    # (b) a call over any of those states recovers: committed work is
    # finished (vacuum), uncommitted leftovers are swept and the
    # caller's boundary is folded fresh in the same call.
    import json as _json

    from pyspark.sql import functions as F

    from drugbankner_spark.operators.scale import (
        upsert_partitions,
        write_text_file,
    )
    from drugbankner_spark.operators.sketches import (
        EPOCH_GEN_ANCHOR,
        EPOCH_STAGING,
        _epoch_manifest,
        compact_epoch_state,
        read_cm_sketch,
    )

    state = str(tmp_path / "swap_state")
    # three epochs of simple one-cell partials: epoch e contributes
    # cnt = e+1 at (0, 0)
    for e in range(3):
        spark.createDataFrame([(0, 0, e + 1, e)],
                              "row int, pos int, cnt long, _epoch int") \
            .write.mode("append").partitionBy("_epoch").parquet(state)
    want = [(0, 0, 6)]

    def read_now():
        spark.catalog.refreshByPath(state)
        return [tuple(r) for r in read_cm_sketch(spark, state).collect()]

    fold = lambda old: old.groupBy("row", "pos").agg(  # noqa: E731
        F.sum("cnt").alias("cnt"))

    # --- hand-simulate a compaction of epochs ≤ 1, pausing at every
    # protocol point and reading ---
    live = spark.read.parquet(state).filter(
        (F.col("_epoch") <= 1) & (F.col("_epoch") != EPOCH_STAGING))
    upsert_partitions(
        fold(live).withColumn("_epoch", F.lit(int(EPOCH_STAGING))),
        state, ["_epoch"])
    assert read_now() == want          # staged: not live
    write_text_file(spark, state + "/_COMPACTING",
                    _json.dumps({"up_to": 1, "generation": 1}))
    assert read_now() == want          # marker: nothing changed
    import os as _os

    _os.rename(state + f"/_epoch={EPOCH_STAGING}",
               state + f"/_epoch={EPOCH_GEN_ANCHOR - 1}")
    assert read_now() == want          # base on disk but UNCOMMITTED:
    #                                    not live (no manifest names
    #                                    it), old epochs still are
    write_text_file(spark, state + "/_MANIFEST_G1",
                    _json.dumps({"generation": 1, "folded_up_to": 1}))
    assert read_now() == want          # committed, NOT vacuumed: new
    #                                    base live, folded epochs and
    #                                    leftovers excluded by manifest
    # --- a call over the committed-but-unvacuumed state: marker
    # cleanup + vacuum of the committed generation, then epoch 2
    # folds to generation 2 in the same call
    removed = compact_epoch_state(spark, state, 2, fold)
    assert read_now() == want
    assert not _os.path.exists(state + "/_COMPACTING")
    assert _epoch_manifest(spark, state) == (2, 2)
    spark.catalog.refreshByPath(state)
    assert sorted(
        r["_epoch"] for r in spark.read.parquet(state)
        .select("_epoch").distinct().collect()
    ) == [EPOCH_GEN_ANCHOR - 2]
    assert removed >= 1  # epoch 2 folded in the continuation cycle
    # --- crashed-VACUUM leftovers: a superseded generation base and
    # its stale manifest reappear (the deletes that raced a crash) —
    # reads stay exact (liveness is by MAX manifest generation, not
    # by deletion), and the next compaction's vacuum sweeps them
    spark.createDataFrame(
        [(0, 0, 999, EPOCH_GEN_ANCHOR - 1)],
        "row int, pos int, cnt long, _epoch int",
    ).write.mode("append").partitionBy("_epoch").parquet(state)
    write_text_file(spark, state + "/_MANIFEST_G1",
                    _json.dumps({"generation": 1, "folded_up_to": 1}))
    # plus an orphaned .tmp from a crashed commit
    write_text_file(spark, state + "/_MANIFEST_G3.tmp", "{torn")
    assert read_now() == want
    spark.createDataFrame(
        [(0, 0, 4, 3)], "row int, pos int, cnt long, _epoch int"
    ).write.mode("append").partitionBy("_epoch").parquet(state)
    want2 = [(0, 0, 10)]
    assert compact_epoch_state(spark, state, 3, fold) == 1
    assert read_now() == want2
    assert _epoch_manifest(spark, state) == (3, 3)
    left = {
        st.name for st in _os.scandir(state)
        if st.name.startswith(("_epoch=", "_MANIFEST"))
    }
    assert left == {f"_epoch={EPOCH_GEN_ANCHOR - 3}", "_MANIFEST_G3"}


def test_compact_epoch_state_orphan_staging_never_commits(
    spark, tmp_path
):
    # Round-14 review finding (critical): a staging partition left by
    # a PRE-MARKER crash holds a fold of a DIFFERENT boundary; a later
    # call whose own fold is empty (e.g. a cron boundary below every
    # epoch) used to see fs.exists(staging) and swap the stale fold in
    # — permanently double-counting. The orphan must be dropped, never
    # committed.
    from pyspark.sql import functions as F

    from drugbankner_spark.operators.scale import upsert_partitions
    from drugbankner_spark.operators.sketches import (
        EPOCH_STAGING,
        _epoch_manifest,
        compact_epoch_state,
        read_cm_sketch,
    )

    state = str(tmp_path / "orphan_state")
    for e in range(3):
        spark.createDataFrame([(0, 0, e + 1, e)],
                              "row int, pos int, cnt long, _epoch int") \
            .write.mode("append").partitionBy("_epoch").parquet(state)
    want = [(0, 0, 6)]
    fold = lambda old: old.groupBy("row", "pos").agg(  # noqa: E731
        F.sum("cnt").alias("cnt"))
    # pre-marker crash: the fold landed in staging, no marker written
    live = spark.read.parquet(state).filter(
        F.col("_epoch") != EPOCH_STAGING)
    upsert_partitions(
        fold(live).withColumn("_epoch", F.lit(int(EPOCH_STAGING))),
        state, ["_epoch"])
    spark.catalog.refreshByPath(state)
    # a below-every-epoch boundary must be a clean NO-OP: the stale
    # staging is dropped, nothing is committed, reads stay exact
    assert compact_epoch_state(spark, state, -100, fold) == 0
    import os as _os

    assert not _os.path.exists(state + "/_COMPACTING")
    assert _epoch_manifest(spark, state) is None
    spark.catalog.refreshByPath(state)
    assert [tuple(r) for r in read_cm_sketch(spark, state).collect()] \
        == want
    # and a real boundary afterwards compacts the INTACT inputs
    assert compact_epoch_state(spark, state, 2, fold) == 3
    spark.catalog.refreshByPath(state)
    assert [tuple(r) for r in read_cm_sketch(spark, state).collect()] \
        == want


def test_compact_epoch_state_torn_write_object_store(spark, tmp_path):
    # Round 15 (VERDICT r14 next #2): the r14 protocol's staging →
    # base DIRECTORY rename was atomic only on local/HDFS; on an
    # object store a mid-"rename" crash leaves rows in BOTH places.
    # The r15 protocol has no directory rename — the fold writes
    # directly into the (dead until manifested) generation base — so
    # the worst any store can produce is a TORN, UNMANIFESTED base,
    # possibly alongside pre-r15 staging leftovers. Simulate exactly
    # that: rows present in the next generation's base AND in
    # staging, no manifest naming either. Reads must count every
    # live row exactly once (no double count, no undercount), and
    # the next compaction must sweep the torn state and fold fresh —
    # never commit or merge the garbage.
    from pyspark.sql import functions as F

    from drugbankner_spark.operators.sketches import (
        EPOCH_GEN_ANCHOR,
        EPOCH_STAGING,
        _epoch_manifest,
        compact_epoch_state,
        read_cm_sketch,
    )

    state = str(tmp_path / "torn_state")
    for e in range(3):
        spark.createDataFrame([(0, 0, e + 1, e)],
                              "row int, pos int, cnt long, _epoch int") \
            .write.mode("append").partitionBy("_epoch").parquet(state)
    want = [(0, 0, 6)]
    fold = lambda old: old.groupBy("row", "pos").agg(  # noqa: E731
        F.sum("cnt").alias("cnt"))
    # generation 1 over epochs ≤ 1 — the healthy starting point
    assert compact_epoch_state(spark, state, 1, fold) == 2
    assert _epoch_manifest(spark, state) == (1, 1)

    def read_now():
        spark.catalog.refreshByPath(state)
        return [tuple(r) for r in read_cm_sketch(spark, state).collect()]

    assert read_now() == want
    # torn crash toward generation 2: half the fold's rows landed in
    # the new base, half are still in a pre-r15 staging dir — the
    # copy-per-object mid-state a real S3 "rename" can tear into
    spark.createDataFrame(
        [(0, 0, 999, EPOCH_GEN_ANCHOR - 2)],
        "row int, pos int, cnt long, _epoch int",
    ).write.mode("append").partitionBy("_epoch").parquet(state)
    spark.createDataFrame(
        [(0, 0, 777, EPOCH_STAGING)],
        "row int, pos int, cnt long, _epoch int",
    ).write.mode("append").partitionBy("_epoch").parquet(state)
    # exactly-once through the torn state: neither partial is live
    assert read_now() == want
    # recovery: sweep both partials, fold fresh from intact inputs
    assert compact_epoch_state(spark, state, 2, fold) == 1
    assert read_now() == want
    assert _epoch_manifest(spark, state) == (2, 2)
    import os as _os

    left = {
        st.name for st in _os.scandir(state)
        if st.name.startswith(("_epoch=", "_MANIFEST", "_COMPACTING"))
    }
    assert left == {f"_epoch={EPOCH_GEN_ANCHOR - 2}", "_MANIFEST_G2"}


def test_compact_corpus_stats_state(spark, tmp_path):
    # Round 13: the data-card partials compact the same way — counts
    # sum, min/max fold, KLL/HLL sketches union; the merged read after
    # compaction equals the uncompacted one exactly (same sketches,
    # same estimates), across a fold boundary and a full fold.
    from pyspark.sql import functions as F  # noqa: F401

    from drugbankner_spark.operators.sketches import (
        EPOCH_GEN_ANCHOR,
        _epoch_manifest,
        compact_corpus_stats_state,
        read_corpus_stats,
        stream_corpus_stats,
    )

    src = str(tmp_path / "ccs_src")
    state = str(tmp_path / "ccs_state")
    rows = [(i, f"w{i % 11} text body {'x ' * (i % 9)}",
             f"s{i % 2}", "en") for i in range(60)]
    schema = "doc_id long, text string, source string, lang string"
    for lo in range(0, 60, 20):
        spark.createDataFrame(rows[lo:lo + 20], schema) \
            .repartition(1).write.mode("append").parquet(src)
    stream_corpus_stats(
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema(schema).parquet(src), state,
    )
    epochs = sorted(r["_epoch"] for r in spark.read.parquet(state)
                    .select("_epoch").distinct().collect())
    assert len(epochs) >= 3
    want = sorted(map(tuple, read_corpus_stats(spark, state).collect()))

    compact_corpus_stats_state(spark, state, epochs[-2])
    spark.catalog.refreshByPath(state)
    got = sorted(map(tuple, read_corpus_stats(spark, state).collect()))
    assert got == want
    compact_corpus_stats_state(spark, state, epochs[-1])
    spark.catalog.refreshByPath(state)
    assert sorted(map(tuple,
                      read_corpus_stats(spark, state).collect())) == want
    gen, folded = _epoch_manifest(spark, state)
    assert folded == epochs[-1]
    assert [r["_epoch"] for r in spark.read.parquet(state)
            .select("_epoch").distinct().collect()] \
        == [EPOCH_GEN_ANCHOR - gen]


def test_stream_corpus_stats_equals_batch(spark, tmp_path):
    # Streaming data-card maintenance: two micro-batches land epoch
    # partitions of mergeable partials; merge-on-read counts/sums/minmax
    # must EQUAL the batch datacard's, and the sketch columns
    # (approx p50, approx distinct) must be near their exact twins.
    from pyspark.sql import functions as F

    from drugbankner_spark.operators.corpus import corpus_datacard
    from drugbankner_spark.operators.sketches import (
        read_corpus_stats, stream_corpus_stats,
    )

    src = str(tmp_path / "ds_src")
    state = str(tmp_path / "ds_state")
    rows = [
        (i, " ".join(f"w{i}_{j}" for j in range(5 + i % 9)),
         "en" if i % 2 else "de", f"src{i % 3}", 0)
        for i in range(60)
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(rows[:30], schema).repartition(1).write.parquet(src)
    spark.createDataFrame(rows[30:], schema).repartition(1) \
        .write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    stream_corpus_stats(stream, state)

    merged = {
        (r["source"], r["lang"]): r
        for r in read_corpus_stats(spark, state).collect()
    }
    batch = {
        (r["source"], r["lang"]): r
        for r in corpus_datacard(
            spark.createDataFrame(rows, schema)
        ).collect()
        if r["source"] is not None and r["lang"] is not None
    }
    assert set(merged) == set(batch)
    for key, b in batch.items():
        m = merged[key]
        assert m["n_docs"] == b["n_docs"], key
        assert m["total_tokens"] == b["total_tokens"], key
        assert m["min_tokens"] == b["min_tokens"], key
        assert m["max_tokens"] == b["max_tokens"], key
        # all texts are distinct here: the HLL estimate must be close
        assert abs(m["n_distinct_texts_approx"] - b["n_distinct_texts"]) \
            <= max(1, 0.05 * b["n_distinct_texts"]), key
        # KLL p50 lands within the token-length range near the median
        assert b["min_tokens"] <= m["p50_tokens_approx"] <= b["max_tokens"]


def test_stream_hll_partials_equals_batch_build(spark, tmp_path):
    # Round 12 (VERDICT r11 next #5): the exact-oracle HLL's streaming
    # face — two micro-batches land epoch register partials; the
    # merge-on-read estimate must equal hll_exact_distinct over the
    # full corpus bit for bit (registers are deterministic, so this is
    # equality, not tolerance).
    from pyspark.sql import functions as F

    from drugbankner_spark.operators.sketches import (
        hll_exact_distinct, read_hll_distinct, stream_hll_partials,
    )

    src = str(tmp_path / "hll_src")
    state = str(tmp_path / "hll_state")
    rows = [(i, f"g{i % 3}", f"user-{i % 41}") for i in range(120)]
    schema = "doc_id long, grp string, uid string"
    spark.createDataFrame(rows[:60], schema) \
        .repartition(1).write.parquet(src)
    spark.createDataFrame(rows[60:], schema) \
        .repartition(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    stream_hll_partials(stream, state, ["grp"], "uid")

    merged = sorted(map(tuple, read_hll_distinct(
        spark, state, ["grp"]).collect()))
    single = sorted(map(tuple, hll_exact_distinct(
        spark.createDataFrame(rows, schema), ["grp"], "uid").collect()))
    assert merged == single
    # replay idempotency: re-landing epoch 0 changes nothing
    from drugbankner_spark.operators.scale import upsert_partitions
    epoch0 = spark.read.parquet(state).filter(F.col("_epoch") == 0)
    upsert_partitions(epoch0, state, ["_epoch"])
    spark.catalog.refreshByPath(state)
    again = sorted(map(tuple, read_hll_distinct(
        spark, state, ["grp"]).collect()))
    assert again == single
    # width contract: reading with a different b_bits raises instead
    # of silently estimating off mis-shaped registers
    import pytest

    with pytest.raises(Exception) as exc:
        read_hll_distinct(spark, state, ["grp"], b_bits=10).collect()
    assert "b_bits" in str(exc.value)


def test_compact_hll_state_preserves_estimate_and_bounds_reads(
    spark, tmp_path
):
    # Round 13 (VERDICT r12 next #2): the stream face accretes one
    # _epoch partition per micro-batch forever; compaction folds old
    # epochs into the _epoch=-1 base and the merged estimate must not
    # move — across the compaction boundary, after a post-compaction
    # ingest, and under a re-run (idempotence). Read cost: register
    # rows after compaction <= groups x 2^b_bits + the un-folded
    # epochs' rows.
    import pytest
    from pyspark.sql import functions as F

    from drugbankner_spark.operators.sketches import (
        HLL_B_BITS,
        compact_hll_state,
        hll_exact_distinct,
        read_hll_distinct,
        stream_hll_partials,
    )

    src = str(tmp_path / "chs_src")
    state = str(tmp_path / "chs_state")
    rows = [(i, f"g{i % 3}", f"user-{i % 53}") for i in range(240)]
    schema = "doc_id long, grp string, uid string"
    # four micro-batches -> epochs 0..3
    for lo in range(0, 240, 60):
        spark.createDataFrame(rows[lo:lo + 60], schema) \
            .repartition(1).write.mode("append").parquet(src)
    stream_hll_partials(
        spark.readStream.option("maxFilesPerTrigger", 1)
        .schema(schema).parquet(src), state, ["grp"], "uid",
    )
    epochs = sorted(
        r["_epoch"] for r in spark.read.parquet(state)
        .select("_epoch").distinct().collect()
    )
    assert len(epochs) >= 3, epochs  # need a real boundary to fold

    want = sorted(map(tuple, hll_exact_distinct(
        spark.createDataFrame(rows, schema), ["grp"], "uid").collect()))

    # fold everything but the newest epoch
    removed = compact_hll_state(spark, state, epochs[-2], ["grp"])
    assert removed == len(epochs) - 1
    spark.catalog.refreshByPath(state)
    left = sorted(
        r["_epoch"] for r in spark.read.parquet(state)
        .select("_epoch").distinct().collect()
    )
    assert left == [-1, epochs[-1]]
    got = sorted(map(tuple, read_hll_distinct(
        spark, state, ["grp"]).collect()))
    assert got == want
    # read-cost bound: base <= groups x 2^b_bits, plus the one
    # un-folded epoch's (bounded) rows
    n_regs = spark.read.parquet(state).count()
    n_groups = 3
    assert n_regs <= 2 * n_groups * (1 << HLL_B_BITS)
    # idempotent re-run: nothing left to remove, estimate unchanged
    assert compact_hll_state(spark, state, epochs[-2], ["grp"]) == 0
    spark.catalog.refreshByPath(state)
    assert sorted(map(tuple, read_hll_distinct(
        spark, state, ["grp"]).collect())) == want
    # fold the rest too — single base partition, still exact
    compact_hll_state(spark, state, epochs[-1], ["grp"])
    spark.catalog.refreshByPath(state)
    assert sorted(map(tuple, read_hll_distinct(
        spark, state, ["grp"]).collect())) == want
    assert [r["_epoch"] for r in spark.read.parquet(state)
            .select("_epoch").distinct().collect()] == [-1]
    # width contract: compacting with a different b_bits raises
    with pytest.raises(Exception) as exc:
        compact_hll_state(spark, state, 99, ["grp"], b_bits=10)
    assert "b_bits" in str(exc.value)
