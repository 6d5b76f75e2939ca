"""Physical-plan property tests (SURVEY.md §4): the plans we designed for
100 TB are the plans Catalyst actually produces. A failure here means a
scale regression even if results stay correct."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from drugbankner_spark.plans import explain as X  # noqa: E402

QUERIES = entrymod.all_queries()  # incl. pre-consolidation forms
SF = "/root/testdata/sf0.001"


def test_q1_filter_pushed_and_columns_pruned(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF)
    pushed = " ".join(X.pushed_filters(df))
    assert "l_shipdate" in pushed, f"shipdate filter not pushed: {pushed}"
    schema = " ".join(X.read_schemas(df))
    # projection pruning: untouched columns must not reach the scan
    assert "l_orderkey" not in schema and "l_partkey" not in schema


def test_q5_star_join_broadcasts_dims(spark):
    df = QUERIES["q5_regional_revenue"](spark, SF)
    assert X.count_broadcast_joins(df) >= 3  # region/nation/supplier (+cust)
    assert not X.has_cartesian(df)
    # lineitem⋈orders is the only join allowed to shuffle the fact side;
    # plus the final aggregation/sort exchanges.
    assert X.count_shuffles(df) <= 4, X.plan_string(df, "simple")


def test_j1_lookup_is_broadcast_no_fact_shuffle(spark):
    df = QUERIES["j1_dim_lookup"](spark, SF)
    assert X.count_broadcast_joins(df) == 2
    assert X.count_shuffles(df) == 0, "dim lookup must not shuffle the fact side"


def test_synonymizer_lookup_broadcasts(spark):
    df = QUERIES["syn_canonical_curie"](spark, SF)
    assert X.count_broadcast_joins(df) >= 1
    assert not X.has_cartesian(df)


def test_cosine_topk_broadcasts_queries(spark):
    df = QUERIES["e2_cosine_topk"](spark, SF)
    assert X.count_broadcast_joins(df) >= 1  # query side broadcast
    assert not X.has_cartesian(df)


def test_minhash_stays_jvm_side(spark):
    df = QUERIES["e1_minhash_near_dup"](spark, SF)
    plan = X.plan_string(df, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
        "minhash must not call into Python"
    )
    assert X.codegen_stage_count(df) >= 2


def test_f7_single_scan(spark):
    # F7 is ONE projection over ONE scan of events (round 1 was a
    # 15-branch union that rescanned the source per database — 15x I/O).
    df = QUERIES["f7_identifier_extract"](spark, SF)
    plan = X.plan_string(df, "simple")
    assert plan.count("Scan parquet") == 1, plan
    assert X.count_shuffles(df) == 0


def test_window_suite_single_exchange(spark):
    # w_window_suite computes running sum, lag/lead AND ranks over one
    # partitioning key — exactly one shuffle (two sort orders, same
    # hash partitioning reused).
    df = QUERIES["w_window_suite"](spark, SF)
    assert X.count_shuffles(df) == 1, X.plan_string(df, "simple")


def test_e6_windows_no_python(spark):
    df = QUERIES["e6_windows"](spark, SF)
    plan = X.plan_string(df, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert not X.has_cartesian(df)


def test_dedup_survivor_is_partial_aggregate(spark):
    # min-by-struct dedup must plan as a hash aggregation (map-side
    # partial + final), i.e. exactly one shuffle of (key, packed row) —
    # not a window sort.
    df = QUERIES["e1_dedup_survivor"](spark, SF)
    plan = X.plan_string(df, "simple")
    assert "HashAggregate" in plan or "SortAggregate" in plan, plan
    assert "Window" not in plan
    assert X.count_shuffles(df) == 1, plan


def test_whole_stage_codegen_everywhere(spark):
    for name in ("q1_pricing_summary", "e3_text_quality", "e6_tumbling",
                 "f7_identifier_extract"):
        df = QUERIES[name](spark, SF)
        assert X.codegen_stage_count(df) >= 1, f"{name} lost codegen"
        plan = X.plan_string(df, "simple")
        assert "BatchEvalPython" not in plan, f"{name} fell back to Python"


def test_asof_join_is_join_free_single_window(spark):
    # as-of is planned as union + ONE keyed window sort — no join
    # operator at all, so no range explosion and no BNLJ risk at scale.
    df = QUERIES["t_asof_join"](spark, SF)
    plan = X.plan_string(df, "simple")
    assert "Join" not in plan, plan
    assert "Window" in plan
    # clicks-dedup agg + the window partitioning (+ at most one AQE
    # coalesce) — the union itself must not add exchanges.
    assert X.count_shuffles(df) <= 3, X.plan_string(df, "simple")


def test_range_join_is_equi_not_nested_loop(spark):
    # the binned rewrite must plan as an equi join on (key, bin) — a raw
    # inequality condition would fall back to BroadcastNestedLoopJoin.
    df = QUERIES["t_range_join"](spark, SF)
    plan = X.plan_string(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert not X.has_cartesian(df)
    assert ("SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan)


def test_dup_clusters_edges_stay_jvm_side(spark):
    # the component loop materializes via localCheckpoint, so assert on
    # the edge/pair stage instead: band join only, no Python eval.
    from drugbankner_spark.operators import dedup as D
    from drugbankner_spark.tables import load_table

    docs = load_table(spark, SF, "documents")
    pairs = D.minhash_band_pairs_rowwise(docs, "text", "doc_id", 16)
    plan = X.plan_string(pairs, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert not X.has_cartesian(pairs)


def test_q8_star_broadcasts_all_dims(spark):
    # 7-table star: part/nation×2/region broadcast; only the fact-side
    # chains (lineitem⋈orders⋈customer, ⋈supplier) may shuffle.
    df = QUERIES["q8_market_share"](spark, SF)
    assert X.count_broadcast_joins(df) >= 4, X.plan_string(df, "simple")
    assert not X.has_cartesian(df)


def test_q11_scalar_subquery_is_broadcast_not_cartesian(spark):
    # The global-total denominator is a 1-row build side: it must plan
    # as a broadcast nested-loop over ONE row, never a real cartesian
    # (CartesianProduct = both sides shuffled to every pairing).
    df = QUERIES["q11_important_parts"](spark, SF)
    plan = X.plan_string(df, "simple")
    assert "CartesianProduct" not in plan, plan


def test_q16_not_in_plans_as_broadcast_anti(spark):
    df = QUERIES["q16_supplier_counts"](spark, SF)
    plan = X.plan_string(df, "simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_q21_is_linear_not_self_joined_quadratic(spark):
    # The EXISTS/NOT-EXISTS formulation would self-join lineitem twice;
    # this plan must instead aggregate per (order,supplier) and per
    # order — lineitem is scanned once, no join of lineitem to itself.
    df = QUERIES["q21_late_sole_supplier"](spark, SF)
    plan = X.plan_string(df, "simple")
    assert plan.count("Scan parquet /root/testdata") <= 4, plan
    assert not X.has_cartesian(df)


def test_tfidf_two_shuffles_and_broadcast_idf(spark):
    df = QUERIES["e3_tfidf"](spark, SF)
    # doc×term agg + term agg; the idf dim comes back via broadcast.
    assert X.count_broadcast_joins(df) >= 1, X.plan_string(df, "simple")
    assert X.count_shuffles(df) <= 3, X.plan_string(df, "simple")


def test_png_roundtrip_is_scanspeed_no_shuffle(spark):
    # e4_png_decode: scan → Arrow-batched codec — zero shuffles, and the
    # scan reads only (doc_id, text); at 100 TB the decode is
    # embarrassingly parallel
    df = QUERIES["e4_png_decode"](spark, SF)
    assert X.count_shuffles(df) == 0
    schema = " ".join(X.read_schemas(df))
    assert "lang" not in schema and "source" not in schema


def test_stratified_sample_prunes_and_stays_jvm(spark):
    # round-5 sort-free core: no Python eval, only the needed columns
    # reach the parquet scan, and the one row_number window consumes the
    # BAND-filtered subtree (hash cuts in its input), never whole
    # strata. More shuffles than the old single-window form (bounds agg,
    # bulk count, band window) — but every one is map-side combinable or
    # over ~0.4% of the data, which is the 100 TB trade that matters.
    df = QUERIES["e5_stratified_sample"](spark, SF)
    plan = X.plan_string(df)
    assert "BatchEvalPython" not in plan
    schema = " ".join(X.read_schemas(df))
    assert "text" not in schema and "source" not in schema
    assert "_lo_cut" in plan and "_hi_cut" in plan  # band-only window
    assert X.count_shuffles(df) <= 6


def test_hashed_tf_two_aggs_no_python(spark):
    # explode → (id, bucket) agg → per-id pack: two shuffles, all JVM
    from drugbankner_spark.operators.textanalysis import hashed_tf_vectors
    from drugbankner_spark.tables import load_table

    df = hashed_tf_vectors(load_table(spark, SF, "documents"))
    plan = X.plan_string(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert X.count_shuffles(df) <= 2


def test_image_near_dup_band_join_not_cartesian(spark):
    # the hamming pairing must plan as a banded equi join (plus the
    # distinct), never a cross product over images
    from drugbankner_spark.operators.multimodal import image_near_dup_pairs

    hashes = spark.createDataFrame(
        [(1, 7, 7), (2, 7, 6), (3, -123456789, 42)],
        "media_id long, ahash long, dhash long",
    )
    df = image_near_dup_pairs(hashes)
    assert not X.has_cartesian(df)
    plan = X.plan_string(df)
    assert "BatchEvalPython" not in plan


def test_crossdoc_dedup_no_cartesian_bounded_shuffles(spark):
    # round-5 late: gram-stats agg + co-partitioned occurrence join +
    # per-doc span agg + rebuild join — bounded shuffle count, never a
    # cartesian, and text reaches the scan only once (the melt subtree
    # is shared-persisted).
    df = QUERIES["e1_crossdoc_dedup"](spark, SF)
    assert not X.has_cartesian(df), X.plan_string(df, "simple")
    assert X.count_shuffles(df) <= 6, X.plan_string(df, "simple")
    schema = " ".join(X.read_schemas(df))
    assert "lang" not in schema and "source" not in schema


def test_bloom_decontaminate_probe_path_is_join_free(spark):
    # round-5 late: the train-side probe is scan → shingle explode →
    # Arrow bitmap probe → per-doc agg. The ONLY joins in the whole
    # plan are the final id-only result join; the benchmark dim never
    # appears as a join side (it was collapsed into the bitmap).
    df = QUERIES["e1_bloom_decontaminate"](spark, SF)
    plan = X.plan_string(df, "simple")
    assert not X.has_cartesian(df), plan
    # one result join (left) — allow broadcast or SMJ depending on AQE
    assert plan.count("Join") <= 2, plan
    # shuffles: shingle distinct, hit agg, (maybe) result join
    assert X.count_shuffles(df) <= 4, plan


def test_bm25_broadcasts_stats_and_takeordered_topk(spark):
    df = QUERIES["e3_bm25_topk"](spark, SF)
    plan = X.plan_string(df, "simple")
    # 1-row N/avgdl build side + idf dim both broadcast; top-k compiles
    # to TakeOrderedAndProject, never a global Sort
    assert X.count_broadcast_joins(df) >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert not X.has_cartesian(df)
    # tf/df aggs + the 1-row stats agg are the only shuffle producers
    assert X.count_shuffles(df) <= 4, plan


def test_ppl_buckets_no_global_sort_or_ntile(spark):
    df = QUERIES["e3_ppl_buckets"](spark, SF)
    plan = X.plan_string(df, "simple")
    # threshold bucketing: the tercile cuts collapse to a broadcast
    # 1-row build side; no Window/ntile and no global Sort of the corpus
    assert "Window" not in plan, plan
    assert "Sort [" not in plan.replace("SortAggregate", ""), plan
    assert X.count_broadcast_joins(df) >= 1, plan


def test_unicode_normalize_single_scan_no_shuffle(spark):
    df = QUERIES["e3_unicode_normalize"](spark, SF)
    plan = X.plan_string(df, "simple")
    assert X.count_shuffles(df) == 0, plan  # pure projection pipeline
    assert "ArrowEvalPython" in plan, plan  # vectorized, not row-at-a-time


def test_datacard_is_one_expand_aggregate(spark):
    df = QUERIES["e5_datacard"](spark, SF)
    plan = X.plan_string(df, "simple")
    assert "Expand" in plan, plan  # ROLLUP grouping sets
    assert not X.has_cartesian(df)
    # grouping-set agg + countDistinct expand: bounded shuffle budget
    assert X.count_shuffles(df) <= 3, plan


def test_eval_scores_single_scan_no_shuffle(spark):
    df = QUERIES["e5_eval_scores"](spark, SF)
    plan = X.plan_string(df, "simple")
    assert X.count_shuffles(df) == 0, plan   # pure projection pipeline
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_needle_inject_no_shuffle(spark):
    df = QUERIES["e5_needle_inject"](spark, SF)
    assert X.count_shuffles(df) == 0
    assert "Python" not in X.plan_string(df, "simple")


def test_chat_render_single_shuffle(spark):
    df = QUERIES["e5_chat_render"](spark, SF)
    plan = X.plan_string(df, "simple")
    # one hash-agg exchange on the conversation key; ordering happens
    # inside array_sort, so no global Sort node
    assert X.count_shuffles(df) <= 1, plan
    assert "Python" not in plan


def test_funnel_no_cartesian_join_chain_on_entity_key(spark):
    # round 6: each funnel step is an equi join on the entity key —
    # never a cartesian/nested-loop — and the chain's shuffles are
    # bounded by steps (3 step aggs + joins + final), not data volume.
    df = QUERIES["e6_funnel"](spark, SF)
    assert not X.has_cartesian(df)
    assert X.count_shuffles(df) <= 8, X.plan_string(df, "simple")


def test_cdc_apply_single_keyed_window(spark):
    # round 6: the merge is one union + one window keyed on user_id —
    # one shuffle for the window plus at most one for the snapshot's
    # own pre-compaction window.
    df = QUERIES["e5_cdc_apply"](spark, SF)
    assert not X.has_cartesian(df)
    assert X.count_shuffles(df) <= 2, X.plan_string(df, "simple")


def test_retrieval_metrics_no_cartesian(spark):
    df = QUERIES["e5_retrieval_metrics"](spark, SF)
    assert not X.has_cartesian(df)


def test_timeseries_family_equi_join_shapes(spark):
    # round 6: the gapfill grid joins on (key, bucket) — equi, never a
    # nested loop; EWMA's contribution explode turns the recursive
    # smoother into equi-join + hash agg; the anomaly scorer is one
    # bounded window over the bucketing agg's own shuffle.
    for name, cap in [("t_resample_gapfill", 4), ("t_ewma", 4),
                      ("t_anomaly", 2)]:
        df = QUERIES[name](spark, SF)
        assert not X.has_cartesian(df), name
        assert X.count_shuffles(df) <= cap, (name, X.plan_string(df, "simple"))


def test_dsir_broadcasts_the_bounded_ratio_dim(spark):
    # round 6: the dim-row log-ratio model must reach the raw counts as
    # a broadcast — the raw corpus shuffles only (id, bucket, n).
    df = QUERIES["e5_dsir_weights"](spark, SF)
    assert not X.has_cartesian(df)
    plan = X.plan_string(df, "simple")
    assert "BroadcastHashJoin" in plan, plan


def test_jw_match_blocked_equi_join_no_cartesian(spark):
    # round 6 late: the JW kernel must run only on co-blocked pairs —
    # an equi join on the prefix block, never a nested loop.
    df = QUERIES["j_jw_match"](spark, SF)
    assert not X.has_cartesian(df)
    plan = X.plan_string(df, "simple")
    assert "ArrowEvalPython" in plan or "BatchEvalPython" in plan, plan


def test_winsorize_broadcasts_the_quantile_dim(spark):
    # round 6 late: the per-group [p05, p95] dim reaches the events as
    # a broadcast. Round 12: percent_rank rides the two-phase rank
    # (method='rank'), whose tie semantics need a rank() window over
    # (partition id, group) — two full-data exchanges (range + the
    # window's hash), the rest are map-side-combined aggs and the
    # bounded offsets dim. The Exchange count is higher than the old
    # single-window form on purpose: the old form put a whole group
    # (or, ungrouped, the whole input) in ONE window task.
    # no numeric Exchange-count bound: the printed count is AQE- and
    # cache-state-dependent (13 mid-suite vs 8 in isolation for the
    # same logical plan — reused subtrees render differently); the
    # contract is carried structurally instead.
    df = QUERIES["e5_winsorize"](spark, SF)
    assert not X.has_cartesian(df)
    plan = X.plan_string(df, "simple")
    assert "BroadcastHashJoin" in plan
    assert "_pid" in plan  # two-phase rank present
    assert "rangepartitioning" in plan  # the ONE intended full-data range exchange


def test_wordpiece_apply_single_scan_arrow_pass(spark):
    # round 6 late: serving is one mapInPandas pass over the scan — no
    # shuffle at all.
    df = QUERIES["e3_wordpiece_apply"](spark, SF)
    assert X.count_shuffles(df) == 0, X.plan_string(df, "simple")


def test_c4_and_pii_run_at_scan_throughput(spark):
    # round 6 late: both rule filters are pure column expressions —
    # zero shuffles, no Python, single scan.
    for name in ["e1_c4_filter", "e1_pii_scrub"]:
        df = QUERIES[name](spark, SF)
        plan = X.plan_string(df, "simple")
        assert X.count_shuffles(df) == 0, (name, plan)
        assert "Python" not in plan, name


def test_gopher_rep_single_gram_shuffle_budget(spark):
    # round 10 (VERDICT r09 next #2): every signal is per-document, so
    # the whole n=2..10 set is per-row array_sort + run-length
    # aggregate — ZERO shuffles, no join, no Python.
    for name in ["e3_gopher_rep", "e3_gopher_rep_hash"]:
        df = QUERIES[name](spark, SF)
        plan = X.plan_string(df, "simple")
        assert not X.has_cartesian(df)
        assert X.count_shuffles(df) == 0, (name, plan)
        assert "Python" not in plan, name


def test_kn_ppl_broadcasts_bounded_model_dims(spark):
    # all three KN model dims ride broadcast joins (the count-agg
    # guard admits them); the corpus shuffles only for the final
    # per-doc agg.
    df = QUERIES["e3_kn_ppl"](spark, SF)
    plan = X.plan_string(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert not X.has_cartesian(df)


def test_er_resolve_blocked_equi_join_no_cartesian(spark):
    # the ER candidate join is an equi join on the block key; JW runs
    # as ONE Arrow pass over co-blocked pairs only.
    from drugbankner_spark.functions.stringsim import er_self_pairs
    from drugbankner_spark.tables import load_table
    from pyspark.sql import functions as F

    part = load_table(spark, SF, "part").filter(F.col("p_partkey") <= 50)
    pairs = er_self_pairs(
        part.select(F.col("p_partkey").alias("rid"),
                    F.col("p_name").alias("rname")),
        "rname", "rid",
    )
    plan = X.plan_string(pairs, "simple")
    assert not X.has_cartesian(pairs), plan
    assert plan.count("ArrowEvalPython") == 1, plan


def test_round6_second_wave_plan_shapes(spark):
    # span corruption: the tokens x spans range join stays within a
    # doc (equi on the id + range residual), never cartesian; OLS is
    # one hash agg (zero joins); the co-occurrence self-join is equi
    # on the entity; q2's dims all broadcast.
    df = QUERIES["e5_span_corrupt"](spark, SF)
    assert not X.has_cartesian(df), X.plan_string(df, "simple")
    ols = QUERIES["e5_group_ols"](spark, SF)
    plan = X.plan_string(ols, "simple")
    assert X.count_shuffles(ols) <= 1 and "Join" not in plan, plan
    co = QUERIES["e6_cooccurrence"](spark, SF)
    assert not X.has_cartesian(co)
    q2 = QUERIES["q2_min_cost_supplier"](spark, SF)
    p2 = X.plan_string(q2, "simple")
    assert not X.has_cartesian(q2)
    assert p2.count("BroadcastHashJoin") >= 3, p2


def test_hard_negatives_broadcasts_queries_and_positives(spark):
    # the corpus never shuffles: query side and positive pairs ride
    # broadcast joins; top-k is a per-query window.
    df = QUERIES["e2_hard_negatives"](spark, SF)
    plan = X.plan_string(df, "simple")
    assert plan.count("BroadcastHashJoin") >= 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "Cross" not in plan


def test_profile_columns_single_value_shuffle(spark):
    # one melt + one (column, value) agg + windows over the same
    # partitioning: bounded exchanges, no Python.
    df = QUERIES["e5_profile"](spark, SF)
    plan = X.plan_string(df, "simple")
    assert X.count_shuffles(df) <= 2, plan
    assert "Python" not in plan


def test_round8_plan_shapes(spark):
    # Round-8 operators stay JVM-side, never cartesian, and keep their
    # dims broadcast: the spotter (gram equi-join vs the alias dim),
    # the banded Hamming pair generator (band-key equi-join), and the
    # SA-removal composition.
    for name in ["e2_hamming_pairs", "e1_sa_dedup", "ep1_spotted_nodes"]:
        df = QUERIES[name](spark, SF)
        assert not X.has_cartesian(df), name
        plan = X.plan_string(df, "simple")
        assert "BatchEvalPython" not in plan and (
            "ArrowEvalPython" not in plan
        ), f"{name} must not call into Python"


def test_kmeans_assign_broadcasts_centroids_no_python(spark):
    # The Lloyd assign step joins the corpus against the k x dim
    # centroid dim — that dim must broadcast (never shuffle the corpus
    # on the join) and the step stays in codegen. The loop's
    # localCheckpoints hide iteration plans from the final query, so
    # the factored _assign_step is asserted directly.
    from drugbankner_spark.operators.clustering import (
        _assign_step,
        _quantized_points,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 2.0]) for i in range(20)],
        ["vec_id", "embedding"],
    )
    pts = _quantized_points(emb, "vec_id", "embedding", 10_000)
    cents = pts.limit(8).selectExpr(
        "0 AS cluster_id", "dim", "v AS c"
    )
    df = _assign_step(pts, cents)
    assert X.count_broadcast_joins(df) >= 1
    assert not X.has_cartesian(df)
    plan = X.plan_string(df, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_spot_mentions_broadcasts_surface_dim(spark):
    from drugbankner_spark.operators.ner import spot_mentions

    sents = spark.createDataFrame(
        [(1, "alpha beta gamma")], ["kg2_id", "sentence"]
    )
    surf = spark.createDataFrame([("beta",)], ["name"])
    df = spot_mentions(sents, "sentence", ["kg2_id"], surf, "name")
    assert X.count_broadcast_joins(df) >= 1
    assert not X.has_cartesian(df)


def test_round9_plan_shapes(spark):
    # Round-9 operators: the plan properties each one's docstring
    # claims, asserted on the physical plan.
    import datetime as dt

    from drugbankner_spark.operators.evals import bleu_corpus
    from drugbankner_spark.operators.similarity import srp_sketch
    from drugbankner_spark.operators.timeseries import (
        cusum_changepoints,
        holt_linear,
    )

    # srp_sketch: pure projection — ZERO shuffles, zero Python, the
    # sign matrix baked in as literals
    emb = spark.createDataFrame(
        [(i, [float(i % 7) - 3.0] * 16) for i in range(10)],
        ["vec_id", "embedding"],
    )
    codes = srp_sketch(emb, n_bits=32, dim=16)
    assert X.count_shuffles(codes) == 0
    plan = X.plan_string(codes, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    # cusum: every Window node is partitioned by the series key —
    # never a global single-partition sort over the data
    ev = spark.createDataFrame(
        [("k", dt.datetime(2024, 1, 1, 0, m), float(m))
         for m in range(8)],
        "key string, ts timestamp, value double",
    )
    cu = cusum_changepoints(ev, ["key"], step_seconds=60)
    for line in X.plan_string(cu, "simple").splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            assert "key#" in line.split("windowspecdefinition")[1]

    # holt: one fold — a single (key) aggregation exchange, no window,
    # no Python
    ho = holt_linear(ev, ["key"], step_seconds=60)
    hplan = X.plan_string(ho, "simple")
    assert "Window" not in hplan
    assert "BatchEvalPython" not in hplan and "ArrowEvalPython" not in hplan

    # bleu: collapses to ONE global aggregate — exactly one
    # single-partition exchange (the 1-row final agg), nothing else
    pairs = spark.createDataFrame(
        [("a b c", "a b c d")] * 5, ["prediction", "reference"]
    )
    bl = bleu_corpus(pairs)
    bplan = X.plan_string(bl, "simple")
    assert bplan.count("Exchange SinglePartition") == 1
    assert "BatchEvalPython" not in bplan


def test_round9_graph_plan_shapes(spark):
    # coreness_hindex / modularity_score: no cartesian anywhere; the
    # h-index rank window partitions by the vertex; modularity's m
    # rides a broadcast 1-row aggregate
    from drugbankner_spark.operators.graph import (
        coreness_hindex,
        modularity_score,
    )

    edges = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)], "src long, dst long"
    )
    core = coreness_hindex(edges, rounds=2)
    assert not X.has_cartesian(core)

    labels = spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "node long, label long"
    )
    mod = modularity_score(edges, labels)
    # the only nominal cross join is the broadcast of the 1-row m
    # aggregate — assert it broadcasts rather than shuffles
    assert X.count_broadcast_joins(mod) >= 1


def test_round12_desked_rankings_plan_shapes(spark):
    # The round-12 de-skew conversions must KEEP their two-phase
    # shapes: a regression back to a bare per-group (or global)
    # window re-creates the unsplittable hot task even though every
    # result stays hash-identical — exactly the failure mode plan
    # tests exist for.
    from pyspark.sql import functions as F

    from drugbankner_spark.operators.clustering import (
        cluster_balanced_sample,
    )
    from drugbankner_spark.operators.relational import (
        percentile_normalize,
    )
    from drugbankner_spark.operators.textanalysis import (
        chi2_feature_selection,
        zipf_slope,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma w{i % 7}", "en" if i % 2 else "de")
         for i in range(40)],
        "doc_id long, text string, lang string",
    )
    # chi-square per-label top-k: sharded (salt column in the plan)
    chi = chi2_feature_selection(docs, label_col="lang", top_k=3,
                                 min_df=1)
    assert "_shard" in X.plan_string(chi, "simple")
    # Zipf full-vocab rank: two-phase (partition-id rank + offsets)
    zipf = zipf_slope(docs, group_col="lang")
    assert "_pid" in X.plan_string(zipf, "simple")
    # ungrouped percent_rank: no single-partition window — the rank
    # rides the two-phase _pid machinery
    vals = spark.createDataFrame(
        [(i, float(i % 11)) for i in range(50)], "id long, v double"
    )
    pn = percentile_normalize(vals, "v", key_cols=None)
    assert "_pid" in X.plan_string(pn, "simple")
    # cluster-balanced draw: sharded top-k per cluster
    assigned = spark.createDataFrame(
        [(f"v{i}", i % 3) for i in range(30)],
        "vec_id string, cluster_id int",
    )
    draw = cluster_balanced_sample(
        None, per_cluster=5, id_col="vec_id", assignments=assigned
    )
    assert "_shard" in X.plan_string(draw, "simple")
    # ANN brute-force top-k: the per-query corpus scan ranks sharded
    from drugbankner_spark.operators.similarity import cosine_topk

    vecs = spark.createDataFrame(
        [(f"e{i}", [float(i), 1.0]) for i in range(20)],
        "vec_id string, embedding array<double>",
    )
    ann = cosine_topk(vecs.limit(3), vecs, k=2)
    assert "_shard" in X.plan_string(ann, "simple")


def test_unpartitioned_window_inventory():
    # Round 13 (VERDICT r12 what's-wrong #4): every unpartitioned
    # window in non-test source must be one of the KNOWN bounded-dim
    # forms — suffixarray's offset dims (rows = partition ids),
    # privacy's histogram-bin cumsum, clustering's k seed winners
    # (after limit(k)), and the entry module's 25-row nation rank.
    # bench.py suppresses the WindowExec warning on the strength of
    # this inventory; a NEW `Window.orderBy(` site therefore needs a
    # boundedness argument here or a partitionBy, never a silent
    # merge.
    # Round 14 (ADVICE r13): detection is AST-based — a call chain
    # whose root resolves to the Window class (direct import, aliased
    # import, or a local alias assignment) containing .orderBy( but no
    # .partitionBy( anywhere in the chain. The r13 cut matched the
    # single-line literal "Window.orderBy(", which an import alias or
    # a wrapped call evaded — and bench.py suppresses WindowExec
    # warnings on the strength of exactly this inventory.
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    sources = [
        *sorted((root / "drugbankner_spark").rglob("*.py")),
        root / "__spark_entry__.py",
        root / "bench.py",
    ]
    hits = []
    for p in sources:
        tree = ast.parse(p.read_text())
        window_names = {"Window"}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                for a in node.names:
                    if a.name == "Window" and a.asname:
                        window_names.add(a.asname)
            elif isinstance(node, ast.Assign):
                if (isinstance(node.value, ast.Name)
                        and node.value.id in window_names):
                    window_names.update(
                        t.id for t in node.targets
                        if isinstance(t, ast.Name)
                    )
        def chain_spine(call):
            """The method-call chain strictly BELOW ``call`` (receiver
            side only — arguments stay out, so an unrelated window
            spec passed AS an argument can't be whitelisted)."""
            cur = call.func.value
            while True:
                if (isinstance(cur, ast.Call)
                        and isinstance(cur.func, ast.Attribute)):
                    yield cur
                    cur = cur.func.value
                elif isinstance(cur, ast.Attribute):
                    cur = cur.value
                else:
                    return

        # ADVICE r14: a valid Window.orderBy(...).partitionBy(...)
        # ordering puts the partitionBy ABOVE the orderBy node, which
        # the below-the-node walk can't see — collect every orderBy
        # that sits on the receiver spine of an enclosing partitionBy
        # so either ordering counts as partitioned.
        enclosed: set = set()
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "partitionBy"):
                for sub in chain_spine(node):
                    if sub.func.attr == "orderBy":
                        enclosed.add(id(sub))
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "orderBy"):
                continue
            has_partition = id(node) in enclosed
            cur = node.func.value
            while True:
                if (isinstance(cur, ast.Call)
                        and isinstance(cur.func, ast.Attribute)):
                    if cur.func.attr == "partitionBy":
                        has_partition = True
                    cur = cur.func.value
                elif isinstance(cur, ast.Attribute):
                    cur = cur.value
                else:
                    break
            if (isinstance(cur, ast.Name) and cur.id in window_names
                    and not has_partition):
                hits.append((p.name, node.lineno))
    allowed = {
        "suffixarray.py": 2,   # offset dims over partition ids
        "privacy.py": 1,       # histogram bins (bounded by n_bins)
        "clustering.py": 1,    # k seed winners after limit(k)
        "__spark_entry__.py": 1,  # 25-row nation dim
    }
    counts: dict = {}
    for name, _ in hits:
        counts[name] = counts.get(name, 0) + 1
    assert counts == allowed, (
        "unpartitioned-window inventory drifted — new site(s) need a "
        f"boundedness review: {hits}"
    )


def test_round13_candidate_rankers_sharded_plan_shapes(spark, tmp_path):
    # Round 13 (VERDICT r12 next #5): the bucket-pruned candidate
    # rankers (LSH/IVF probes and the shared _rerank_topk tail) also
    # route through sharded_topk — a degenerate hot bucket makes one
    # query's candidate set corpus-scale and AQE cannot split a
    # skewed window. The salt column in the plan is the guard.
    from pyspark.sql import functions as F

    from drugbankner_spark.operators.similarity import (
        build_lsh_index,
        lsh_topk,
        lsh_topk_banded,
        probe_lsh_index,
    )

    vecs = spark.createDataFrame(
        [(f"e{i}", [float(i % 5), 1.0, float(i % 3), 2.0]) for i in
         range(24)],
        "vec_id string, embedding array<double>",
    )
    queries = vecs.limit(2)
    lt = lsh_topk(vecs, queries, k=2, num_planes=2, dim=4)
    assert "_shard" in X.plan_string(lt, "simple")
    ltb = lsh_topk_banded(vecs, queries, k=2, planes_per_band=2,
                          bands=2, dim=4)
    assert "_shard" in X.plan_string(ltb, "simple")
    # the persisted-index probe path too
    idx = str(tmp_path / "lshidx")
    build_lsh_index(vecs, idx, num_planes=2, dim=4)
    qi = probe_lsh_index(spark, idx, queries, k=2, num_planes=2, dim=4)
    assert "_shard" in X.plan_string(qi, "simple")


def test_ep_chain_reads_each_layer_input_once(spark):
    # The fan-out law (ARCHITECTURE §7o): a DataFrame consumed by N
    # filter/union branches is planned N times, and the copies multiply
    # down a chain. The benchmark's ep_drugbank chain over the mini XML
    # must plan each layer's input once; no action runs on the
    # assembled frame (only the builders' own eager guard jobs run).
    import re

    from pyspark.sql import functions as F

    from drugbankner_spark import pipelines as P
    from drugbankner_spark.fixtures import mini_synonymizer_frames
    from drugbankner_spark.fixtures_ner import MINI_XML
    from drugbankner_spark.functions.normalize import remove_brackets
    from drugbankner_spark.operators import alignment, drugbank
    from drugbankner_spark.operators import ner as NER
    from drugbankner_spark.operators.synonymizer import Synonymizer
    from drugbankner_spark.sources import xml_source

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    syn = Synonymizer(*mini_synonymizer_frames(spark))
    records = drugbank.extract_drug_records(
        xml_source.normalize_drugs(
            xml_source.read_drugbank_xml(spark, MINI_XML)), syn)
    branches = (
        (records.filter(F.col("indication").isNotNull()
                        & (F.col("indication") != "")),
         remove_brackets(F.col("indication")), NER.DISEASE_CATEGORIES),
        (records, P.mechanistic_text(), NER.MECHANISTIC_CATEGORIES),
    )
    out = []
    for src, text, cats in branches:
        sents = NER.prepare_sentences(src, text, ["kg2_id"])
        det = NER.spot_mentions(sents, "sentence", ["kg2_id"],
                                syn.nodes.select("name"), "name")
        assert "LeftAnti" not in analyzed(det)
        det = NER.link_entities_tfidf(det, syn.nodes.select("id", "name"))
        assert "Union" not in analyzed(det)
        aligned = NER.align_detected(det, syn, ["kg2_id"])
        assert "Union" not in analyzed(aligned)
        out.append(NER.merge_longest_name(aligned, ["kg2_id"], cats))
    assert "Union" not in analyzed(alignment.align_names(records, syn, "kg2_id"))
    indication, mech = out
    ref = P.assemble_reference_json(
        records, indication, P.run_ep2(records, mech, syn))
    plan = analyzed(ref)
    n_xml = len(re.findall(r"Relation \S*\[.*\] xml", plan))
    n_union = len(re.findall(r"\bUnion\b", plan))
    assert 0 < n_xml <= 12, f"{n_xml} XML relations"
    assert n_union <= 3, f"{n_union} Union nodes"


def test_graph_ops_read_their_edges_once(spark):
    # an undirected edge list built as a union of two projections plans
    # the caller's edge subtree twice (ARCHITECTURE §7o); graph.py emits
    # both directions from one scan, so these plans hold no Union. No
    # action runs: only the analyzed plans are read.
    import re

    from drugbankner_spark.caching import cache_scope
    from drugbankner_spark.operators.graph import (
        common_neighbor_scores,
        modularity_score,
        random_walks,
    )

    def n_unions(df):
        plan = df._jdf.queryExecution().analyzed().toString()
        return len(re.findall(r"\bUnion\b", plan))

    edges = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "node long, label long"
    )
    with cache_scope():
        assert n_unions(random_walks(edges)) == 0
        assert n_unions(common_neighbor_scores(edges)) == 0
        assert n_unions(modularity_score(edges, labels)) == 0
