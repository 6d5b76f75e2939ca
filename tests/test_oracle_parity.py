"""Run every queries() entry against its oracle_sql() via DuckDB at
sf0.001 — the same gate the driver applies at sf0.01."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tests.oracle_utils import compare_frames, duck_con  # noqa: E402

QUERIES = entrymod.all_queries()  # driver registry + pre-consolidation forms
ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_con(sf_dir)
    yield c
    c.close()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_vs_oracle(spark, sf_dir, con, name):
    sdf = QUERIES[name](spark, sf_dir).toPandas()
    if name not in ORACLES:
        # rows-only contract (non-SQL-expressible op): must run, stable schema.
        assert sdf is not None
        return
    odf = con.execute(ORACLES[name]).df()
    compare_frames(sdf, odf, name)


def test_every_oracle_has_query():
    assert set(ORACLES) <= set(QUERIES)


def test_driver_window_is_exactly_50():
    # The driver records correctness for only the FIRST 50 registry
    # entries (round-1 lesson: 12 of 62 got no row). Rotation must
    # CONSOLIDATE to make room, never silently exceed the window.
    assert len(QUERIES_DRIVER := entrymod.queries()) == 50, \
        sorted(QUERIES_DRIVER)
    # every builder is registered once across the two tuples, under the
    # name its function carries, and the window leads all_queries()
    assert len(QUERIES) == len(entrymod._WINDOW) + len(entrymod._MORE)
    for name, fn in QUERIES.items():
        assert fn is getattr(entrymod, f"_{name}"), name
    assert list(QUERIES.items())[:50] == list(QUERIES_DRIVER.items())


def test_suite_branch_table():
    # Each tagged-union suite is declared once in _SUITES; its Spark
    # query and its oracle are both rendered from that table.
    for name, branches in entrymod._SUITES.items():
        assert QUERIES[name] is getattr(entrymod, f"_{name}"), name
        tags = [b.tag for b in branches]
        assert len(tags) == len(set(tags)), (name, tags)
        for b in branches:
            member = b.member.__name__[1:]
            assert QUERIES.get(member) is b.member, (name, member)
            assert member in ORACLES, (name, member)
            assert ORACLES[member] in ORACLES[name], (name, member)


#: The CLOSED list of registered queries with no DuckDB oracle twin
#: (VERDICT r14 next #6) — each individually justified in the table
#: in COVERAGE.md §rows-only-exemptions: xxhash64-dependent results,
#: engine-native approx sketches, binary decode kernels, and the raw
#: XML record fetch — shapes DuckDB cannot express. The driver
#: records a weaker rows-only check for these. A NEW oracle-less
#: query cannot slip in silently: it must be added here AND to the
#: COVERAGE.md table with a justification.
ROWS_ONLY_EXEMPT = {
    "e3_gopher_rep_hash",       # xxhash64 prod kernel (hash values)
    "e1_minhash_near_dup_xxh",  # xxhash64 minhash signatures
    "e3_unigram_tokens",        # trained-model tokenization (seed EM)
    "approx_distinct",          # engine-native HLL approx_count_distinct
    "e5_sketch_distinct",       # datasketches HLL binary sketches
    "e3_compression_ratio",     # zlib-ratio signal (no duckdb zlib)
    "e4_image_hashes",          # binary PNG decode + perceptual hash
    "e4_audio_features",        # binary WAV decode + numpy FFT
    "ep1_drug_records",         # XML source ingest (no XML in DuckDB)
}


def test_rows_only_exemptions_are_exactly_the_documented_set():
    # The exemption list is CLOSED: every registered query either has
    # a DuckDB oracle or is one of the 9 documented rows-only cases.
    assert set(QUERIES) - set(ORACLES) == ROWS_ONLY_EXEMPT
    # and none of them pretends to have an oracle elsewhere
    assert not (ROWS_ONLY_EXEMPT & set(ORACLES))


def test_rotation_candidates_stay_oracle_ready():
    # Every pytest-only entry intended for future rotation keeps a
    # DuckDB oracle so the driver can hash-check it the day it rotates
    # back. Round 6 demoted these 24 r05-green singles to free window
    # slots for the 25-entry promotion (the rows-only
    # e3_unigram_tokens also demoted, superseded by the hash-oracled
    # e3_unigram_apply).
    for name in ["e2_pq_adc_topk", "e2_ivfpq_append_topk",
                 "j_fuzzy_name_match", "e5_scd2_user_state",
                 "e5_constraint_report", "e3_hashed_tf",
                 "e3_pack_sequences", "e4_wav_decode",
                 "q17_small_quantity_revenue", "q20_pattern_shippers",
                 "t_asof_join", "t_range_join", "e3_bm25_topk",
                 "e3_ppl_buckets", "e3_unicode_normalize",
                 "e3_url_canonicalize", "e3_wordlm", "e5_datacard",
                 "e4_container_probe", "e4_gif_decode",
                 "e5_stratified_sample", "e2_lsh_append_topk",
                 "e6_sessionize", "q5_regional_revenue"]:
        assert name in QUERIES and name in ORACLES, name
        assert name not in entrymod.queries(), f"{name} rotated back?"


def test_round9_consolidated_singles_stay_oracle_ready():
    # Round-9 rotation: 15 r07-GREEN singles consolidated into
    # e3_lm_suite / e5_sft_suite / g_count_suite / e5_gov_suite to
    # free window slots for the round-8-late pool. Every original
    # keeps a runnable query AND a DuckDB oracle here.
    for name in ["e3_kn_ppl", "e3_skipgram", "e3_char_entropy",
                 "e3_zipf", "e3_wordpiece_apply", "e5_span_corrupt",
                 "e5_augment", "e5_temperature_mix", "e5_dsir_weights",
                 "g_triangle_count", "g_common_neighbors",
                 "e5_k_anonymity", "e5_winsorize", "e5_cdc_apply",
                 "e5_cohort_retention"]:
        assert name in QUERIES and name in ORACLES, name
        assert name not in entrymod.queries(), f"{name} rotated back?"


def test_round7_pool_names_stay_oracle_ready():
    # The round-7 rotation pool: every name must keep a runnable query
    # AND a DuckDB oracle (the rows-only e4_mpeg_decode excepted) so the
    # driver can hash-check it the day it rotates in.
    pool = [
        "e6_funnel", "e5_cohort_retention", "e5_retrieval_metrics",
        "e5_cdc_apply", "e1_near_dup_recall", "e1_simhash_pairs",
        "g_triangle_count", "g_common_neighbors", "e5_temperature_mix",
        "e5_ndcg", "e5_dsir_weights", "t_resample_gapfill", "t_ewma",
        "t_anomaly", "e5_k_anonymity", "e1_boilerplate_strip",
        "e6_transition_matrix", "e6_top_paths", "j_jw_match",
        "e5_winsorize", "e3_wordpiece_apply",
        "e4_mpeg_decode",   # frozen-fixture oracle (round 6 late)
        "e3_kn_ppl",        # interpolated Kneser-Ney perplexity
        "g_bfs_distances",  # k-hop BFS vs recursive-CTE oracle
        "g_label_prop",     # sync LPA vs chained-CTE replay
        "er_resolve",       # composed ER: block -> JW -> CC -> rep
        "e3_gopher_rep",    # Gopher repetition signals, n=2..10
        "e1_c4_filter",     # C4 line rules + page flags
        "e1_pii_scrub",     # sequential regex PII redaction
        "e5_span_corrupt",  # deterministic T5 denoising spans
        "e2_hard_negatives",  # DPR-style hard-negative mining
        "e5_calibration",   # ECE / reliability diagram bins
        "e5_kfold",         # deterministic hash k-fold
        "e5_profile",       # Deequ-style column profile
        "e5_group_ols",     # closed-form per-group OLS trend
        "q2_min_cost_supplier",  # last TPC-H number: argmin supplier
        "e6_cooccurrence",  # market-basket support/confidence/lift
        "g_random_walks",   # deterministic DeepWalk walk corpus
        "e3_skipgram",      # word2vec window-pair counts
        "pipeline_curate_corpus",  # C4 -> PII -> Gopher -> dedup
        "e5_tokenize",      # salted-sha256 pseudonymization
        "e2_mean_pool",     # chunk->doc embedding rollup
        "e6_transition_power",  # k-step Markov forecast
        "e5_prep_suite",    # consolidation: 5 E5 singles in one row
        "g_graph_suite",    # consolidation: BFS + LPA + walks
        "e6_attribution",   # multi-touch attribution credits
        "e5_ner_eval",      # CoNLL span P/R/F1 + micro
        "e1_repair_text",   # extraction-artifact repair chain
        "e5_augment",       # deterministic EDA augmentation
        "e5_iob_tags",      # span -> B/I/O token labels
        "e5_class_report",  # sklearn-style per-class P/R/F1
        "e3_char_entropy",  # char-distribution Shannon entropy
        "e3_zipf",          # per-language Zipf rank-frequency OLS
    ]
    for name in pool:
        assert name in QUERIES and name in ORACLES, name
