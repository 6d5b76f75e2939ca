"""In-engine TF-IDF char-3gram entity linker goldens (round 7, X1 gap
closure — VERDICT r06 next #5).

Hand-computed sklearn-convention TF-IDF numbers on a tiny alias set,
char_wb gram semantics, the contract-preserving detected-frame wiring,
and the EP1 composition where linking is relational instead of
lexicon-smuggled. The cross-engine hash oracles live in
__spark_entry__ (x1_tfidf_linker / ep1_tfidf_mechanistic_nodes).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from drugbankner_spark.operators.linker import (
    char_wb_gram_counts,
    link_by_tfidf,
)


def test_char_wb_gram_semantics(spark):
    # sklearn char_wb: lowercase, per-token space padding, grams never
    # cross word boundaries; a 1-char token yields its padded self.
    df = spark.createDataFrame([("Ab cd", 1), ("x", 2)], ["t", "i"])
    got = {
        (r["_id"], r["gram"]): r["tf"]
        for r in char_wb_gram_counts(df, "t", "i").collect()
    }
    assert got == {
        (1, " ab"): 1, (1, "ab "): 1,         # token 'ab' padded ' ab '
        (1, " cd"): 1, (1, "cd "): 1,
        (2, " x "): 1,                         # 1-char token
    }


def test_tfidf_numbers_match_hand_computation(spark):
    # Two aliases 'ab' and 'ac': each vectorizes over its two padded
    # 3-grams, which do NOT overlap — the exact-match mention scores
    # 1.0 and the other concept emits nothing.
    aliases = spark.createDataFrame(
        [("C1", "ab"), ("C2", "ac")], ["id", "name"]
    )
    mentions = spark.createDataFrame([("ab",)], ["m"])
    rows = {
        (r["mention"], r["alias_id"]): r
        for r in link_by_tfidf(
            mentions, "m", aliases, "name", "id", threshold=0.0, k=5
        ).collect()
    }
    # alias 'ab' vector over grams (' ab', 'ab '): both tf=1; the
    # identical mention scores cosine 1.0 exactly
    assert rows[("ab", "C1")]["score"] == 1.0
    assert rows[("ab", "C1")]["rank"] == 1
    # char_wb 3-grams of ' ab ' are {' ab', 'ab '} and of ' ac ' are
    # {' ac', 'ac '}: NO shared gram -> 'ac' scores 0 and is absent
    # (2-char tokens never share char_wb 3-grams unless equal)
    assert ("ab", "C2") not in rows


def test_tfidf_shared_gram_cosine(spark):
    # 3-token aliases DO share grams: 'the cat' vs 'the dog' share the
    # grams of token 'the' — hand-check the cosine.
    aliases = spark.createDataFrame(
        [("C1", "the cat"), ("C2", "the dog")], ["id", "name"]
    )
    mentions = spark.createDataFrame([("the cat",)], ["m"])
    rows = {
        r["alias_id"]: r["score"]
        for r in link_by_tfidf(
            mentions, "m", aliases, "name", "id", threshold=0.0, k=5
        ).collect()
    }
    assert rows["C1"] == 1.0
    # shared grams: ' th','the','he ' (idf=1 each, df=2, N=2);
    # distinct grams: 3 each with idf=ln(3/2)+1
    r = math.log(3.0 / 2.0) + 1.0
    norm_sq = 3 * 1.0 + 3 * r * r
    expected = round(3.0 / norm_sq, 6)
    assert rows["C2"] == expected


def test_threshold_and_k_and_tie_order(spark):
    # Equal-scoring concepts rank by alias_id ascending; k truncates;
    # threshold drops the weak candidate entirely.
    aliases = spark.createDataFrame(
        [("C2", "aspirin"), ("C1", "aspirin"), ("C9", "asp")],
        ["id", "name"],
    )
    mentions = spark.createDataFrame([("aspirin",)], ["m"])
    got = [
        (r["alias_id"], r["score"], r["rank"])
        for r in link_by_tfidf(
            mentions, "m", aliases, "name", "id", threshold=0.7, k=2
        ).orderBy("rank").collect()
    ]
    assert [g[0] for g in got] == ["C1", "C2"]      # tie -> id asc
    assert all(g[1] == 1.0 for g in got)
    assert [g[2] for g in got] == [1, 2]


def test_fuzzy_links_a_lexicon_cannot_make(spark):
    # The point of the linker: typos and spacing variants resolve with
    # NO enumeration of surface forms.
    aliases = spark.createDataFrame(
        [("MONDO:500", "Headache"), ("UMLS:600", "head ache"),
         ("CHEBI:100", "Aspirin")],
        ["id", "name"],
    )
    mentions = spark.createDataFrame(
        [("asprin",), ("head  ache",), ("completely unrelated",)], ["m"]
    )
    rows = {
        r["mention"]: r["alias_id"]
        for r in link_by_tfidf(
            mentions, "m", aliases, "name", "id", threshold=0.6, k=1
        ).collect()
    }
    assert rows["asprin"] == "CHEBI:100"
    assert rows["head  ache"] == "UMLS:600"
    assert "completely unrelated" not in rows


def test_link_entities_tfidf_preserves_detected_contract(spark):
    # Rows with kb ids pass through; unlinked mentions gain kb ids only
    # from the arithmetic; no-candidate mentions keep NULL (the J7
    # name-fallback path); entity-less sentinel rows pass through.
    from drugbankner_spark.operators.ner import link_entities_tfidf

    detected = spark.createDataFrame(
        [("D1", "s1", "aspirn", None),          # typo -> linkable
         ("D1", "s1", "gibberishzz", None),     # no candidate
         ("D1", "s2", "fever", "UMLS:999"),     # already linked
         ("D1", "s3", None, None)],             # no-entity sentinel
        ["kg2_id", "sentence", "entity_text", "kb_id"],
    )
    aliases = spark.createDataFrame(
        [("CHEBI:100", "Aspirin")], ["id", "name"]
    )
    got = {
        (r["entity_text"], r["kb_id"])
        for r in link_entities_tfidf(
            detected, aliases, threshold=0.6, k=1
        ).collect()
    }
    assert got == {
        ("aspirn", "CHEBI:100"),
        ("gibberishzz", None),
        ("fever", "UMLS:999"),
        (None, None),
    }


def test_link_entities_tfidf_top_k_never_multiplies_linked_rows(spark):
    # With k=2 an unlinked mention gains one row per candidate, while a
    # row that already carries a kb_id (same mention text) stays one row
    # and keeps its kb_id.
    from drugbankner_spark.operators.ner import link_entities_tfidf

    detected = spark.createDataFrame(
        [("D1", "s1", "aspirin", "UMLS:999"),
         ("D1", "s2", "aspirin", None),
         ("D1", "s3", None, None)],
        "kg2_id string, sentence string, entity_text string, kb_id string",
    )
    aliases = spark.createDataFrame(
        [("C1", "aspirin"), ("C2", "aspirin")], ["id", "name"]
    )
    got = sorted(
        (r["sentence"], r["kb_id"] or "")
        for r in link_entities_tfidf(
            detected, aliases, threshold=0.7, k=2
        ).collect()
    )
    assert got == [("s1", "UMLS:999"), ("s2", "C1"), ("s2", "C2"),
                   ("s3", "")]


def test_ep1_tfidf_links_without_lexicon_kb_ids(spark):
    # EP1 end-to-end with spotting-only stubs: every kb link in the
    # output came from TF-IDF arithmetic, and the longest-surface merge
    # still upgrades ('treats headache' beats 'headache' for the
    # MONDO:500 slot).
    import __spark_entry__ as E

    rows = {
        (r["kg2_id"], r["curie"]): r
        for r in E.all_queries()["ep1_tfidf_mechanistic_nodes"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    node = rows[("CHEBI:100", "MONDO:500")]
    assert node["name"] == "treats headache"
    assert node["category"] == "biolink:Disease"


def test_linker_plan_has_no_cartesian(spark):
    # The mention x alias product must be the gram equi-join, never a
    # cartesian; the only cross join is the 1-row N-broadcast.
    import __spark_entry__ as E

    df = E.all_queries()["x1_tfidf_linker"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_max_df_prunes_stop_grams_but_keeps_exact_match(spark):
    # A gram in every alias (here the grams of the shared token 'the')
    # is a posting-join hot key and carries minimum idf; max_df prunes
    # it, norms re-computed in the pruned space keep exact matches at
    # cosine 1.0.
    aliases = spark.createDataFrame(
        [("C1", "the cat"), ("C2", "the dog"), ("C3", "the owl")],
        ["id", "name"],
    )
    mentions = spark.createDataFrame([("the cat",)], ["m"])
    rows = {
        r["alias_id"]: r["score"]
        for r in link_by_tfidf(
            mentions, "m", aliases, "name", "id",
            threshold=0.0, k=5, max_df_ratio=0.9,
        ).collect()
    }
    assert rows["C1"] == 1.0          # exact match survives pruning
    # the shared-token grams are GONE: no cross-candidate similarity
    assert "C2" not in rows and "C3" not in rows
    # without pruning, the shared grams leak similarity
    rows_full = {
        r["alias_id"]: r["score"]
        for r in link_by_tfidf(
            mentions, "m", aliases, "name", "id", threshold=0.0, k=5
        ).collect()
    }
    assert rows_full["C2"] > 0.0


def test_alias_index_probe_equals_inline_fit(spark, tmp_path):
    # Round 9: the persisted-index serving path must return EXACTLY the
    # inline linker's rows — same fit parameters, same scores, same
    # ranks — across thresholds and k (the shared _link_tail contract).
    from drugbankner_spark.operators.linker import (
        link_by_tfidf,
        link_with_alias_index,
        save_alias_index,
    )

    aliases = spark.createDataFrame(
        [("aspirin", 1), ("acetylsalicylic acid", 2), ("ecotrin", 3),
         ("headache", 4), ("tension headache", 5), ("fever", 6)],
        ["alias", "alias_id"],
    )
    mentions = spark.createDataFrame(
        [("aspirin",), ("asprin",), ("tension headaches",),
         ("high fever",), ("zzz",)],
        ["mention"],
    )
    path = str(tmp_path / "alias_idx")
    save_alias_index(aliases, "alias", "alias_id", path)
    for thr, k in [(0.3, 1), (0.1, 3)]:
        inline = sorted(
            tuple(r) for r in link_by_tfidf(
                mentions, "mention", aliases, "alias", "alias_id",
                threshold=thr, k=k,
            ).collect()
        )
        probe = sorted(
            tuple(r) for r in link_with_alias_index(
                spark, path, mentions, "mention", threshold=thr, k=k,
            ).collect()
        )
        assert probe == inline and probe


def test_alias_index_probe_prunes_partitions(spark, tmp_path):
    # the probe's postings scan must carry a gram_bucket partition
    # filter — the layout exists so small mention batches read a
    # handful of the 64 partitions, not the whole ontology index
    from drugbankner_spark.operators.linker import (
        link_with_alias_index,
        save_alias_index,
    )

    aliases = spark.createDataFrame(
        [(f"alias number {i}", i) for i in range(50)],
        ["alias", "alias_id"],
    )
    path = str(tmp_path / "alias_idx")
    save_alias_index(aliases, "alias", "alias_id", path)
    mentions = spark.createDataFrame([("alias number 7",)], ["mention"])
    out = link_with_alias_index(
        spark, path, mentions, "mention", threshold=0.3, k=1
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "gram_bucket" in plan
    assert out.count() >= 1


def test_alias_index_probe_validates_fit_params(spark, tmp_path):
    # ADVICE r09: an index whose stored gram size or bucket count differs
    # from the linker's constants would hash grams into other buckets and
    # silently prune every posting — the stored /meta must make that a
    # loud error; an index without meta must fail loudly, naming its path.
    import shutil

    import pytest

    from drugbankner_spark.operators import linker as L

    aliases = spark.createDataFrame(
        [("aspirin", 1), ("ecotrin", 3)], ["alias", "alias_id"]
    )
    mentions = spark.createDataFrame([("aspirin",)], ["mention"])
    path = str(tmp_path / "alias_idx")
    L.save_alias_index(aliases, "alias", "alias_id", path)
    meta = spark.read.parquet(path + "/meta").collect()[0]
    assert (meta["n"], meta["n_buckets"]) == (
        L.GRAM_N, L.ALIAS_INDEX_BUCKETS
    )
    out = L.link_with_alias_index(
        spark, path, mentions, "mention", threshold=0.3, k=1
    ).collect()
    assert [r["alias_id"] for r in out] == [1]
    # the same index under a hand-written meta: a 4-gram fit, then a
    # 16-bucket one
    for tag, n, n_buckets in (("n4", 4, L.ALIAS_INDEX_BUCKETS),
                              ("b16", L.GRAM_N, 16)):
        bad = str(tmp_path / f"bad_{tag}")
        shutil.copytree(path, bad)
        spark.range(1).select(
            F.lit(n).cast("int").alias("n"),
            F.lit(n_buckets).cast("int").alias("n_buckets"),
            F.lit(None).cast("double").alias("max_df_ratio"),
            F.lit(2).cast("int").alias("n_aliases"),
            F.lit(0.2).cast("double").alias("champion_w_cut"),
        ).write.mode("overwrite").parquet(bad + "/meta")
        with pytest.raises(ValueError, match=rf"\({n}, {n_buckets}\)"):
            L.link_with_alias_index(spark, bad, mentions, "mention")
    # a directory without the /meta fit metadata is rejected by path
    bare = str(tmp_path / "no_meta_idx")
    shutil.copytree(path, bare)
    shutil.rmtree(bare + "/meta")
    with pytest.raises(ValueError, match="no_meta_idx"):
        L.link_with_alias_index(spark, bare, mentions, "mention")


def test_auto_champion_w_cut_quantile_math(spark):
    # Round 13 (VERDICT r12 next #1): the impact threshold sizes
    # itself from the per-alias gram-count distribution — w_cut =
    # rms_factor / sqrt(p95 gram count), the RMS component of a unit
    # alias vector at that length (factor 1.0 keeps a posting exactly
    # when its gram is an above-average component of the alias).
    from drugbankner_spark.operators.linker import _auto_champion_w_cut

    # 19 aliases with 4 grams, 1 with 25 -> p95 spans the tail
    rows = []
    for a in range(19):
        for g in range(4):
            rows.append((f"g{a}_{g}", f"a{a}", 0.5))
    for g in range(25):
        rows.append((f"long_{g}", "a_long", 0.2))
    postings = spark.createDataFrame(
        rows, "gram string, alias string, w double"
    )
    got = _auto_champion_w_cut(
        postings, rms_factor=0.5, gram_quantile=0.5,
        w_min=0.0, w_max=10.0,
    )
    assert abs(got - 0.5 / 2.0) < 1e-9  # median gram count 4
    # clamping binds on both sides
    assert _auto_champion_w_cut(
        postings, rms_factor=0.5, gram_quantile=0.5,
        w_min=0.3, w_max=10.0,
    ) == 0.3
    assert _auto_champion_w_cut(
        postings, rms_factor=0.5, gram_quantile=0.5,
        w_min=0.0, w_max=0.1,
    ) == 0.1
    # empty ontology falls back to the max (everything is champion)
    empty = postings.filter(F.lit(False))
    assert _auto_champion_w_cut(empty, w_min=0.02, w_max=0.2) == 0.2


def test_wcut_factor_two_regime_by_alias_count(spark, tmp_path,
                                               monkeypatch):
    # Round 14 (VERDICT r13 next #2): the fit auto-picks the RMS
    # factor by its OWN alias count — the mid-scale factor (0.9,
    # certifies 1.0 at 35.6k aliases) below the boundary, the
    # large-scale factor (1.0, measured ~30% faster at 357k with
    # certification already 1.0) at/above it. Pinned by fitting the
    # SAME ontology on both sides of a monkeypatched boundary and
    # reading the persisted w_cut back from the meta.
    from drugbankner_spark.operators import linker as L

    # long single-token aliases → q = len+1 = 16 grams, so BOTH
    # factors land strictly inside the [w_min, w_max] clamp
    aliases = spark.createDataFrame(
        [(f"aliasnumber{i:04d}", i) for i in range(8)],
        ["alias", "alias_id"],
    )
    paths = {}
    for tag, boundary in (("mid", 100), ("large", 4)):
        monkeypatch.setattr(L, "ALIAS_WCUT_LARGE_MIN_ALIASES", boundary)
        p = str(tmp_path / f"idx_{tag}")
        L.save_alias_index(aliases, "alias", "alias_id", p)
        paths[tag] = spark.read.parquet(p + "/meta").collect()[0]
    w_mid = paths["mid"]["champion_w_cut"]
    w_large = paths["large"]["champion_w_cut"]
    assert w_mid is not None and w_large is not None
    # same ontology, same q — the w_cut ratio IS the factor ratio
    # (both inside the clamp for this fixture's gram counts)
    assert abs(w_mid / w_large
               - L.ALIAS_WCUT_RMS_FACTOR / L.ALIAS_WCUT_RMS_FACTOR_LARGE
               ) < 1e-9


def test_weight_policy_champions_exact_and_meta(spark, tmp_path,
                                                monkeypatch):
    # The champion probe must stay bit-identical to the inline linker
    # at EVERY w_cut — the auto cut, an adversarial cut that truncates
    # almost everything (0.9: certificate + fallback carry the whole
    # answer) and one that truncates nothing (1e-6) — on both the
    # bucket-pruned and the bulk probe shape. The cut is forced by
    # monkeypatching the auto sizing; the champion path by dropping
    # the n_aliases crossover under this tiny fixture. The flat path
    # (default crossover) is checked against the same inline rows.
    from drugbankner_spark.operators import linker as L

    aliases = spark.createDataFrame(
        [("aspirin", 1), ("acetylsalicylic acid", 2), ("ecotrin", 3),
         ("aspirin tablet", 4), ("aspirin gel", 5), ("asp", 6),
         ("headache", 7), ("tension headache", 8), ("fever", 9),
         ("hay fever", 10), ("yellow fever", 11)],
        ["alias", "alias_id"],
    )
    mentions = spark.createDataFrame(
        [("aspirin",), ("asprin",), ("aspirin tablets",),
         ("tension headaches",), ("high fever",), ("hay fevers",),
         ("zzz",)],
        ["mention"],
    )
    path = str(tmp_path / "auto_idx")
    L.save_alias_index(aliases, "alias", "alias_id", path)
    meta = spark.read.parquet(path + "/meta").collect()[0]
    assert "champion_c" not in meta.asDict()
    assert meta["n_aliases"] == 11
    assert L.ALIAS_WCUT_MIN <= meta["champion_w_cut"] <= L.ALIAS_WCUT_MAX
    paths = {None: path}
    for w_cut in (0.9, 1e-6):
        paths[w_cut] = str(tmp_path / f"wc_{w_cut}")
        with monkeypatch.context() as m:
            m.setattr(L, "_auto_champion_w_cut",
                      lambda postings, rms_factor, w=w_cut: w)
            L.save_alias_index(aliases, "alias", "alias_id", paths[w_cut])
        got_cut = spark.read.parquet(
            paths[w_cut] + "/meta"
        ).collect()[0]["champion_w_cut"]
        assert got_cut == w_cut
    for thr, k in [(0.05, 3), (0.3, 1), (0.7, 2)]:
        want = sorted(tuple(r) for r in L.link_by_tfidf(
            mentions, "mention", aliases, "alias", "alias_id",
            threshold=thr, k=k,
        ).collect())
        assert want
        for prune in (True, False):
            flat = sorted(tuple(r) for r in L.link_with_alias_index(
                spark, path, mentions, "mention", threshold=thr, k=k,
                prune_buckets=prune,
            ).collect())
            assert flat == want, (thr, k, prune)
            with monkeypatch.context() as m:
                m.setattr(L, "CHAMPION_AUTO_MIN_ALIASES", 1)
                for w_cut, p in paths.items():
                    got = sorted(tuple(r) for r in L.link_with_alias_index(
                        spark, p, mentions, "mention", threshold=thr,
                        k=k, prune_buckets=prune,
                    ).collect())
                    assert got == want, (w_cut, thr, k, prune)
    # the analytic guarantee: at w_cut tiny nothing is excluded, so
    # every mention certifies (n_risky 0)
    monkeypatch.setattr(L, "CHAMPION_AUTO_MIN_ALIASES", 1)
    stats: dict = {}
    L.link_with_alias_index(
        spark, paths[1e-6], mentions, "mention",
        threshold=0.3, k=1, probe_stats=stats,
    ).collect()
    assert stats["n_risky"] == 0 and stats["certified_fraction"] == 1.0


def test_weight_policy_bulk_gate_and_pinned_exchanges(
    spark, tmp_path, monkeypatch
):
    # (a) champions are on exactly when the meta's n_aliases clears
    # CHAMPION_AUTO_MIN_ALIASES, on the BULK shape (prune_buckets=False)
    # too; (b) the probe tail's exchanges are PINNED
    # (REPARTITION_BY_NUM) when the gate fires: AQE's compressed-byte
    # coalescing collapsed the broadcast-join explosion into one task
    # (25-minute straggler at sf10), and a pinned exchange is exempt.
    from drugbankner_spark.operators import linker as L

    aliases = spark.createDataFrame(
        [("aspirin", 1), ("ecotrin", 3), ("fever", 9), ("headache", 7)],
        ["alias", "alias_id"],
    )
    mentions = spark.createDataFrame(
        [("aspirin",), ("fever",)], ["mention"]
    )
    wpath = str(tmp_path / "w_idx")
    L.save_alias_index(aliases, "alias", "alias_id", wpath)

    def probe(stats=None):
        return L.link_with_alias_index(
            spark, wpath, mentions, "mention", threshold=0.3, k=1,
            prune_buckets=False, probe_stats=stats,
        )

    def plan():
        return probe()._jdf.queryExecution().executedPlan().toString()

    rows = {}
    for gate, used in ((4, True), (5, False)):  # n_aliases == 4
        monkeypatch.setattr(L, "CHAMPION_AUTO_MIN_ALIASES", gate)
        stats: dict = {}
        rows[gate] = sorted(tuple(r) for r in probe(stats).collect())
        assert stats["used_champions"] is used, gate
    assert rows[4] == rows[5] and rows[4]
    # rerank pin: the alias gate, recorded per call site
    monkeypatch.setattr(L, "CHAMPION_AUTO_MIN_ALIASES", 1)
    assert "REPARTITION_BY_NUM" not in plan()
    assert L.LAST_PIN_DECISION["rerank"] == {
        "n_aliases": 4, "width": 0, "reason": "alias-gate",
    }
    monkeypatch.setattr(L, "LINKER_PIN_MIN_ALIASES", 1)
    assert "REPARTITION_BY_NUM" in plan()
    assert L.LAST_PIN_DECISION["rerank"]["width"] >= 2
    assert sorted(tuple(r) for r in probe().collect()) == rows[4]
    # flat-path pins, gated by the posting count that the probe tail
    # already holds: the gate itself runs no Spark job, and at the
    # default floor the plan is left to AQE
    monkeypatch.setattr(L, "CHAMPION_AUTO_MIN_ALIASES", 10**9)
    tracker = spark.sparkContext.statusTracker()
    gate_jobs = []
    real_gate = L._pin_width

    def counted_gate(site, df, count):
        before = set(tracker.getJobIdsForGroup(None))
        width = real_gate(site, df, count)
        gate_jobs.append(set(tracker.getJobIdsForGroup(None)) - before)
        return width

    monkeypatch.setattr(L, "_pin_width", counted_gate)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None
    assert "REPARTITION_BY_NUM" not in plan()
    n_post = spark.read.parquet(wpath + "/postings").count()
    assert L.LAST_PIN_DECISION["score_full"] == {
        "n_postings": n_post, "width": 0, "reason": "below-floor",
    }
    # above the floor both pinned exchanges survive as
    # REPARTITION_BY_NUM (not elided, not AQE-coalescible): the gram-keyed
    # one under the join's mention side, the mention-keyed one over the
    # products
    monkeypatch.setattr(L, "LINKER_PIN_FULL_MIN_POSTINGS", 1)
    pinned = [ln for ln in plan().splitlines() if "REPARTITION_BY_NUM" in ln]
    assert any("hashpartitioning(gram" in ln for ln in pinned), pinned
    assert any("hashpartitioning(mention" in ln for ln in pinned), pinned
    assert L.LAST_PIN_DECISION["score_full"] == {
        "n_postings": n_post,
        "width": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "reason": "posting-floor",
    }
    assert sorted(tuple(r) for r in probe().collect()) == rows[4]
    assert gate_jobs and not any(gate_jobs)


def test_champion_probe_stats_and_zero_risky_fast_path(
    spark, tmp_path, monkeypatch
):
    # Round 12 (VERDICT r11 next #1a): probe_stats reports the
    # certified fraction, and a fully-certified batch returns the
    # champion result WITHOUT the full-posting fallback branch in the
    # executed plan (the eager n_risky==0 short-circuit) — still
    # bit-identical to the inline linker.
    from drugbankner_spark.operators import linker as L

    aliases = spark.createDataFrame(
        [("aspirin", 1), ("acetylsalicylic acid", 2), ("ecotrin", 3),
         ("headache", 7), ("fever", 9)],
        ["alias", "alias_id"],
    )
    mentions = spark.createDataFrame(
        [("aspirin",), ("fever",), ("headache",)], ["mention"]
    )
    want = sorted(tuple(r) for r in L.link_by_tfidf(
        mentions, "mention", aliases, "alias", "alias_id",
        threshold=0.3, k=1,
    ).collect())
    assert want
    paths = {}
    for w_cut in (1e-6, 0.9):
        paths[w_cut] = str(tmp_path / f"stats_idx_{w_cut}")
        with monkeypatch.context() as m:
            m.setattr(L, "_auto_champion_w_cut",
                      lambda postings, rms_factor, w=w_cut: w)
            L.save_alias_index(aliases, "alias", "alias_id", paths[w_cut])

    def probe(p, stats):
        return L.link_with_alias_index(
            spark, p, mentions, "mention", threshold=0.3, k=1,
            probe_stats=stats,
        )

    # flat path stats (n_aliases under the default crossover):
    # used_champions False, fraction None
    stats_flat: dict = {}
    probe(paths[1e-6], stats_flat).collect()
    assert stats_flat["used_champions"] is False
    assert stats_flat["certified_fraction"] is None
    monkeypatch.setattr(L, "CHAMPION_AUTO_MIN_ALIASES", 1)
    # w_cut tiny: nothing excluded -> every cutoff is 0 -> every
    # mention certifies
    stats: dict = {}
    out = probe(paths[1e-6], stats)
    assert sorted(tuple(r) for r in out.collect()) == want
    assert stats["used_champions"] is True
    assert stats["n_mentions"] == 3
    assert stats["n_risky"] == 0
    assert stats["certified_fraction"] == 1.0
    # zero-risky plan: no Union (fallback branch never scheduled)
    assert "Union" not in out._jdf.queryExecution().executedPlan() \
        .toString()
    # adversarial cut: stats still report, result still exact
    stats1: dict = {}
    assert sorted(tuple(r) for r in probe(
        paths[0.9], stats1
    ).collect()) == want
    assert stats1["n_risky"] + round(
        stats1["certified_fraction"] * stats1["n_mentions"]
    ) == stats1["n_mentions"]


def test_fit_counts_whitespace_alias_in_n(spark):
    # N is the count of distinct non-null alias strings, so an
    # all-whitespace alias (no grams) still counts; the fit's one eager
    # action returns it, and every idf value is ln((1+N)/(1+df)) + 1
    # with that N.
    from drugbankner_spark.operators.linker import build_alias_vectors

    aliases = spark.createDataFrame(
        [("aspirin",), ("ecotrin",), ("   ",), ("aspirin",), (None,)],
        "alias string",
    )
    postings, idf, n = build_alias_vectors(aliases, "alias")
    assert n == 3
    # df is the gram's posting-list length: one posting per (gram, alias)
    df = {
        r["gram"]: r["count"]
        for r in postings.groupBy("gram").count().collect()
    }
    rows = idf.collect()
    assert rows and {r["gram"] for r in rows} == set(df)
    for r in rows:
        assert r["idf"] == math.log((1 + n) / (1 + df[r["gram"]])) + 1
    # the whitespace alias has no posting; the others are unit vectors
    norms = {
        r["alias"]: r["s"] for r in postings.groupBy("alias")
        .agg(F.sum(F.col("w") * F.col("w")).alias("s")).collect()
    }
    assert set(norms) == {"aspirin", "ecotrin"}
    assert all(abs(s - 1.0) < 1e-12 for s in norms.values())


def test_alias_index_probe_on_new_session(spark, tmp_path):
    # A probe through spark.newSession() reads the index through that
    # session, even after another session of the same application
    # memoized its own reads of the same paths.
    from drugbankner_spark.operators.linker import (
        link_with_alias_index,
        save_alias_index,
    )
    from drugbankner_spark.operators.scale import read_index

    aliases = spark.createDataFrame(
        [("aspirin", 1), ("ecotrin", 3), ("fever", 9)],
        ["alias", "alias_id"],
    )
    path = str(tmp_path / "alias_idx")
    save_alias_index(aliases, "alias", "alias_id", path)
    rows = [("asprin",), ("high fever",)]
    want = sorted(tuple(r) for r in link_with_alias_index(
        spark, path, spark.createDataFrame(rows, ["mention"]), "mention",
        threshold=0.3,
    ).collect())
    other = spark.newSession()
    got = link_with_alias_index(
        other, path, other.createDataFrame(rows, ["mention"]), "mention",
        threshold=0.3,
    )
    assert got.sparkSession is other
    assert sorted(tuple(r) for r in got.collect()) == want and want
    for sub in ("meta", "postings", "idf", "alias_map"):
        assert read_index(other, f"{path}/{sub}").sparkSession is other
