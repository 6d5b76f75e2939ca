"""EP1 + EP2 golden tests: mini DrugBank XML + mini synonymizer + stub
NER model (FIXTURES.md B4/B5), expected values hand-computed from the
reference semantics (perform_NER.py, look_for_identifiers.py)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from drugbankner_spark import pipelines as P  # noqa: E402
from drugbankner_spark.fixtures import mini_synonymizer_frames  # noqa: E402
from drugbankner_spark.operators.ner import make_stub_model_factory  # noqa: E402
from drugbankner_spark.operators.synonymizer import Synonymizer  # noqa: E402

XML_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures", "mini_drugbank.xml")

#: FIXTURES.md B4: deterministic lexicon; [] = detected-but-unlinked
#: (name-fallback path); GO:0815 is absent from the synonymizer (dropped).
STUB_LEXICON = {
    "treats headache": ["UMLS:600"],
    "headache": ["UMLS:600"],
    "fever": [],
    "cyclooxygenase": ["GO:0815"],
    "hepatic metabolism": ["MESH:300"],
    "aspirin": ["RXNORM:400"],
    "ecotrin": [],
}


@pytest.fixture(scope="module")
def ep1(spark):
    nodes, clusters, edges = mini_synonymizer_frames(spark)
    syn = Synonymizer(nodes, clusters, edges)
    out = P.run_ep1(spark, XML_PATH, syn, make_stub_model_factory(STUB_LEXICON))
    out["syn"] = syn
    return out


def _nodes_map(df):
    got = {}
    for r in df.collect():
        got.setdefault(r["kg2_id"], {})[r["curie"]] = (r["name"], r["category"])
    return got


def test_indication_aligned(ep1):
    got = _nodes_map(ep1["indication_aligned"])
    # 'Treats headache' sentence: both lexicon surfaces hit UMLS:600 →
    # MONDO:500; longest surface wins (A2). 'fever' is unlinked and its
    # name-lookup misses. Drug 42 has an empty indication → nothing.
    assert got == {
        "CHEBI:100": {"MONDO:500": ("treats headache", "biolink:Disease")}
    }


def test_mechanistic_nodes(ep1):
    got = _nodes_map(ep1["mechanistic_nodes"])
    # 'hepatic metabolism' → MESH:300 → cluster CHEBI:100 (biolink:Drug);
    # cyclooxygenase's GO:0815 misses the synonymizer; the
    # TRIGGER_NER_ERROR sentence ('ecotrin') is swallowed (X3), so
    # CHEBI:101 must NOT appear; the 100+-char token was deleted (P4)
    # without killing its sentence.
    assert got == {
        "CHEBI:100": {
            "MONDO:500": ("treats headache", "biolink:Disease"),
            "CHEBI:100": ("hepatic metabolism", "biolink:Drug"),
        }
    }


def test_ep2_merge(ep1):
    merged = P.run_ep2(ep1["records"], ep1["mechanistic_nodes"], ep1["syn"])
    got = _nodes_map(merged)
    # rank 0 (NER) survives untouched; rank 1 adds carrier name 'Ecotrin'
    # → CHEBI:101 with the cluster's preferred name (NOT the surface);
    # target name 'head ache' → MONDO:500 already present → first-writer-
    # wins keeps 'treats headache'; rank 2 adds bare id '42' via the
    # regex sweep (full-text CURIE 'CHEBI:42').
    assert got["CHEBI:100"] == {
        "MONDO:500": ("treats headache", "biolink:Disease"),
        "CHEBI:100": ("hepatic metabolism", "biolink:Drug"),
        "CHEBI:101": ("Aspirin(tm)", "biolink:SmallMolecule"),
        "CHEBI:42": ("Answer", "biolink:Drug"),
    }
    # drug 42: albumin names and BE/P ids all miss → no mechanistic nodes
    assert "DRUGBANK:42" not in got


def test_multi_model_union(spark):
    # U1 (perform_NER.py:30-53): several NER configs over the same
    # sentences, hits folded with longest-name-wins across models.
    from pyspark.sql import functions as F

    from drugbankner_spark.operators.ner import text_to_kg2_nodes

    nodes, clusters, edges = mini_synonymizer_frames(spark)
    syn = Synonymizer(nodes, clusters, edges)
    docs = spark.createDataFrame(
        [("D1", "This sentence mentions a bad headache today.")],
        ["kg2_id", "txt"],
    )
    # model A finds the short surface, model B the longer one — both land
    # on MONDO:500; the longer surface must win. Model B also finds an
    # entity only it knows (RXNORM:400 → CHEBI:101).
    m_a = make_stub_model_factory({"headache": ["UMLS:600"]})
    m_b = make_stub_model_factory({
        "bad headache": ["UMLS:600"], "sentence": ["RXNORM:400"],
    })
    out = text_to_kg2_nodes(
        docs, F.col("txt"), ["kg2_id"], syn, [m_a, m_b], None
    )
    got = {r["curie"]: r["name"] for r in out.collect()}
    assert got == {"MONDO:500": "bad headache", "CHEBI:101": "sentence"}


def test_rank_by_synonym_count_orders_desc(spark):
    # A3 (NER.py:81): within one lookup group, rank 1 = most matched
    # synonyms; ties pinned by preferred_curie asc (reference tie order
    # is dict-insertion — not reproducible).
    from drugbankner_spark.operators.ner import rank_by_synonym_count

    aligned = spark.createDataFrame(
        [
            ("D1", "aspirin", "CHEBI:100", "Aspirin", "biolink:Drug", 1),
            ("D1", "aspirin", "MONDO:500", "Headache", "biolink:Disease", 3),
            ("D1", "aspirin", "CHEBI:042", "Answer", "biolink:Drug", 1),
            ("D1", "fever", "MONDO:500", "Headache", "biolink:Disease", 2),
        ],
        ["kg2_id", "entity_text", "preferred_curie", "preferred_name",
         "preferred_category", "n_matched_synonyms"],
    )
    out = rank_by_synonym_count(aligned, ["kg2_id"])
    ranks = {
        (r["entity_text"], r["preferred_curie"]): r["synonym_rank"]
        for r in out.collect()
    }
    assert ranks == {
        ("aspirin", "MONDO:500"): 1,
        ("aspirin", "CHEBI:042"): 2,  # tie with CHEBI:100 → curie asc
        ("aspirin", "CHEBI:100"): 3,
        ("fever", "MONDO:500"): 1,
    }


def test_model_cache_key_is_config_stable():
    # The executor cache key is computed ONCE on the driver and shipped
    # as a string, so every task of a stage shares it by construction;
    # the digest must additionally be identical for two factory OBJECTS
    # with the same config and distinct across configs — id() was
    # neither (ADVICE r01, high: per-task model rebuilds + id()-reuse
    # serving the wrong config's model).
    from drugbankner_spark.operators.ner import _factory_key

    f1 = make_stub_model_factory({"headache": ["UMLS:600"]})
    f1_same_cfg = make_stub_model_factory({"headache": ["UMLS:600"]})
    f2 = make_stub_model_factory({"fever": []})
    assert f1 is not f1_same_cfg
    assert _factory_key(f1) == _factory_key(f1_same_cfg)
    assert _factory_key(f1) != _factory_key(f2)
    assert _factory_key(f1, model_key="explicit") == "explicit"


def test_reference_json_shape(ep1, spark):
    merged = P.run_ep2(ep1["records"], ep1["mechanistic_nodes"], ep1["syn"])
    nested = P.assemble_reference_json(
        ep1["records"], ep1["indication_aligned"], merged
    )
    rows = {r["kg2_id"]: r for r in nested.collect()}
    assert set(rows) == {"CHEBI:100", "DRUGBANK:42"}
    r = rows["CHEBI:100"]
    assert set(r["indication_NER_aligned"].keys()) == {"MONDO:500"}
    assert r["indication_NER_aligned"]["MONDO:500"]["name"] == "treats headache"
    assert set(r["mechanistic_intermediate_nodes"].keys()) == {
        "MONDO:500", "CHEBI:100", "CHEBI:101", "CHEBI:42"
    }
    # drugs with no hits get EMPTY maps, not NULL (perform_NER.py:124-125)
    assert rows["DRUGBANK:42"]["indication_NER_aligned"] == {}
    assert rows["DRUGBANK:42"]["mechanistic_intermediate_nodes"] == {}


def test_frozen_ner_fixture_matches_live_pipeline(spark):
    # Drift guard for the EP1/EP2 DuckDB oracles: the frozen stub-NER
    # detections and bioentity explosions in fixtures_ner must equal what
    # the live operators produce over the mini XML — if a normalize/
    # detect/extract change shifts the intermediate, this fails before the
    # driver's oracle compare silently goes stale.
    from drugbankner_spark import fixtures_ner as FN

    live_det = sorted(tuple(r) for r in FN.live_detected(spark).collect())
    assert live_det == sorted(FN.DETECTED_ROWS)
    live_alt = sorted(
        tuple(r)
        for r in FN.live_detected(spark, FN.EP1_LEXICON_ALT).collect()
    )
    assert live_alt == sorted(FN.DETECTED_ROWS_ALT)
    live_bio = sorted(tuple(r) for r in FN.live_bioentities(spark).collect())
    assert live_bio == sorted(FN.BIOENTITY_ROWS)


def test_scispacy_config_contract():
    # VERDICT r02 missing #3: factory configs are checked against the
    # recorded scispacy-0.5.5 contract at BUILD time (driver), so config
    # drift fails before anything ships to executors — no model needed.
    import pytest as _pytest

    from drugbankner_spark.operators.ner import (
        make_scispacy_factory,
        validate_linker_config,
    )

    # the factory's own default config validates (the X2 shape,
    # NER.py:42-51) for every reference linker
    for linker in ("umls", "mesh", "rxnorm", "go", "hpo"):
        make_scispacy_factory(linkers=(linker,))
    ok = {"resolve_abbreviations": True, "linker_name": "umls",
          "threshold": 0.75, "k": 10, "max_entities_per_mention": 1}
    assert validate_linker_config(ok) is ok
    with _pytest.raises(ValueError, match="unknown scispacy_linker"):
        validate_linker_config({"treshold": 0.7})  # typo'd key
    with _pytest.raises(ValueError, match="unsupported linker_name"):
        make_scispacy_factory(linkers=("snomed",))


def test_spot_mentions_contract_and_matching(spark):
    # Round 8 (VERDICT r07 next #8): the relational dictionary spotter
    # — multi-token grams, case/whitespace-insensitive matching,
    # original-case entity_text, detect_entities-shaped output with
    # the no-match sentinel row.
    from pyspark.sql import functions as F

    from drugbankner_spark.operators.ner import spot_mentions

    sents = spark.createDataFrame(
        [(1, "Aspirin inhibits CycloOxygenase in humans"),
         (2, "nothing relevant here"),
         (3, "treats severe  headache fast"),
         (4, "")],
        ["kg2_id", "sentence"],
    )
    surf = spark.createDataFrame(
        [("aspirin",), ("Cyclooxygenase",), ("severe headache",),
         ("headache",), ("  ",), (None,)],
        "name string",
    )
    out = spot_mentions(sents, "sentence", ["kg2_id"], surf, "name")
    assert out.columns == ["kg2_id", "sentence", "entity_text", "kb_id"]
    hits = {(r["kg2_id"], r["entity_text"])
            for r in out.filter(F.col("entity_text").isNotNull()).collect()}
    # original sentence case preserved; multi-space collapses; both
    # the 2-gram and its 1-gram suffix match
    assert hits == {(1, "Aspirin"), (1, "CycloOxygenase"),
                    (3, "severe headache"), (3, "headache")}
    # kb_id is ALWAYS NULL (linking is a separate stage) and no-match
    # sentences emit exactly one sentinel row
    assert all(r["kb_id"] is None for r in out.collect())
    sentinels = out.filter(F.col("entity_text").isNull()).collect()
    assert {r["kg2_id"] for r in sentinels} == {2, 4}
    assert len(sentinels) == 2


def test_spot_mentions_keeps_one_sentinel_per_input_row(spark):
    # A no-hit sentence that appears twice under the same key emits its
    # NULL sentinel twice: the sentinel count is the input row count.
    from drugbankner_spark.operators.ner import spot_mentions

    sents = spark.createDataFrame(
        [(1, "nothing relevant here"), (1, "nothing relevant here"),
         (2, "nothing relevant here")],
        ["kg2_id", "sentence"],
    )
    surf = spark.createDataFrame([("aspirin",)], ["name"])
    out = spot_mentions(sents, "sentence", ["kg2_id"], surf, "name")
    got = sorted(tuple(r) for r in out.collect())
    sentinel = ("nothing relevant here", None, None)
    assert got == [(1, *sentinel), (1, *sentinel), (2, *sentinel)]


def test_spot_mentions_one_row_per_distinct_hit_gram(spark):
    # A hit sentence that appears twice, with a gram repeated inside it,
    # emits one row per DISTINCT matched gram and no sentinel.
    from drugbankner_spark.operators.ner import spot_mentions

    sentence = "Aspirin and aspirin beat fever"
    sents = spark.createDataFrame(
        [(1, sentence), (1, sentence)], ["kg2_id", "sentence"]
    )
    surf = spark.createDataFrame([("aspirin",), ("fever",)], ["name"])
    out = spot_mentions(sents, "sentence", ["kg2_id"], surf, "name")
    got = sorted(r["entity_text"] for r in out.collect())
    assert got == ["Aspirin", "aspirin", "fever"]


def test_align_detected_routes_each_row_down_one_path(spark):
    # Each detection takes ONE path: the CURIE path when kb_id is set,
    # else the name path on entity_text or, for the entity-less
    # sentinel, on the sentence. A (kb_id set, entity_text NULL) row is
    # outside the detect contract: it takes the CURIE path with the
    # sentence as its text. The producers never emit such a row.
    from pyspark.sql import functions as F

    from drugbankner_spark.fixtures_ner import live_detected
    from drugbankner_spark.operators.ner import (
        align_detected,
        link_entities_tfidf,
    )

    nodes, clusters, edges = mini_synonymizer_frames(spark)
    syn = Synonymizer(nodes, clusters, edges)
    detected = spark.createDataFrame(
        [("D1", "s1", "head ache", "umls:600"),   # CURIE path
         ("D1", "s2", "Ecotrin", None),           # name path
         ("D1", "Headache", None, None),          # sentence as name
         ("D2", "Aspirin", None, "RXNORM:400")],  # outside the contract
        "kg2_id string, sentence string, entity_text string, kb_id string",
    )
    got = {tuple(r) for r in align_detected(detected, syn, ["kg2_id"])
           .select("kg2_id", "entity_text", "preferred_curie",
                   "n_matched_synonyms").collect()}
    assert got == {
        ("D1", "head ache", "MONDO:500", 1),
        ("D1", "Ecotrin", "CHEBI:101", 1),
        ("D1", "Headache", "MONDO:500", 1),
        ("D2", "Aspirin", "CHEBI:101", 1),
    }
    det = live_detected(spark)
    linked = link_entities_tfidf(det, nodes.select("id", "name"))
    for df in (det, linked):
        assert df.filter(F.col("kb_id").isNotNull()
                         & F.col("entity_text").isNull()).count() == 0


def test_spot_mentions_feeds_tfidf_linker(spark):
    # The composed detection->linking handoff: a spotted surface links
    # to its concept id through pure TF-IDF arithmetic.
    from pyspark.sql import functions as F

    from drugbankner_spark.operators.ner import (
        link_entities_tfidf,
        spot_mentions,
    )

    sents = spark.createDataFrame(
        [(1, "patient reports severe headache today")],
        ["kg2_id", "sentence"],
    )
    aliases = spark.createDataFrame(
        [("C1", "severe headache"), ("C2", "mild rash")],
        ["id", "name"],
    )
    det = spot_mentions(sents, "sentence", ["kg2_id"],
                        aliases.select("name"), "name")
    linked = link_entities_tfidf(det, aliases, threshold=0.7, k=1)
    got = {(r["entity_text"], r["kb_id"])
           for r in linked.filter(F.col("entity_text").isNotNull()).collect()}
    assert ("severe headache", "C1") in got


def test_model_loads_once_per_worker_process_not_per_task(spark, tmp_path):
    # VERDICT r09 next #6: the mapInPandas model lifecycle must pay the
    # (expensive) factory ONCE per Python worker process — never per
    # task or per batch — or a real scispaCy model (GBs) would reload
    # per partition. The heavyweight fake allocates a 32 MB numpy
    # payload and journals every construction as "<pid>" to a shared
    # file; after one action of 96 tasks (3× the worker slots), the
    # number of factory constructions must equal the number of
    # DISTINCT worker pids that journaled (one load per process),
    # strictly fewer than the 96 task executions.
    import numpy as np
    from pyspark.sql import functions as F

    from drugbankner_spark.operators import ner as NER

    journal = str(tmp_path / "loads.log")

    def heavy_factory():
        import os as _os

        import numpy as _np

        payload = _np.ones((32, 1024, 1024), dtype=_np.uint8)  # 32 MB
        with open(journal, "a") as fh:
            fh.write(f"{_os.getpid()}\n")

        def run(sentence):
            # touch the payload so it cannot be optimized away
            return {sentence.split()[0]: {f"FAKE:{int(payload[0,0,0])}"}}

        return run

    # 96 tasks against local[32]'s ≤32 python-worker slots: at least
    # 64 tasks MUST land on an already-warm worker WITHIN this one
    # action — reuse across separate jobs is runtime policy (idle
    # workers get reaped under a long suite's memory pressure, which
    # made the old two-job form flake with 48 fresh pids), but within
    # a running stage a freed worker returns to the pool and is
    # grabbed immediately, so the cross-task cache must show.
    n_tasks = 96
    sents = spark.range(240).select(
        F.col("id").alias("sid"),
        F.concat(F.lit("tok"), F.col("id").cast("string"),
                 F.lit(" rest of sentence")).alias("sentence"),
    ).repartition(n_tasks)
    out = NER.detect_entities(
        sents, "sentence", ["sid"], heavy_factory,
        model_key="heavy-fake-lifecycle-test",
    )
    assert out.count() == 240
    with open(journal) as fh:
        pids = [ln.strip() for ln in fh if ln.strip()]
    n_loads, n_procs = len(pids), len(set(pids))
    assert n_loads == n_procs, (
        f"{n_loads} factory constructions across {n_procs} worker "
        "processes — the model reloaded within a process"
    )
    assert n_loads < n_tasks, "one load per task means the cache is dead"
    # numpy was only needed on the workers; keep the driver import to
    # pin the test environment assumption
    assert np.ones(1)[0] == 1.0
