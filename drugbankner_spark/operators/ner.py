"""NER stage (SURVEY.md §2.9 X1-X4, §2.3 J7, §2.4 A2/A3, §2.7 U1;
reference NER.py + perform_NER.py:19-54).

The only non-relational operator in the engine. The reference runs five
scispaCy pipelines per sentence in-process; here detection is a
``mapInPandas`` UDTF — Arrow-batched, lazy per-executor-process model
singleton, per-sentence RuntimeErrors swallowed (rows fail, jobs don't:
perform_NER.py:31-34). Everything around it (sentence prep, alignment,
merges) stays JVM-side.

Detection contract (one output row per (sentence, entity, kb_id)):
- entity with linker hits  → one row per ``LINKER:kb_id`` (NER.py:106-108)
- entity with no linker hit → one row, kb_id NULL (→ name-fallback J7)
- sentence with no entities → one row, entity_text NULL (the reference
  then looks up the WHOLE sentence as a name — NER.py:117-120)

Model lifecycle at scale: the heavy model loads once per executor Python
worker (module-global cache keyed by config) — the biggest memory knob is
executor cores × model size; configure fewer task slots per executor or
``spark.executor.pyspark.memory`` accordingly. GPU is a per-executor
resource config, never required (the reference hard-requires it,
perform_NER.py:16 — engine makes it optional).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from drugbankner_spark.operators.synonymizer import Synonymizer

#: Disease categories for indication alignment (perform_NER.py:121-123).
DISEASE_CATEGORIES = (
    "biolink:Disease", "biolink:PhenotypicFeature",
    "biolink:DiseaseOrPhenotypicFeature",
)

#: Mechanistic category set (CONSTANTS.py:2-12).
MECHANISTIC_CATEGORIES = (
    "biolink:BiologicalProcess", "biolink:BiologicalProcessOrActivity",
    "biolink:Cell", "biolink:CellularComponent", "biolink:Drug",
    "biolink:Disease", "biolink:DiseaseOrPhenotypicFeature",
    "biolink:Gene", "biolink:GeneProduct", "biolink:GeneFamily",
    "biolink:GeneGroupingMixin", "biolink:GeneOrGeneProduct",
    "biolink:MolecularActivity", "biolink:NoncodingRNAProduct",
    "biolink:PathologicalProcess", "biolink:PhenotypicFeature",
    "biolink:Pathway", "biolink:Protein", "biolink:ProteinDomain",
    "biolink:ProteinFamily", "biolink:PhysiologicalProcess",
    "biolink:RNAProduct", "biolink:SmallMolecule", "biolink:Transcript",
)

# --------------------------------------------------------------------------
# Models. A model is a callable: sentence -> {entity_text: set[kb_curie]}
# where kb_curie is already 'LINKER:<kb_id>'-prefixed. Factories must be
# module-level (pickled to executors); instances are cached per process.
# --------------------------------------------------------------------------

_MODEL_CACHE: dict[str, Any] = {}


def _factory_key(factory: Callable[[], Any], model_key: str | None = None) -> str:
    """Stable per-CONFIG cache key, computed once on the driver.

    ``id(factory)`` (round 1) was wrong twice over: every Spark task
    deserializes a fresh factory object, so the model was rebuilt per
    task and every instance retained forever; and after GC, id() reuse
    could hand a DIFFERENT config's cached model to a multi-config
    branch. A content digest of the pickled factory (the same bytes
    Spark ships to executors) is identical across tasks of the same
    config and distinct across configs."""
    if model_key is not None:
        return model_key
    import hashlib

    from pyspark import cloudpickle

    return hashlib.sha256(cloudpickle.dumps(factory)).hexdigest()


class StubNerModel:
    """Deterministic scispaCy stand-in (FIXTURES.md B4): substring lexicon
    match, case-insensitive; a sentinel substring raises RuntimeError to
    exercise the swallow path. Same output shape as the real pipeline."""

    ERROR_TRIGGER = "TRIGGER_NER_ERROR"

    def __init__(self, lexicon: dict[str, list[str]]):
        # {surface_text -> [kb_curie, ...]}; [] means detected-but-unlinked
        self.lexicon = {k.lower(): (k, list(v)) for k, v in lexicon.items()}

    def __call__(self, sentence: str) -> dict[str, set]:
        if self.ERROR_TRIGGER in sentence:
            raise RuntimeError("stub NER failure")
        low = sentence.lower()
        out: dict[str, set] = {}
        for key, (surface, kbs) in self.lexicon.items():
            if key in low:
                out.setdefault(surface, set()).update(kbs)
        return out


def make_stub_model_factory(lexicon: dict[str, list[str]]) -> Callable[[], Any]:
    def factory() -> StubNerModel:
        return StubNerModel(lexicon)

    return factory


def make_abbrev_resolving_factory(
    base_factory: Callable[[], Any],
) -> Callable[[], Any]:
    """X2 (NER.py:42-51 ``resolve_abbreviations=True``) as a REAL
    executable path: wrap any NER model so abbreviations defined in the
    sentence ("long form (SF)", Schwartz–Hearst) resolve through their
    long form — an abbreviated mention inherits the kb links its
    definition's entities carry, exactly the scispaCy
    AbbreviationDetector + linker behavior, with the detection algorithm
    implemented in-engine (functions/abbrev.py) instead of requiring the
    scispaCy install."""
    def factory() -> Any:
        base = base_factory()

        def run(sentence: str) -> dict[str, set]:
            from drugbankner_spark.functions.abbrev import (
                extract_abbreviation_pairs,
            )

            detected = {k: set(v) for k, v in base(sentence).items()}
            for sf, lf in extract_abbreviation_pairs(sentence):
                kbs: set = set()
                for _surface, links in base(lf).items():
                    kbs.update(links)
                if kbs:
                    detected.setdefault(sf, set()).update(kbs)
            return detected

        return run

    return factory


def abbreviation_pairs(
    df: DataFrame, text_col: str, id_cols: list[str]
) -> DataFrame:
    """Per-document Schwartz–Hearst extraction over Arrow batches: one
    output row per (ids, abbreviation, long_form) definition found.
    Embarrassingly parallel, shuffles nothing — the corpus-level
    abbreviation inventory a glossary/normalization stage needs."""
    id_fields = [df.schema[c] for c in id_cols]
    out_schema = T.StructType(
        [*id_fields,
         T.StructField("abbreviation", T.StringType()),
         T.StructField("long_form", T.StringType())]
    )
    cols = [*id_cols, text_col]
    names = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from drugbankner_spark.functions.abbrev import (
            extract_abbreviation_pairs,
        )

        for pdf in batches:
            rows = []
            for tup in pdf[cols].itertuples(index=False):
                *ids, text = tup
                if not isinstance(text, str):
                    continue
                for sf, lf in extract_abbreviation_pairs(text):
                    rows.append((*ids, sf, lf))
            yield pd.DataFrame(rows, columns=names)

    return df.mapInPandas(run, out_schema)


def _linker_contract() -> dict:
    """The recorded scispacy-0.5.5 ``scispacy_linker`` config contract
    (static JSON fixture — see resources/). Lets the driver catch config
    drift (renamed/removed parameters, unsupported linker names) at
    build time with no scispaCy install or model download."""
    import json
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "resources", "scispacy_linker_config_0_5_5.json",
    )
    with open(path) as fd:
        return json.load(fd)


def validate_linker_config(config: dict) -> dict:
    """Validate a ``scispacy_linker`` pipe config against the recorded
    0.5.5 contract: unknown keys raise (they would be silently dropped
    or rejected by spaCy's config system at model-load time — on an
    executor, hours into a job), and ``linker_name`` must be one of the
    ontologies the reference supports (P7, NER.py:36-40). Returns the
    config unchanged."""
    contract = _linker_contract()
    unknown = set(config) - set(contract["valid_keys"])
    if unknown:
        raise ValueError(
            f"unknown scispacy_linker config keys {sorted(unknown)}; "
            f"scispacy {contract['scispacy_version']} accepts "
            f"{sorted(contract['valid_keys'])}"
        )
    linker = config.get("linker_name")
    if linker is not None and linker not in contract["supported_linker_names"]:
        raise ValueError(
            f"unsupported linker_name {linker!r}; expected one of "
            f"{contract['supported_linker_names']}"
        )
    return config


def make_scispacy_factory(
    spacy_model: str = "en_core_sci_lg",
    linkers: tuple[str, ...] = ("umls",),
    threshold: float = 0.7,
    k: int = 15,
    max_entities_per_mention: int = 1,
) -> Callable[[], Any]:
    """Real-model factory (NER.py:42-51 config shape). Import-gated: the
    container has no scispaCy — raises ImportError at first use on an
    executor, never at import time. Pipe configs are validated against
    the recorded 0.5.5 contract HERE, on the driver, before anything
    ships to executors."""
    configs = {
        linker: validate_linker_config({
            "resolve_abbreviations": True, "linker_name": linker,
            "threshold": threshold, "k": k,
            "max_entities_per_mention": max_entities_per_mention,
        })
        for linker in linkers
    }

    def factory():
        import spacy  # noqa: F401 — optional dependency
        from scispacy.abbreviation import AbbreviationDetector  # noqa: F401
        from scispacy.linking import EntityLinker  # noqa: F401

        pipes = {}
        for linker, cfg in configs.items():
            nlp = spacy.load(spacy_model)
            nlp.add_pipe("abbreviation_detector")
            nlp.add_pipe("scispacy_linker", config=cfg)
            pipes[linker] = nlp

        def run(sentence: str) -> dict[str, set]:
            detected: dict[str, set] = {}
            for linker, nlp in pipes.items():
                doc = nlp(sentence)
                for ent in doc.ents:
                    detected.setdefault(ent.text, set()).update(
                        f"{linker.upper()}:{kb_id}"
                        for kb_id, _score in ent._.kb_ents
                    )
            return detected

        return run

    return factory


def _cached_model(key: str, factory: Callable[[], Any]) -> Any:
    if key not in _MODEL_CACHE:
        _MODEL_CACHE[key] = factory()
    return _MODEL_CACHE[key]


# --------------------------------------------------------------------------
# Detection (X1/X3) — the mapInPandas UDTF.
# --------------------------------------------------------------------------

def detect_entities(
    sentences: DataFrame,
    text_col: str,
    id_cols: list[str],
    model_factory: Callable[[], Any],
    model_key: str | None = None,
) -> DataFrame:
    """One row in per sentence → N rows out per detection contract above.
    Arrow-batched; the model loads lazily once per executor process,
    cached under a stable config key (``model_key`` or a pickle digest
    of the factory — see _factory_key)."""
    key = _factory_key(model_factory, model_key)
    id_fields = [sentences.schema[c] for c in id_cols]
    out_schema = T.StructType(
        [*id_fields,
         T.StructField("sentence", T.StringType()),
         T.StructField("entity_text", T.StringType()),
         T.StructField("kb_id", T.StringType())]
    )
    cols = [*id_cols, text_col]
    names = [f.name for f in out_schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _cached_model(key, model_factory)
        for pdf in batches:
            rows = []
            for tup in pdf[cols].itertuples(index=False):
                *ids, sent = tup
                if not isinstance(sent, str) or not sent:
                    continue  # P8 (NER.py:95-96)
                try:
                    detected = model(sent)
                except RuntimeError:
                    continue  # X3 (perform_NER.py:31-34)
                if not detected:
                    rows.append((*ids, sent, None, None))
                    continue
                for entity, kbs in detected.items():
                    if kbs:
                        rows.extend((*ids, sent, entity, kb) for kb in sorted(kbs))
                    else:
                        rows.append((*ids, sent, entity, None))
            yield pd.DataFrame(rows, columns=names)

    return sentences.mapInPandas(run, out_schema)


# --------------------------------------------------------------------------
# Alignment (J7 + A3) and the per-drug merge (A2/A6/U1).
# --------------------------------------------------------------------------

def align_detected(detected: DataFrame, syn: Synonymizer, id_cols: list[str]) -> DataFrame:
    """J7 (NER.py:53-81): canonicalize detections — kb curies through the
    CURIE path; unlinked entities and entity-less sentences through the
    name path (whole sentence as the 'entity'). Returns one row per
    (ids, entity_text, preferred_*) hit with the matched-synonym count
    (A3; ordering dropped — it never affects downstream content).

    Contract: a row with a ``kb_id`` has an ``entity_text`` (no detector
    here emits one without); each row takes ONE path. One stream
    (ARCHITECTURE §7o): the CURIE and name lookups are left broadcast
    joins in series, and a row carries only one of the two keys."""
    text = F.coalesce("entity_text", "sentence")
    keyed = detected.select(
        *id_cols, "kb_id", text.alias("entity_text"),
        F.when(F.col("kb_id").isNull(), text).alias("_name"),
    )
    looked = syn.canonical_from_names(
        syn.canonical_from_curies(keyed, "kb_id", prefix="c_"),
        "_name", prefix="n_",
    )
    hits = looked.select(
        *id_cols, "entity_text",
        F.coalesce("kb_id", "entity_text").alias("matched_input"),
        *[F.coalesce("c_" + c, "n_" + c).alias(c) for c in (
            "preferred_curie", "preferred_name", "preferred_category")],
    ).filter(F.col("preferred_curie").isNotNull())
    return hits.groupBy(
        *id_cols, "entity_text",
        "preferred_curie", "preferred_name", "preferred_category",
    ).agg(F.countDistinct("matched_input").alias("n_matched_synonyms"))


def rank_by_synonym_count(aligned: DataFrame, id_cols: list[str]) -> DataFrame:
    """A3 ordering (NER.py:81): the reference returns each lookup's
    preferred curies SORTED by matched-synonym count, descending. Adds
    ``synonym_rank`` (1 = most synonyms) per (ids, entity_text) lookup
    group; reference ties fall back to dict insertion order — pinned here
    to preferred_curie ascending so the rank is deterministic."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*id_cols, "entity_text")
        .orderBy(F.col("n_matched_synonyms").desc(), F.col("preferred_curie").asc())
    )
    return aligned.withColumn("synonym_rank", F.row_number().over(w))


def merge_longest_name(
    aligned: DataFrame, id_cols: list[str], categories: tuple[str, ...] | None
) -> DataFrame:
    """A2+A6+U1 (perform_NER.py:30-53): per (ids, preferred_curie) keep the
    LONGEST entity surface text as the node name (category-filtered first).
    Reference ties are first-seen; pinned here to (len desc, text asc)."""
    f = aligned
    if categories is not None:
        f = f.filter(F.col("preferred_category").isin(*categories))  # P5
    return f.groupBy(*id_cols, F.col("preferred_curie").alias("curie")).agg(
        F.min_by(
            "entity_text",
            F.struct((-F.length("entity_text")).alias("l"), F.col("entity_text")),
        ).alias("name"),
        F.any_value("preferred_category").alias("category"),
    )


def prepare_sentences(
    records: DataFrame, text_col: F.Column, id_cols: list[str]
) -> DataFrame:
    """Sentence prep (perform_NER.py:19-28): split on '.' (F5) → 15..1000
    length band (P3) → delete ≥100-char tokens (P4) → strip .,;:?! (F2,
    get_kg2_match remove_mark=True). Shared by the pipeline and the
    oracle-fixture generator so both freeze the same sentences."""
    from drugbankner_spark.functions import normalize as N

    return (
        records.select(*id_cols, F.explode(N.split_sentences(text_col)).alias("_raw"))
        .filter(N.sentence_length_ok(F.col("_raw")))
        .select(
            *id_cols,
            N.strip_sentence_marks(
                N.delete_long_tokens(F.col("_raw"))
            ).alias("sentence"),
        )
    )


def spot_mentions(
    sentences: DataFrame,
    text_col: str,
    id_cols: list[str],
    surfaces: DataFrame,
    surface_col: str = "name",
    max_tokens: int = 4,
) -> DataFrame:
    """IN-ENGINE mention spotting (VERDICT r07 next #8) — dictionary
    NER as pure relational algebra, the detection-stage replacement
    for the stub model factories: every whitespace-delimited token
    n-gram (n = 1..``max_tokens``) of every sentence that equals a
    surface form in ``surfaces`` (case- and whitespace-insensitive)
    becomes a detection. Output rows follow the
    :func:`detect_entities` contract exactly — (*ids, sentence,
    entity_text, kb_id) with ``entity_text`` the ORIGINAL-case
    sentence gram (what a real NER emits) and ``kb_id`` always NULL
    (linking belongs to :func:`link_entities_tfidf` — spotting and
    linking stay separate, independently testable stages). Per (ids,
    sentence) key: one row per DISTINCT matched gram, else one (ids,
    sentence, NULL, NULL) sentinel per INPUT row, so J7's
    sentence-as-name fallback still sees them.

    Scale shape: one stream (ARCHITECTURE §7o) — one posexplode bounded
    by sentence_tokens × ``max_tokens``, ONE left equi-join on the
    normalized gram (the surface dim broadcasts below
    ``tables.BROADCAST_MAX_ROWS``, else shuffles on the gram key), one
    aggregation per sentence and one explode. Fully SQL-expressible
    (no UDF), so EP1 variants built on it are
    hash-oracle-able end to end; for 100k+-term dictionaries with
    deep phrases, textanalysis.tag_dictionary_terms (Aho-Corasick,
    O(text) per doc) is the offsets-included alternative."""
    from drugbankner_spark.caching import shared_persist
    from drugbankner_spark.tables import maybe_broadcast

    norm = lambda c: F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))  # noqa: E731
    # persisted: the broadcast-size guard's count() and the join are
    # two consumers of the distinct (dim-guard law, ARCHITECTURE §7i)
    surf = shared_persist(
        surfaces.select(norm(F.col(surface_col)).alias("_surf"))
        .filter(F.col("_surf") != "")
        .distinct()
    )
    surf = maybe_broadcast(surf)
    # sequence(1, 0) is DESCENDING in Spark (slice at index 0 then
    # throws) — sentences shorter than n tokens get an empty gram list
    grams_expr = F.expr(
        f"""flatten(transform(sequence(1, {max_tokens}), n ->
            transform(
                CASE WHEN size(_toks) >= n
                     THEN sequence(1, size(_toks) - n + 1)
                     ELSE array() END,
                i -> array_join(slice(_toks, i, n), ' '))))"""
    )
    toks = sentences.select(
        *id_cols, F.col(text_col).alias("sentence"),
        F.expr(f"filter(split({text_col}, '\\\\s+'), t -> t <> '')")
        .alias("_toks"),
    )
    # each input row yields one gram at position 0 or one NULL gram, so
    # counting those rows per sentence counts the input rows
    per_sentence = (
        toks.select(*id_cols, "sentence",
                    F.posexplode_outer(grams_expr).alias("_pos", "_gram"))
        .join(surf, norm(F.col("_gram")) == F.col("_surf"), "left")
        .groupBy(*id_cols, "sentence")
        .agg(
            F.collect_set(F.when(F.col("_surf").isNotNull(), F.col("_gram")))
            .alias("_hits"),
            F.count(F.when(F.coalesce(F.col("_pos"), F.lit(0)) == 0, 1))
            .cast("int").alias("_rows"),
        )
    )
    return per_sentence.select(
        *id_cols, "sentence",
        F.explode(
            F.when(F.size("_hits") > 0, F.col("_hits")).otherwise(
                F.array_repeat(F.lit(None).cast("string"), F.col("_rows")))
        ).alias("entity_text"),
        F.lit(None).cast("string").alias("kb_id"),
    )


def link_entities_tfidf(
    detected: DataFrame,
    aliases: DataFrame,
    alias_col: str = "name",
    alias_id_col: str = "id",
    threshold: float = 0.7,
    k: int = 1,
) -> DataFrame:
    """In-engine entity linking over a :func:`detect_entities` output
    (X1 gap closure, VERDICT r06 next #5): every detected-but-unlinked
    mention (``kb_id`` NULL, ``entity_text`` present) is vectorized as
    char-3-gram TF-IDF and linked to the concepts whose alias vectors
    score cosine ≥ ``threshold``, top-``k`` per mention — the public
    scispaCy CandidateGenerator design (see operators/linker.py),
    computed relationally instead of inside the model UDTF.

    Contract-preserving: rows already carrying a kb_id pass through
    untouched (one row per candidate link appears for newly linked
    mentions — the same one-row-per-(sentence, entity, kb) shape
    detect_entities emits, NER.py:106-108); mentions that clear no
    candidate keep their NULL kb_id so the name-fallback path (J7)
    still sees them; entity-less sentinel rows pass through. Linking
    cost scales with DISTINCT mention strings, not detections. One
    stream (ARCHITECTURE §7o): the join condition carries ``kb_id IS
    NULL``, so ``k`` never multiplies an already-linked row."""
    from drugbankner_spark.operators.linker import link_by_tfidf

    candidates = link_by_tfidf(
        detected.filter(F.col("kb_id").isNull()), "entity_text",
        aliases, alias_col, alias_id_col, threshold=threshold, k=k,
    ).select("mention", F.col("alias_id").alias("_linked_kb"))
    # candidates is bounded by distinct mentions × k — usually dim-sized
    # but corpus-dependent, so AQE picks the join strategy (no hint)
    return (
        detected.join(
            candidates,
            (F.col("entity_text") == F.col("mention"))
            & F.col("kb_id").isNull(),
            "left",
        )
        .withColumn("kb_id", F.coalesce("kb_id", "_linked_kb"))
        .select(*detected.columns)
    )


def text_to_kg2_nodes(
    records: DataFrame,
    text_col: F.Column,
    id_cols: list[str],
    syn: Synonymizer,
    model_factory: Callable[[], Any] | list[Callable[[], Any]],
    categories: tuple[str, ...] | None,
    linker_aliases: DataFrame | None = None,
    linker_threshold: float = 0.7,
    linker_k: int = 1,
) -> DataFrame:
    """Full sentence pipeline (perform_NER.py:19-54): prepare_sentences →
    detect (X1) → align (J7) → per-drug longest-name merge (A2/A6).
    Returns (ids, curie, name, category).

    ``model_factory`` may be a LIST of factories: the reference runs FIVE
    NER pipeline configs per sentence and folds their hits together
    (perform_NER.py:79-99, U1). Here each config is a parallel
    ``mapInPandas`` branch over the same sentences, unioned before
    alignment — the merge semantics (first-wins + longest-name upgrade)
    are identical because merge_longest_name is config-agnostic.

    ``linker_aliases`` (optional): an (id, name) concept-alias table —
    when given, unlinked detections route through the in-engine TF-IDF
    linker (:func:`link_entities_tfidf`) before alignment, the
    composition VERDICT r06 next #5 asks for: mention spotting (the
    model) and linking (relational TF-IDF ANN) become separate,
    independently testable stages."""
    sentences = prepare_sentences(records, text_col, id_cols)
    factories = (
        list(model_factory) if isinstance(model_factory, (list, tuple))
        else [model_factory]
    )
    detected = detect_entities(sentences, "sentence", id_cols, factories[0])
    for mf in factories[1:]:
        detected = detected.unionByName(
            detect_entities(sentences, "sentence", id_cols, mf)
        )
    if linker_aliases is not None:
        detected = link_entities_tfidf(
            detected, linker_aliases,
            threshold=linker_threshold, k=linker_k,
        )
    aligned = align_detected(detected, syn, id_cols)
    return merge_longest_name(aligned, id_cols, categories)
