"""Frozen EP1/EP2 pipeline intermediates (FIXTURES.md B4) for oracle
parity of the flagship NER pipelines.

The only non-SQL-expressible stage of EP1/EP2 is stub-NER detection
(X1, a ``mapInPandas`` UDTF). The stub model is deterministic, so its
output over the mini DrugBank XML is frozen here as literal rows; the
DuckDB oracles for ``ep1_mechanistic_nodes`` / ``ep2_aligned_nodes``
start from these rows (as VALUES relations) and re-express the entire
downstream relational assembly — J7 canonicalization + A2/A6/U1 merges
(perform_NER.py:119-134) and J8 + F7 + A6 (look_for_identifiers.py:
86-105) — in ANSI SQL. A drift test (tests/test_pipelines.py) regenerates
both fixtures live through the real operators and asserts set equality,
so the frozen rows can never silently diverge from the pipeline.

``EP1_LEXICON`` is the single source of truth for the stub model's
surface→kb mapping (previously inline in ``__spark_entry__``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: Stub-NER lexicon: surface text -> kb curies ([] = detected-but-unlinked).
EP1_LEXICON: dict[str, list[str]] = {
    "treats headache": ["UMLS:600"],
    "headache": ["UMLS:600"],
    "fever": [],
    "cyclooxygenase": ["GO:0815"],
    "hepatic metabolism": ["MESH:300"],
    "aspirin": ["RXNORM:400"],
    "ecotrin": [],
}

#: Second stub config (VERDICT r03 next #8): the reference runs FIVE NER
#: configs per sentence and folds the hits (perform_NER.py:79-99, U1);
#: the driver EP1 query unions this config with EP1_LEXICON so the
#: multi-config merge is exercised at hash grade. The overlap is
#: deliberate: "hepatic metabolism with token" is a LONGER surface for
#: MESH:300 than config 1's "hepatic metabolism", so the cross-config
#: longest-name upgrade (A2) VISIBLY changes the EP1 output row;
#: "inhibits cyclooxygenase" hits a curie the synonymizer doesn't know
#: (GO:0815 is absent from the fixture), exercising the aligned-to-
#: nothing drop path; "reduces fever" is detected-but-unlinked.
EP1_LEXICON_ALT: dict[str, list[str]] = {
    "inhibits cyclooxygenase": ["GO:0815"],
    "hepatic metabolism with token": ["MESH:300"],
    "reduces fever": [],
}

MINI_XML = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "fixtures", "mini_drugbank.xml",
)

DETECTED_COLS = ["kg2_id", "sentence", "entity_text", "kb_id"]

#: Frozen output of X1 (stub detection) over the mechanistic-branch
#: sentences of the mini XML — regenerate with
#: ``python -m drugbankner_spark.fixtures_ner``.
DETECTED_ROWS: list[tuple] = [
    ("CHEBI:100", "\n Hepatic metabolism with token inside",
     "hepatic metabolism", "MESH:300"),
    ("CHEBI:100", "\n Inhibits cyclooxygenase irreversibly acetylating "
     "serine-530 residues thereof", "cyclooxygenase", "GO:0815"),
    ("CHEBI:100", "\n Treats headache", "headache", "UMLS:600"),
    ("CHEBI:100", "\n Treats headache", "treats headache", "UMLS:600"),
    ("CHEBI:100", " Also reduces fever in adults and children over twelve",
     "fever", None),
    ("CHEBI:100", "A classic drug  with history", None, None),
]

#: Frozen output of the SECOND stub config (EP1_LEXICON_ALT) over the
#: same sentences — the multi-config union's other branch. Regenerate
#: with ``python -m drugbankner_spark.fixtures_ner``.
DETECTED_ROWS_ALT: list[tuple] = [
    ("CHEBI:100", "\n Hepatic metabolism with token inside",
     "hepatic metabolism with token", "MESH:300"),
    ("CHEBI:100", "\n Inhibits cyclooxygenase irreversibly acetylating "
     "serine-530 residues thereof", "inhibits cyclooxygenase", "GO:0815"),
    ("CHEBI:100", "\n Treats headache", None, None),
    ("CHEBI:100", " Also reduces fever in adults and children over twelve",
     "reduces fever", None),
    ("CHEBI:100", "A classic drug  with history", None, None),
]

BIOENTITY_COLS = ["kg2_id", "field_rank", "kind", "value"]

#: Frozen bioentity explosion of the mini-XML drug records (EP2 inputs):
#: one row per (drug, field, names|ids entry), field_rank per
#: alignment.IDENTIFIER_FIELDS order.
BIOENTITY_ROWS: list[tuple] = [
    ("CHEBI:100", 2, "id", "BE0001"),
    ("CHEBI:100", 2, "id", "BE0002"),
    ("CHEBI:100", 2, "id", "BE0003"),
    ("CHEBI:100", 2, "id", "P23219"),
    ("CHEBI:100", 2, "id", "P35354"),
    ("CHEBI:100", 2, "name", "COX-1"),
    ("CHEBI:100", 2, "name", "NF-kB"),
    ("CHEBI:100", 2, "name", "PTGS1"),
    ("CHEBI:100", 2, "name", "PTGS2"),
    ("CHEBI:100", 2, "name", "Prostaglandin G/H synthase 1"),
    ("CHEBI:100", 2, "name", "Prostaglandin G/H synthase 2"),
    ("CHEBI:100", 2, "name", "head ache"),
    ("CHEBI:100", 3, "id", "BE0100"),
    ("CHEBI:100", 3, "id", "P11712"),
    ("CHEBI:100", 3, "name", "CYP2C9"),
    ("CHEBI:100", 3, "name", "Cytochrome P450 2C9"),
    ("CHEBI:100", 4, "id", "BE0300"),
    ("CHEBI:100", 4, "name", "Ecotrin"),
    ("CHEBI:100", 5, "id", "42"),
    ("CHEBI:100", 5, "name", "Answer transporter"),
    ("DRUGBANK:42", 4, "id", "BE0200"),
    ("DRUGBANK:42", 4, "id", "P02768"),
    ("DRUGBANK:42", 4, "name", "ALB"),
    ("DRUGBANK:42", 4, "name", "Albumin"),
    ("DRUGBANK:42", 4, "name", "Serum albumin"),
]


# --------------------------------------------------------------------------
# Live regeneration (the drift-test twins of the frozen literals).
# --------------------------------------------------------------------------

def _mini_records(spark: SparkSession):
    from drugbankner_spark.fixtures import mini_synonymizer_frames
    from drugbankner_spark.operators.drugbank import extract_drug_records
    from drugbankner_spark.operators.synonymizer import Synonymizer
    from drugbankner_spark.sources.xml_source import (
        normalize_drugs,
        read_drugbank_xml,
    )

    nodes, clusters, edges = mini_synonymizer_frames(spark)
    syn = Synonymizer(nodes, clusters, edges)
    records = extract_drug_records(
        normalize_drugs(read_drugbank_xml(spark, MINI_XML)), syn
    )
    return records, syn


def live_detected(
    spark: SparkSession, lexicon: dict[str, list[str]] | None = None
) -> DataFrame:
    """Re-run sentence prep + stub detection over the mini XML through the
    real operators (the exact path run_ep1's mechanistic branch takes).
    ``lexicon`` selects the stub config (default: EP1_LEXICON)."""
    from drugbankner_spark import pipelines as P
    from drugbankner_spark.operators import ner as NER

    records, _ = _mini_records(spark)
    sentences = NER.prepare_sentences(records, P.mechanistic_text(), ["kg2_id"])
    return NER.detect_entities(
        sentences, "sentence", ["kg2_id"],
        NER.make_stub_model_factory(lexicon or EP1_LEXICON),
    ).select(*DETECTED_COLS)


def live_bioentities(spark: SparkSession) -> DataFrame:
    """Exploded (kg2_id, field_rank, kind, value) over the record's
    bioentity names/ids arrays — the EP2 alignment inputs
    (look_for_identifiers.py:74-97)."""
    from pyspark.sql import functions as F

    from drugbankner_spark.operators.alignment import _field_entries

    records, _ = _mini_records(spark)
    names, ids = (
        _field_entries(records, "kg2_id", kind + "s", "value").select(
            "kg2_id", F.col("_field_rank").alias("field_rank"),
            F.lit(kind).alias("kind"), "value",
        )
        for kind in ("name", "id")
    )
    return names.unionByName(ids).filter(
        F.col("value").isNotNull() & (F.col("value") != "")
    ).select(*BIOENTITY_COLS)


# --------------------------------------------------------------------------
# VALUES emitters for the DuckDB oracles.
# --------------------------------------------------------------------------

def _q(v) -> str:
    if v is None:
        return "CAST(NULL AS VARCHAR)"
    if isinstance(v, int):
        return str(v)
    return "'" + str(v).replace("'", "''") + "'"


def _values_sql(rows: list[tuple], cols: list[str]) -> str:
    body = ", ".join("(" + ", ".join(_q(v) for v in r) + ")" for r in rows)
    return f"(SELECT * FROM (VALUES {body}) AS t({', '.join(cols)}))"


def detected_values_sql() -> str:
    """Union of BOTH configs' frozen detections — the EP1/EP2 oracles
    start from the same multi-config detected set the pipeline unions
    (U1), so the hash checks the cross-config merge too."""
    return _values_sql(DETECTED_ROWS + DETECTED_ROWS_ALT, DETECTED_COLS)


def bioentities_values_sql() -> str:
    return _values_sql(BIOENTITY_ROWS, BIOENTITY_COLS)


def _regen() -> None:  # pragma: no cover — fixture maintenance tool
    """Print the frozen literals from a live run (paste into this file)."""
    from drugbankner_spark.session import get_spark

    spark = get_spark("fixtures-ner-regen")
    det = sorted(
        tuple(r) for r in live_detected(spark).collect()
    )
    det_alt = sorted(
        tuple(r) for r in live_detected(spark, EP1_LEXICON_ALT).collect()
    )
    bio = sorted(tuple(r) for r in live_bioentities(spark).collect())
    print("DETECTED_ROWS: list[tuple] = [")
    for r in det:
        print(f"    {r!r},")
    print("]")
    print("DETECTED_ROWS_ALT: list[tuple] = [")
    for r in det_alt:
        print(f"    {r!r},")
    print("]")
    print("BIOENTITY_ROWS: list[tuple] = [")
    for r in bio:
        print(f"    {r!r},")
    print("]")


if __name__ == "__main__":  # pragma: no cover
    _regen()
