"""EP2: identifier alignment (look_for_identifiers.py:71-105; J8, A6, F7).

Second pipeline stage: for each drug record's bioentity/pathway fields,
align names via the synonymizer name path (J8) and bare ids (no ``:``)
via the identifier-regex sweep + full-text CURIE lookup (F7 → J1), then
merge hits into ``mechanistic_intermediate_nodes`` first-writer-wins
(A6): a curie already present (from the NER stage, or an earlier field)
is never overwritten.

The stored node info is always {name: preferred_name, category:
preferred_category} — identical regardless of which input found it — so
the only rank that can change output content is NER-vs-EP2 (NER stores
the entity SURFACE text as name). The engine makes the whole priority
chain explicit: rank 0 = NER nodes, 1 = name hits, 2 = id hits, with
field order (pathways..transporters) inside each rank — a deterministic
superset of the reference's insertion-order behavior.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from drugbankner_spark.functions.identifiers import (
    extract_identifier_candidates,
    is_curie,
)
from drugbankner_spark.operators.relational import first_writer_wins
from drugbankner_spark.operators.synonymizer import Synonymizer

#: Fields scanned for identifiers (CONSTANTS.py:21). 'reactions' never
#: exists in extracted records and 'pathways' has ids only (all carrying
#: ':' so they skip the regex path) — both faithful no-ops here.
IDENTIFIER_FIELDS = (
    "pathways", "reactions", "targets", "enzymes", "carriers", "transporters"
)

_BIOENTITY_FIELDS = ("targets", "enzymes", "carriers", "transporters")


def _field_rank(field: str) -> int:
    return IDENTIFIER_FIELDS.index(field)


def _field_entries(records: DataFrame, id_col: str, part: str, out: str) -> DataFrame:
    """(id_col, _field_rank, out): one row per entry of every bioentity
    field's ``part`` list — one inline and one explode over ``records``,
    not a branch per field (ARCHITECTURE §7o)."""
    return records.select(
        F.col(id_col),
        F.inline(F.array(*[
            F.struct(F.lit(_field_rank(f)).alias("_field_rank"),
                     F.col(f)[part].alias("_entries"))
            for f in _BIOENTITY_FIELDS
        ])),
    ).select(F.col(id_col), "_field_rank", F.explode("_entries").alias(out))


def align_names(records: DataFrame, syn: Synonymizer, id_col: str) -> DataFrame:
    """J8: explode every field's names list → name-path lookup.
    Output: (id_col, curie, name, category, rank) — name/category are the
    cluster's preferred values (unlike the NER stage's surface text)."""
    exploded = _field_entries(records, id_col, "names", "_name").filter(
        F.col("_name").isNotNull() & (F.col("_name") != "")
    )
    hit = syn.canonical_from_names(exploded, "_name").filter(
        F.col("preferred_curie").isNotNull()
    )
    return hit.select(
        F.col(id_col),
        F.col("preferred_curie").alias("curie"),
        F.col("preferred_name").alias("name"),
        F.col("preferred_category").alias("category"),
        F.lit(1).alias("_rank"),
        F.col("_field_rank"),
    )


def align_bare_ids(records: DataFrame, syn: Synonymizer, id_col: str) -> DataFrame:
    """F7 + J1: ids WITHOUT ':' run the 15-pattern regex sweep; any match
    contributes the FULL-text CURIE (prefix + ':' + id) which then goes
    down the CURIE path (find_curies_with_prefix,
    look_for_identifiers.py:19-38)."""
    bare = _field_entries(records, id_col, "ids", "_id").filter(
        F.col("_id").isNotNull() & ~is_curie(F.col("_id"))
    )
    candidates = extract_identifier_candidates(
        bare, "_id", [id_col, "_field_rank"]
    )
    hit = syn.canonical_from_curies(candidates, "candidate_curie").filter(
        F.col("preferred_curie").isNotNull()
    )
    return hit.select(
        F.col(id_col),
        F.col("preferred_curie").alias("curie"),
        F.col("preferred_name").alias("name"),
        F.col("preferred_category").alias("category"),
        F.lit(2).alias("_rank"),
        F.col("_field_rank"),
    )


def merge_mechanistic_nodes(
    ner_nodes: DataFrame, ep2_nodes: DataFrame, id_col: str
) -> DataFrame:
    """A6: union NER-found nodes (rank 0) with EP2 hits; per (drug, curie)
    the first writer wins in (rank, field, name) order."""
    ner_ranked = ner_nodes.select(
        F.col(id_col), "curie", "name", "category",
        F.lit(0).alias("_rank"), F.lit(-1).alias("_field_rank"),
    )
    merged = ner_ranked.unionByName(ep2_nodes)
    return first_writer_wins(
        merged, [id_col, "curie"], ["_rank", "_field_rank", "name"]
    ).select(id_col, "curie", "name", "category")
