"""Stage 1 — mention/name extraction and the global people registry.

Per-conversation extraction (N2 rule NER ∪ N3 kinship ∪ filters F3-F5,
alias channels N4) runs as ONE applyInPandas over conv-grouped turns —
a single shuffle on conv_id (repartition-by-range keeps long conversations
spread). Registry assembly (U1/U2/U4 and the upsert-re-add quirk,
NER.py:542-561) is pure relational Spark: distinct / left_anti / union.

Scale notes: groups are single conversations (bounded); the O(N²)
substring dedup (F5) is per-conv. Registry dedup is a hash aggregate.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..functions.extraction import extract_names_from_conv
from ..functions.grouped import grouped_map, ordered_group

_EXTRACT_SCHEMA = "conv_id string, kind string, name string, alias_type string, alias string"


def conv_text_of(pdf: pd.DataFrame, col: str = "norm_text") -> str:
    """Paragraph-joined conversation text under stable turn ordering (W4)."""
    ordered = ordered_group(pdf)
    return "\n\n".join(str(t) for t in ordered[col] if t is not None)


def _make_extract_group(user_dict_index: dict | None, lex: "Lexicons"):
    def _extract_group(pdf: pd.DataFrame) -> pd.DataFrame:
        conv_id = pdf["conv_id"].iloc[0]
        text = conv_text_of(pdf)
        bio_vals = [b for b in pdf["biographee"] if isinstance(b, str) and b]
        biographee = bio_vals[0] if bio_vals else None
        names, alias_tuples = extract_names_from_conv(text, biographee, user_dict_index, lex)
        rows = [
            {"conv_id": conv_id, "kind": "name", "name": n, "alias_type": None, "alias": None}
            for n in sorted(names)
        ] + [
            {"conv_id": conv_id, "kind": "alias", "name": n, "alias_type": t, "alias": a}
            for (n, t, a) in sorted(alias_tuples)
        ]
        return pd.DataFrame(rows, columns=["conv_id", "kind", "name", "alias_type", "alias"])

    return _extract_group


def extract_people_combined(
    turns: DataFrame,
    meta: DataFrame | None = None,
    user_dict=None,
    pre_partitioned: bool = False,
    partitioner: str = "hash",
    lexicons=None,
) -> DataFrame:
    """One extraction pass → (conv_id, kind∈{name,alias}, name, alias_type,
    alias). Persist/materialize THIS when both splits are needed — the
    name/alias splits below are filters over the same lineage.

    ``user_dict``: iterable of known person names — the N1 dictionary-
    segmentation channel (jieba user dicts, NER.py:8-10). Indexed once on
    the driver and shipped in the UDF closure (dictionary scale is the
    reference's: thousands of entries, well under broadcast concern).

    ``lexicons``: gazetteers.Lexicons (surnames + places); None → the
    built-in defaults. Shipped in the closure like the user dict —
    full public scale (7.5k surnames / 2.7k places) is well under a
    megabyte pickled.

    biographee travels with the group on the turn-0 row (threaded by
    stage 0 — normalize.with_biographee): no turns↔meta join; ``meta`` is
    only consulted on legacy inputs missing the column."""
    from ..functions.extraction import build_name_dict_index
    from ..gazetteers import DEFAULT_LEXICONS

    from .normalize import with_biographee

    index = build_name_dict_index(user_dict) if user_dict else None
    enriched = with_biographee(turns, meta)
    return grouped_map(
        enriched,
        _make_extract_group(index, lexicons or DEFAULT_LEXICONS),
        _EXTRACT_SCHEMA,
        pre_partitioned=pre_partitioned,
        partitioner=partitioner,
    )


def split_extracted(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    conv_names = extracted.filter(F.col("kind") == "name").select("conv_id", "name")
    conv_aliases = extracted.filter(F.col("kind") == "alias").select(
        "conv_id", "name", "alias_type", "alias"
    )
    return conv_names, conv_aliases


def extract_people(
    turns: DataFrame, meta: DataFrame, user_dict=None, lexicons=None
) -> tuple[DataFrame, DataFrame]:
    """→ (conv_names, conv_aliases), both per-conversation.

    conv_names:   (conv_id, name)
    conv_aliases: (conv_id, name, alias_type, alias)
    """
    return split_extracted(
        extract_people_combined(turns, meta, user_dict=user_dict, lexicons=lexicons)
    )


def build_registry(conv_names: DataFrame, conv_aliases: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Global people registry (NER.py:542-561).

    people:  (name)                        — distinct canonical names
    aliases: (name, alias_type, alias)     — distinct alias tuples

    Semantics: names minus alias *values* (U4 left_anti, NER.py:543-544),
    then the alias-push upsert re-creates any person named in an alias
    tuple (find_and_modify(upsert=True), NER.py:556-561).
    """
    aliases = conv_aliases.select("name", "alias_type", "alias").distinct()
    people = people_from_bits(registry_bits(conv_names, conv_aliases))
    return people, aliases


def registry_bits(conv_names: DataFrame, conv_aliases: DataFrame) -> DataFrame:
    """→ (person, bits): the registry-membership flag aggregate underlying
    ``build_registry`` — bit 1 = appeared as an extracted name, bit 2 =
    named in an alias tuple, bit 4 = appeared as an alias VALUE.

    (names − alias_values) ∪ alias_tuple_names in ONE hash aggregate over
    a flag union instead of distinct + anti-join + union + distinct
    (6 shuffles → 1; this chain sits on the pipeline's critical path).

    bit_or is associative/idempotent, so bits tables from disjoint
    transcript slices merge exactly (``merge_registry_bits``) — the
    vocabulary-scale state that makes the registry incrementally
    maintainable without rescanning history (U4 is NOT monotone: a new
    alias value can evict a previously-registered name, so the filtered
    people table alone cannot be merged)."""
    cand = (
        conv_names.select(F.col("name").alias("person"), F.lit(1).alias("f"))
        .unionByName(conv_aliases.select(F.col("name").alias("person"), F.lit(2).alias("f")))
        .unionByName(
            conv_aliases.filter(F.col("alias").isNotNull()).select(
                F.col("alias").alias("person"), F.lit(4).alias("f")
            )
        )
    )
    return cand.groupBy("person").agg(F.bit_or("f").alias("bits"))


def merge_registry_bits(*bits_tables: DataFrame) -> DataFrame:
    """OR-merge (person, bits) tables from disjoint corpus slices — one
    hash aggregate over vocabulary-scale inputs."""
    merged = bits_tables[0]
    for t in bits_tables[1:]:
        merged = merged.unionByName(t)
    return merged.groupBy("person").agg(F.bit_or("bits").alias("bits"))


def people_from_bits(bits: DataFrame) -> DataFrame:
    """Apply the U4 + upsert-re-add membership rule (NER.py:542-561) to a
    (person, bits) table → (name)."""
    return (
        bits.filter(
            (F.col("bits").bitwiseAND(2) > 0)
            | ((F.col("bits").bitwiseAND(1) > 0) & (F.col("bits").bitwiseAND(4) == 0))
        )
        .select(F.col("person").alias("name"))
    )


def registry_surfaces(people: DataFrame, aliases: DataFrame) -> DataFrame:
    """(person, surface, kind): each person's canonical name plus every
    alias surface — the probe dictionary for the J1 mention scan."""
    name_rows = people.select(
        F.col("name").alias("person"), F.col("name").alias("surface"), F.lit("name").alias("kind")
    )
    alias_rows = aliases.select(
        F.col("name").alias("person"), F.col("alias").alias("surface"), F.col("alias_type").alias("kind")
    )
    return name_rows.unionByName(alias_rows).distinct()
