"""Stage 2 — the relational triple channels and the timeline kernel pass.

Four channels make up the stage-2 triple table, each a named `source`:

- kinship   — restore of the 親屬關係暫存 packing (J4, Relationship.py:24-33):
              pure relational — filter + split, no UDF (here).
- verb      — N5 rule cascade per conversation.
- born-in   — N7 hometown regex (Biographee_Info.py:22-28).
- vital     — N8 born-on / died-on / author triples from stage-0 meta
              (here).

The verb and born-in channels read the conversation text, so they run
inside the fused stage-2 pass (``stage2.fused_scan_extract``); the union
of all four is ``stage2.all_triples_fused``.

Timeline (N6) is a separate table (`timeline`), not a triple channel, as in
the reference. The pipeline's raw timeline comes from the fused pass;
``timeline_table`` here is the standalone pass that also offers the
concise (dependency-condensed) variant.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..functions.extraction import KIN_TEMP_TYPE
from ..functions.grouped import grouped_map, ordered_group
from ..functions.timeline import extract_timeline

_TIMELINE_SCHEMA = "conv_id string, year int, event string, start_pos int"


def kinship_triples(conv_aliases: DataFrame) -> DataFrame:
    """J4: (biographee, kinship, person) from packed alias tuples."""
    packed = conv_aliases.filter(F.col("alias_type") == KIN_TEMP_TYPE)
    return packed.select(
        "conv_id",
        F.split_part(F.col("alias"), F.lit(":"), F.lit(1)).alias("subj"),
        F.split_part(F.col("alias"), F.lit(":"), F.lit(2)).alias("pred"),
        F.col("name").alias("obj"),
        F.lit("kinship").alias("source"),
    )


def vital_triples(meta: DataFrame) -> DataFrame:
    """N8: born-on / died-on / author triples — pure column expressions."""
    base = meta.filter(F.col("biographee").isNotNull())
    born = base.filter(F.col("birth").isNotNull() & (F.col("birth") != "")).select(
        "conv_id",
        F.col("biographee").alias("subj"),
        F.lit("born-on").alias("pred"),
        F.col("birth").alias("obj"),
        F.lit("vital").alias("source"),
    )
    died = base.filter(F.col("death").isNotNull() & (F.col("death") != "")).select(
        "conv_id",
        F.col("biographee").alias("subj"),
        F.lit("died-on").alias("pred"),
        F.col("death").alias("obj"),
        F.lit("vital").alias("source"),
    )
    authored = (
        base.select("conv_id", "biographee", F.explode("authors").alias("author"))
        .select(
            "conv_id",
            F.col("biographee").alias("subj"),
            F.lit("author").alias("pred"),
            F.col("author").alias("obj"),
            F.lit("vital").alias("source"),
        )
    )
    return born.unionByName(died).unionByName(authored)


def timeline_table(
    turns: DataFrame, concise: bool = False, surfaces: list[str] | None = None
) -> DataFrame:
    """N6 — (conv_id, year, event, start_pos); A6 last-wins applied by the
    materialize stage with a window, not here. ``concise=True`` condenses
    each event through the dependency annotator (Get_Timeline.py:63-83;
    the reference emits both variants side by side).

    ``surfaces``: known person surfaces (registry names + aliases) for
    the concise annotator's lexicon, so person mentions segment as NR and
    nsubj/csubj condensation sees them as subjects — the reference's
    parse runs with its full vocabulary (Get_Timeline.py:66), so an empty
    lexicon here weakened condensation (round-2 ADVICE). The lexicon
    index is built lazily ONCE per deserialized task closure, not per
    conversation."""
    lex_holder: dict[str, dict] = {}

    def _tl(pdf: pd.DataFrame) -> pd.DataFrame:
        lex = None
        if concise and surfaces is not None:
            lex = lex_holder.get("lex")
            if lex is None:
                from ..functions.relations import build_lex_index

                lex = build_lex_index(surfaces)
                lex_holder["lex"] = lex
        conv_id = pdf["conv_id"].iloc[0]
        ordered = ordered_group(pdf)
        text = "\n\n".join(str(t) for t in ordered["norm_text"] if t is not None)
        rows = [
            (conv_id, y, e, s)
            for (y, e, s) in extract_timeline(text, concise=concise, lex_index=lex)
        ]
        return pd.DataFrame(rows, columns=["conv_id", "year", "event", "start_pos"])

    return grouped_map(
        turns.select("conv_id", "turn_idx", "norm_text"), _tl, _TIMELINE_SCHEMA
    )
