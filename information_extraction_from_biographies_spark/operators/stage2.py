"""Fused stage 2: ONE pass over each conversation's text computing the
mention scan (J1), verb-relation cascade (N5), hometown (N7), and timeline
(N6) together.

It also folds the A2-A4 co-occurrence scores. This is the only
implementation of those operators: one Python UDF boundary per
conversation instead of five. Rationale (measured on a 32-vCPU VM):
each grouped_map pass shuffles the full turn text (~600 B/turn); five
separate passes moved 5x the bytes and that VM is memory-bandwidth-bound
— fusing to one pass removed the per-conv (person, surface) join table
(1.4M rows at 20k convs) and its collect_list/broadcast machinery
entirely, since the worker-side automaton already knows every person's
surfaces (Relationship.py:53-59 semantics via
SurfaceIndex.person_surfaces). The per-conversation kernels
live in ``functions/`` (matcher, relations, extraction, timeline) and
``cooccurrence.conv_pair_scores``.

Output is a tagged union split by cheap filters downstream:
    kind='person'   → (a=person)                      repeatOK=False scan
    kind='occ'      → (pos, a=person, b=surface)      clause occurrences:
                      repeatOK=True, one row per (clause, person, surface)
                      containment (Utilities.py:49-67, Cooccurrence.py:35-53,
                      incl. the dropped-trailing-clause quirk)
    kind='triple'   → (a=subj, b=pred, c=obj, source) verb + born-in
    kind='timeline' → (year, a=event, start_pos)
    kind='cooc'     → (a=name1, b=name2, score)        A2/A3/A4 fold
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..functions.clauses import split_clauses_with_offsets
from ..functions.extraction import extract_hometown
from .cooccurrence import conv_pair_scores
from ..functions.grouped import grouped_map, ordered_group
from ..functions.matcher import SurfaceIndexHandle
from ..functions.relations import extract_relations_for_conv
from ..functions.timeline import extract_timeline

_COLS = [
    "conv_id", "kind", "pos", "a", "b", "c", "source", "year", "start_pos", "score",
]
_SCHEMA = (
    "conv_id string, kind string, pos int, a string, b string, c string, "
    "source string, year int, start_pos int, score double"
)


def fused_scan_extract(
    turns: DataFrame,
    meta: DataFrame | None,
    index: SurfaceIndexHandle,
    pre_partitioned: bool = False,
    partitioner: str = "hash",
    lexicons=None,
) -> DataFrame:
    """→ tagged-union DataFrame; see module docstring. Persist this and
    split with the accessors below.

    ``lexicons``: gazetteers.Lexicons for the N7 hometown place probe;
    None → built-in defaults (shipped in the closure, sub-MB).

    biographee rides the turn-0 row (stage-0 threading) — no turns↔meta
    join; ``meta`` is only the legacy fallback (normalize.with_biographee)."""
    from ..gazetteers import DEFAULT_LEXICONS

    lex = lexicons or DEFAULT_LEXICONS
    getter = index.worker_getter()

    def _go(pdf: pd.DataFrame) -> pd.DataFrame:
        idx = getter()
        conv_id = pdf["conv_id"].iloc[0]
        ordered = ordered_group(pdf)
        text = "\n\n".join(str(t) for t in ordered["norm_text"] if t is not None)
        bio_vals = [b for b in ordered["biographee"] if isinstance(b, str) and b]
        biographee = bio_vals[0] if bio_vals else None

        rows: list[tuple] = []
        # detection + per-clause occurrences in ONE automaton pass over
        # the conversation text (clause char offsets make the full-text
        # walk serve the isolated per-clause semantics exactly)
        clause_off = split_clauses_with_offsets(text)
        detected, clause_matches = idx.scan_text_clauses(
            text, [(s, s + len(c)) for c, _pos, s in clause_off]
        )
        for person in detected:
            rows.append((conv_id, "person", -1, person, None, None, None, None, None, None))
        positions_by_person: dict[str, list[int]] = {}
        for (_clause, pos, _s), matches in zip(clause_off, clause_matches):
            for person, surface, _k in matches:
                rows.append((conv_id, "occ", pos, person, surface, None, None, None, None, None))
                positions_by_person.setdefault(person, []).append(pos)
        # A3+A4+A2 fold per conversation — no pair shuffle (see cooccurrence)
        for n1, n2, score in conv_pair_scores(positions_by_person, biographee, detected):
            rows.append((conv_id, "cooc", None, n1, n2, None, None, None, None, score))
        if biographee is not None:
            person_surfaces = idx.person_surfaces()
            pairs = [(p, s) for p in detected for s in person_surfaces.get(p, [])]
            for s, p, o in sorted(set(extract_relations_for_conv(text, biographee, pairs))):
                rows.append((conv_id, "triple", None, s, p, o, "verb", None, None, None))
            place = extract_hometown(text, lex)
            if place is not None:
                rows.append(
                    (conv_id, "triple", None, biographee, "born-in", place, "born-in", None, None, None)
                )
        for year, event, start in extract_timeline(text):
            rows.append((conv_id, "timeline", None, event, None, None, None, year, start, None))
        return pd.DataFrame(rows, columns=_COLS)

    from .normalize import with_biographee

    enriched = with_biographee(turns, meta)
    return grouped_map(
        enriched,
        _go,
        _SCHEMA,
        pre_partitioned=pre_partitioned,
        partitioner=partitioner,
    )


# ------------------------------------------------------------- splitters
def mention_rows(fused: DataFrame) -> DataFrame:
    """(conv_id, kind∈{person, occ}, pos, person, surface)."""
    return fused.filter(F.col("kind").isin("person", "occ")).select(
        "conv_id", "kind", "pos", F.col("a").alias("person"), F.col("b").alias("surface")
    )


def text_triples(fused: DataFrame) -> DataFrame:
    """verb + born-in channels: (conv_id, subj, pred, obj, source)."""
    return fused.filter(F.col("kind") == "triple").select(
        "conv_id",
        F.col("a").alias("subj"),
        F.col("b").alias("pred"),
        F.col("c").alias("obj"),
        "source",
    )


def timeline_rows(fused: DataFrame) -> DataFrame:
    """(conv_id, year, event, start_pos) — triples.timeline_table's shape."""
    return fused.filter(F.col("kind") == "timeline").select(
        "conv_id", "year", F.col("a").alias("event"), "start_pos"
    )


def cooc_scores(fused: DataFrame) -> DataFrame:
    """(conv_id, name1, name2, score), name1 < name2."""
    return fused.filter(F.col("kind") == "cooc").select(
        "conv_id", F.col("a").alias("name1"), F.col("b").alias("name2"), "score"
    )


def all_triples_fused(fused: DataFrame, conv_aliases: DataFrame, meta: DataFrame) -> DataFrame:
    """kinship ∪ (verb + born-in) ∪ vital — the full stage-2 triple table."""
    from . import triples as tr

    return (
        tr.kinship_triples(conv_aliases)
        .unionByName(text_triples(fused))
        .unionByName(tr.vital_triples(meta))
    )
