"""Seeded transcript corpus and its golden triples.

Each conversation is one single-biography ``fixtures.make_fixture`` draw
with its career paragraphs repeated to reach a realistic turn count. The
layout is ``t0, t1, t2, (t1, t2) x career_reps, t3``, numbered densely from
0, so every ``(conv_id, turn_idx)`` key is unique and the kin paragraph
``t3`` stays the conversation's last turn.

Why not ``fixtures.make_scaled_transcripts(career_reps>0)``: it appends
the copies at ``turn_idx`` 3, 4, ... after ``t3``, so a copy reuses
``t3``'s key and the kin paragraph drops out of the last two paragraphs,
the only place spouse and children are read from
(``functions/extraction.py``). Measured on 2,000 conversations that layout
scores P = 1.0 but R = 0.63. The defect is in ``fixtures.py`` and is left
for a change to that module.

Goldens are ``fixtures.golden_triples`` minus self-loops: a
single-conversation fixture wires its collaborator and teacher to the
biographee itself, and the F7 filter (``functions/relations.py``) drops
subj == obj triples by design.
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

import pandas as pd

from information_extraction_from_biographies_spark import fixtures as fx

SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
_EPOCH = _dt.datetime(2020, 1, 1, tzinfo=_dt.timezone.utc)


@dataclass
class Corpus:
    transcripts: pd.DataFrame
    goldens: set[tuple[str, str, str]]

    @property
    def turns(self) -> int:
        return len(self.transcripts)


def golden_filter(triples) -> set[tuple[str, str, str]]:
    """Drop the subj == obj triples the engine's F7 filter removes."""
    return {t for t in triples if t[0] != t[2]}


def conversation(ordinal: int, seed: int, career_reps: int) -> tuple[list[dict], set]:
    """One conversation's turn rows and golden triples."""
    f = fx.make_fixture(
        n_convs=1,
        seed=seed + ordinal,
        # fixed width: a variable-width salt makes one alias a substring
        # of another conversation's alias
        alias_salt=f"之{ordinal:07d}",
        given_offset=(ordinal * 131 + seed * 17) % len(fx.GIVEN_NAMES),
        rich_aliases=False,
    )
    src = f.transcripts
    texts = list(src["text"])
    t0, t1, t2, t3 = texts
    ordered = [t0, t1, t2] + [t1, t2] * career_reps + [t3]
    conv_id = f"{src['conv_id'].iloc[0]}#{ordinal}"
    rows = [
        {
            "conv_id": conv_id,
            "turn_idx": i,
            "role": "user" if i % 2 == 0 else "assistant",
            "text": text,
            "tool": None,
            "ts": _EPOCH + _dt.timedelta(hours=ordinal, minutes=i),
        }
        for i, text in enumerate(ordered)
    ]
    return rows, golden_filter(fx.golden_triples(f))


def make_corpus(first: int, n_convs: int, seed: int, career_reps: int) -> Corpus:
    """Conversations ``first .. first + n_convs - 1`` of the seed's corpus.

    Raises if a ``(conv_id, turn_idx)`` key repeats."""
    rows: list[dict] = []
    goldens: set[tuple[str, str, str]] = set()
    for ordinal in range(first, first + n_convs):
        r, g = conversation(ordinal, seed, career_reps)
        rows.extend(r)
        goldens |= g
    df = pd.DataFrame(rows)
    check_unique_keys(df)
    return Corpus(df, goldens)


def check_unique_keys(df: pd.DataFrame) -> None:
    dup = df.duplicated(["conv_id", "turn_idx"])
    if dup.any():
        first = df.loc[dup, ["conv_id", "turn_idx"]].iloc[0].tolist()
        raise ValueError(f"corpus key repeats: {first}")


def union(a: Corpus, b: Corpus) -> Corpus:
    df = pd.concat([a.transcripts, b.transcripts], ignore_index=True)
    check_unique_keys(df)
    return Corpus(df, a.goldens | b.goldens)
