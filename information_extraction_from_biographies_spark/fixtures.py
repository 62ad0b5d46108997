"""Deterministic synthetic fixture generator (FIXTURES.md).

Produces the ``transcripts`` input table (conv_id, turn_idx, role, text,
tool, ts) in the reference's biographical textual idiom, plus *generation-
time ground truth*: expected triples / timeline / entity components derived
from the templates themselves (never from extraction code), so the parity
gate (P/R ≥ 0.95, BASELINE.json) compares the engine against independent
truth.

One conversation ≙ one biography; one turn ≙ one paragraph (the reference's
"\\n\\n"-delimited unit, ``Preprocess.py:125-131``). conv_id mirrors the
reference's natural file key ``{Book}-{StartPage}-{Name}``
(``Preprocess.py:184``). Seeded and wall-clock-free.

Collision design: given names are drawn from GIVEN_A × GIVEN_B where both
char pools are disjoint from every surname, kinship keyword, place name,
style name, lexicon word, and template literal — so a surface (name/alias)
occurs in text exactly where a template wrote it, making template-derived
goldens exact.
"""

from __future__ import annotations

import datetime as _dt
import itertools
from dataclasses import dataclass, field

import pandas as pd

from .gazetteers import CHINESE_SURNAMES, MAINLAND_PLACES, TAIWAN_PLACES

# char pools — see module docstring for the disjointness contract
GIVEN_A = "泗澤煥銘璋瑞麟鳳祥鴻燦霖彬嶽崑棠荃璟瑄琮"
GIVEN_B = "治平寧順隆盛興旺達昇謀靖恆毅嵐晏彥赫"
GIVEN_NAMES = ["".join(p) for p in itertools.product(GIVEN_A, GIVEN_B)]

# 字 pool (one per conversation) and 號 pool — disjoint from each other so
# alias sharing happens only where the generator wires it.
STYLE_NAMES = [
    "伯禹", "仲禮", "季寬", "梅村", "竹軒", "石泉", "雲亭", "守拙",
    "慕陶", "省齋", "劍秋", "聽濤", "介庵", "醒吾", "逸仙", "滄浪",
    "半山", "寄萍", "耘農", "樸庵", "靜觀", "曉峰", "枕流", "望雲",
]
HAO_NAMES = [
    "退思", "養浩", "樂山", "觀瀾", "抱朴", "歸愚", "潛夫", "拙庵",
    "晦翁", "訥言", "勉齋", "慎獨", "敬亭", "默存", "澹泊", "虛舟",
    "遯叟", "絜矩", "礪鋒", "涵碧", "漱玉", "緘默", "肅雍", "穆如",
]
ENGLISH_NAMES = [
    "Tan Su-tin", "Robert Lin", "William Smith", "Peter Chen", "Mary Wang",
    "John Kho", "George Yeh", "Paul Tsai", "Henry Liu", "Grace Hsu",
]
ORG_SUFFIXES = ["書局", "報社", "醫院", "商行", "學校", "公司"]

# Surnames usable for fixture people: single-char Chinese surnames that are
# not kinship characters (孫 is both — NER.py:463 would reject 孫X names).
FIXTURE_SURNAMES = [s for s in CHINESE_SURNAMES if len(s) == 1 and s != "孫"]
FIXTURE_PLACES = list(TAIWAN_PLACES[:12]) + list(MAINLAND_PLACES[:6])


@dataclass
class ConvTruth:
    """Generation-time ground truth for one conversation."""

    conv_id: str
    biographee: str
    english_name: str | None  # N8 group-1 value INCLUDING trailing ，(quirk)
    birth: str
    death: str
    hometown: str
    authors: list[str] = field(default_factory=list)
    style_aliases: list[tuple[str, str]] = field(default_factory=list)  # (type, alias)
    original_form_aliases: list[tuple[str, str]] = field(default_factory=list)  # (name, 原形)
    kin: list[tuple[str, str]] = field(default_factory=list)  # (kinship-pred, person)
    verb_triples: list[tuple[str, str, str]] = field(default_factory=list)
    timeline: dict[int, str] = field(default_factory=dict)
    # (person → surfaces) for every person whose mentions this conv's
    # templates place in its text; used by the co-occurrence simulator
    persons: dict[str, list[str]] = field(default_factory=dict)
    merged_with: str | None = None  # biographee sharing an alias (CC truth)


@dataclass
class Fixture:
    transcripts: pd.DataFrame
    truths: list[ConvTruth]
    registry: dict[str, list[str]]  # global person → surfaces (template truth)


class _NamePool:
    def __init__(self, offset: int = 0) -> None:
        rotated = GIVEN_NAMES[offset % len(GIVEN_NAMES):] + GIVEN_NAMES[: offset % len(GIVEN_NAMES)]
        self._givens = iter(rotated)
        self.used: set[str] = set()

    def given(self) -> str:
        try:
            return next(self._givens)
        except StopIteration:
            raise ValueError(
                "given-name pool exhausted — fixture supports ~30 convs per "
                "call; shard via make_scaled_transcripts for larger tables"
            ) from None

    def full(self, i: int) -> str:
        name = FIXTURE_SURNAMES[i % len(FIXTURE_SURNAMES)] + self.given()
        self.used.add(name)
        return name


def make_fixture(
    n_convs: int = 20,
    seed: int = 7,
    alias_salt: str = "",
    given_offset: int = 0,
    rich_aliases: bool = True,
) -> Fixture:
    """``alias_salt`` suffixes every 字/號 alias — the scaled generator uses
    it to keep alias surfaces unique across independently-generated convs
    (otherwise the 24-style pool becomes an artificial global hub).

    ``given_offset`` rotates the given-name pool so independently generated
    single-conv fixtures (the scaled generator) don't all draw the same
    given names — without it every conv shares every given name and the
    global registry degenerates into all-hub surfaces.

    ``rich_aliases=False`` renders children with full names (no bare-given
    原形 aliases): the scaled generator uses it because a 2-char bare given
    registered as an alias is a substring of every full name built from the
    same given, which at thousands of convs makes every mention ~500-way
    ambiguous — a generator artifact, not a property of the reference
    corpus (317 mostly-distinct names)."""
    if n_convs > len(STYLE_NAMES) and not alias_salt:
        raise ValueError("n_convs > style pool would alias-merge unrelated convs")
    pool = _NamePool(offset=given_offset)
    # biographee surnames rotate with an offset derived from the seed so
    # different seeds give different (still deterministic) entity sets.
    bios = [pool.full(seed + 3 * i) for i in range(n_convs)]
    rows: list[dict] = []
    truths: list[ConvTruth] = []
    registry: dict[str, list[str]] = {}
    epoch = _dt.datetime(2020, 1, 1, tzinfo=_dt.timezone.utc)

    def _reg(person: str, *surfaces: str) -> None:
        registry.setdefault(person, [person])
        for s in surfaces:
            if s not in registry[person]:
                registry[person].append(s)

    for i, bio in enumerate(bios):
        surname = bio[0]
        book = f"book{1 + i % 2}"
        page = 5 + 3 * i
        conv_id = f"{book}-{page}-{bio}"
        place = FIXTURE_PLACES[i % len(FIXTURE_PLACES)]
        place2 = FIXTURE_PLACES[(i + 5) % len(FIXTURE_PLACES)]
        a1 = STYLE_NAMES[i % len(STYLE_NAMES)] + alias_salt
        shared = i % 3 == 2
        a2 = (
            STYLE_NAMES[(i - 1) % len(STYLE_NAMES)] + alias_salt
            if shared
            else HAO_NAMES[i % len(HAO_NAMES)] + alias_salt
        )
        eng = ENGLISH_NAMES[i % len(ENGLISH_NAMES)] if i % 4 != 3 else None
        birth = f"{1880 + i}.0{1 + i % 9}.1{i % 10}"
        death = f"{1950 + i}.0{1 + (i + 3) % 9}.0{1 + i % 9}"

        father = pool.full(seed + 5 * i + 1)
        mother = pool.full(seed + 5 * i + 2)
        brother = pool.full(seed + 5 * i + 3)
        spouse = pool.full(seed + 5 * i + 4)
        grandpa = pool.full(seed + 5 * i + 5) if i % 5 == 0 else None
        c1_g, c2_g, c3_g = pool.given(), pool.given(), pool.given()
        c1, c2, c3 = surname + c1_g, surname + c2_g, surname + c3_g

        o1 = bios[(i + 1) % n_convs]
        o2 = pool.full(seed + 7 * i + 2)
        o3 = pool.full(seed + 7 * i + 4)
        o4 = bios[(i + 2) % n_convs]
        next_style = STYLE_NAMES[(i + 1) % len(STYLE_NAMES)] + alias_salt  # 字 of bios[i+1]

        era1, off1 = ("大正", 1911) if i % 2 == 0 else ("昭和", 1925)
        y1 = off1 + 1 + (i * 7) % 14
        n1 = y1 - off1
        y2 = 1941 + i % 8
        n2 = y2 - 1911
        y3 = y2 if i % 6 == 0 else 1951 + i % 8  # same-year → A6 last-wins
        n3 = y3 - 1911
        org1 = place + ORG_SUFFIXES[i % len(ORG_SUFFIXES)]
        org2 = place2 + ORG_SUFFIXES[(i + 2) % len(ORG_SUFFIXES)]
        authors = [pool.full(seed + 11 * i + 3), pool.full(seed + 11 * i + 6)] if i % 4 == 0 else []

        title = f"{bio}（{eng}，{birth}-{death}）" if eng else f"{bio}（{birth}-{death}）"
        author_part = f"（{'、'.join(authors)}撰）" if authors else ""
        grand_part = f"祖父{grandpa}，" if grandpa else ""
        t0 = (
            f"{title}{author_part}，{place}人，字{a1}，號{a2}。"
            f"父{father}是商人，母{mother}，{grand_part}大哥{brother}。"
        )
        t1 = f"{era1}{n1}年（{y1}），任職{org1}。與{o1}合作發表論文，時人稱{next_style}。"
        t2 = (
            f"民國{n2}年（{y2}），創辦{org2}。被{o2}推薦擔任校長，"
            f"因{o3}的推薦，恩師為{o4}。民國{n3}年（{y3}），當選會長。"
        )
        if rich_aliases:
            t3 = f"{bio}，娶{spouse}為妻，育有2子，{c1_g}、{c2_g}。長女{c3_g}，晚年定居{place2}。"
        else:
            t3 = f"{bio}，娶{spouse}為妻，育有2子，{c1}、{c2}。長女{c3}，晚年定居{place2}。"

        for turn_idx, text in enumerate([t0, t1, t2, t3]):
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": turn_idx,
                    "role": "user" if turn_idx % 2 == 0 else "assistant",
                    "text": text,
                    "tool": None,
                    "ts": epoch + _dt.timedelta(hours=i, minutes=turn_idx),
                }
            )

        _reg(bio, a1, a2)
        for p in (father, mother, brother, spouse, o2, o3):
            _reg(p)
        if grandpa:
            _reg(grandpa)
        if rich_aliases:
            _reg(c1, c1_g)
            _reg(c2, c2_g)
            _reg(c3, c3_g)
        else:
            _reg(c1)
            _reg(c2)
            _reg(c3)

        truths.append(
            ConvTruth(
                conv_id=conv_id,
                biographee=bio,
                english_name=(eng + "，") if eng else None,  # Preprocess.py:163-171 quirk
                birth=birth,
                death=death,
                hometown=place,
                authors=authors,
                style_aliases=[("字", a1), ("號", a2)],
                original_form_aliases=(
                    [(c1, c1_g), (c2, c2_g), (c3, c3_g)] if rich_aliases else []
                ),
                kin=[("父", father), ("母", mother), ("兄", brother), ("妻", spouse)]
                + ([("祖父", grandpa)] if grandpa else [])
                + [("兒子", c1), ("兒子", c2), ("女兒", c3)],
                verb_triples=[
                    (bio, "合作", o1),
                    (bio, "發表論文", o1),
                    (o2, "推薦", bio),
                    (bio, "擔任校長", o2),
                    (o3, "推薦", bio),
                    (bio, "恩師", o4),
                ],
                timeline={},  # filled below in text order (overwrite = last-wins)
                merged_with=bios[i - 1] if shared else None,
            )
        )
        tl = truths[-1].timeline
        tl[y1] = f"任職{org1}"
        tl[y2] = f"創辦{org2}"
        tl[y3] = "當選會長"

    return Fixture(transcripts=pd.DataFrame(rows), truths=truths, registry=registry)


# ----------------------------------------------------------- goldens -----
def golden_triples(fx: Fixture) -> set[tuple[str, str, str]]:
    """Template-derived expected (subj, pred, obj) set — kinship, verb,
    born-in, born-on/died-on, author channels."""
    out: set[tuple[str, str, str]] = set()
    for t in fx.truths:
        for pred, person in t.kin:
            out.add((t.biographee, pred, person))
        out.update(t.verb_triples)
        out.add((t.biographee, "born-in", t.hometown))
        out.add((t.biographee, "born-on", t.birth))
        out.add((t.biographee, "died-on", t.death))
        for au in t.authors:
            out.add((t.biographee, "author", au))
    return out


def golden_timeline(fx: Fixture) -> set[tuple[str, int, str]]:
    return {(t.conv_id, y, e) for t in fx.truths for y, e in t.timeline.items()}


def golden_components(fx: Fixture) -> list[set[str]]:
    """Expected biographee partition under CC (shared-號 merges)."""
    merged: list[set[str]] = []
    seen: set[str] = set()
    for t in fx.truths:
        if t.biographee in seen:
            continue
        group = {t.biographee}
        if t.merged_with:
            group.add(t.merged_with)
        for other in fx.truths:
            if other.merged_with and other.merged_with in group:
                group.add(other.biographee)
        seen |= group
        merged.append(group)
    return merged


def transcripts_sdf(spark, fixture: Fixture | None = None, n_convs: int = 20, seed: int = 7):
    """Fixture transcripts as a Spark DataFrame with the input_hint schema."""
    fx = fixture or make_fixture(n_convs=n_convs, seed=seed)
    return spark.createDataFrame(
        fx.transcripts,
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )


def scaled_fixture(ordinal: int, seed: int = 11) -> Fixture:
    """The single-conversation fixture ``make_scaled_transcripts`` renders
    as conversation ``ordinal`` (its truths are that conversation's
    goldens)."""
    # fixed-width salt: variable-width ordinals made alias "X之3" a
    # substring of "X之363"'s text, inflating every mention scan with
    # false cross-conv hits
    return make_fixture(
        n_convs=1,
        seed=seed + ordinal % 997,
        alias_salt=f"之{ordinal:06d}",
        given_offset=(ordinal * 131) % len(GIVEN_NAMES),
        rich_aliases=False,
    )


def make_scaled_transcripts(
    spark,
    n_convs: int = 2000,
    seed: int = 11,
    skew: bool = False,
    career_reps: int = 0,
):
    """Large deterministic transcript table for bench/skew runs, generated
    distributed (mapInPandas over a range — the same mechanism generates
    10^9 rows on a cluster; no driver-side loop).

    ``career_reps`` inserts that many extra copies of the two career turns
    per conversation between the career turns and the kin turn — raises
    per-conversation text volume so benchmark runs are compute-bound
    rather than overhead-bound, without changing the entity structure.
    The layout is ``t0, t1, t2, (t1, t2) x reps, t3`` numbered densely from
    0: every (conv_id, turn_idx) key is unique and the kin turn stays last,
    inside the final two paragraphs that spouse/children are read from."""

    def _gen(pdf_iter):
        for pdf in pdf_iter:
            out = []
            for ordinal in pdf["id"]:
                fx = scaled_fixture(int(ordinal), seed)
                t = fx.transcripts.copy()
                t["conv_id"] = t["conv_id"] + f"#{int(ordinal)}"
                reps_here = 2500 if (skew and int(ordinal) == 0) else career_reps
                if reps_here:
                    career = t[t.turn_idx.isin([1, 2])]
                    kin = t[t.turn_idx == 3].copy()
                    reps = [t[t.turn_idx < 3]]
                    for r in range(reps_here):
                        c = career.copy()
                        c["turn_idx"] = c["turn_idx"] + 2 * (r + 1)
                        reps.append(c)
                    kin["turn_idx"] = 3 + 2 * reps_here
                    t = pd.concat(reps + [kin], ignore_index=True)
                out.append(t)
            yield pd.concat(out, ignore_index=True)

    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    return spark.range(n_convs).repartition(64).mapInPandas(_gen, schema=schema)
