"""F9/X7/X8 — the interactive biographee-query path (Biographee_Info.py:36-114)
as a condition-string → Column predicate compiler.

Semantics preserved exactly:
- conditions are comma-conjoined: `出生 >= 1900.05, 死亡 < 1980, 家鄉 = 臺北`
- date compare is COMPONENTWISE on dotted y[.m[.d]] strings: equal
  components are skipped, the first differing component decides, and if
  every queried component is equal the result is relate(1,1) (True for
  >=, <=, =; False for >, <) — Biographee_Info.py:91-114
- missing/None attribute → row excluded; an unparsable row component the
  compare REACHES → excluded (the reference's int() failure,
  Biographee_Info.py:100-105); a row component the query asks for but the
  row simply doesn't have → treated as equal (zip-shortest,
  Biographee_Info.py:98 — '1900' passes `>= 1900.05`)
- hometown match is mutual containment (Biographee_Info.py:60-63)
- a condition matching NEITHER pattern is silently ignored (the
  reference's loop just moves on, Biographee_Info.py:39-63 — '出生>=
  1900' without the space filters nothing), and the date separator is an
  unescaped regex dot exactly as in Biographee_Info.py:40 ('1900X05'
  parses as year 1900, month 05). Both quirks are load-bearing parity.

Catalyst sees plain Column predicates, so the filter pushes down into the
scan (the reference loads the whole collection and filters in Python).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F  # noqa: N812

_OPS = {
    ">": lambda a, b: a > b,
    "<": lambda a, b: a < b,
    "=": lambda a, b: a == b,
    ">=": lambda a, b: a >= b,
    "<=": lambda a, b: a <= b,
}
_OP_ON_EQUAL = {">": False, "<": False, "=": True, ">=": True, "<=": True}

_DATE_COND = re.compile(r" ?(出生|死亡) (>=|<=|=|>|<) ((\d\d\d\d)(.(\d\d))?(.(\d\d))?) ?$")
_HOME_COND = re.compile(r" ?家鄉 = (\w+) ?$")


def componentwise_date_predicate(col: Column, op: str, year: int, month: int | None, day: int | None) -> Column:
    """Dotted-string componentwise compare as one Column expression."""
    parts = F.split(col, r"\.")
    # F.get (null out-of-bounds) + try_cast (null on malformed), NOT
    # element_at/cast: under Spark 4's default ANSI mode those RAISE on a
    # short array / an unparsable component — a single row like
    # '1900.ab' would fail the whole query instead of being excluded as
    # the reference's int() failure excludes it
    raw_m = F.get(parts, 1)
    raw_d = F.get(parts, 2)
    comp_y = F.get(parts, 0).try_cast("int")
    comp_m = raw_m.try_cast("int")
    comp_d = raw_d.try_cast("int")
    relate = _OPS[op]
    on_equal = F.lit(_OP_ON_EQUAL[op])

    result = on_equal  # every queried component equal → relate(1,1)
    # build inside-out: day, then month, then year — the outer equal-gates
    # reproduce the reference's early return at the first differing
    # component (an unparsable later component is only fatal if REACHED).
    # raw null = the row doesn't have the component (zip-shortest: equal);
    # raw present but cast-null = unparsable (int() failure: excluded) —
    # Biographee_Info.py:98-105.
    if day is not None:
        result = (
            F.when(raw_d.isNull(), on_equal)
            .when(comp_d.isNull(), F.lit(False))
            .when(comp_d != day, relate(comp_d, F.lit(day)))
            .otherwise(result)
        )
    if month is not None:
        result = (
            F.when(raw_m.isNull(), on_equal)
            .when(comp_m.isNull(), F.lit(False))
            .when(comp_m != month, relate(comp_m, F.lit(month)))
            .otherwise(result)
        )
    result = F.when(comp_y != year, relate(comp_y, F.lit(year))).otherwise(result)
    return col.isNotNull() & comp_y.isNotNull() & result


def compile_query(
    where: str,
    birth_col: str = "birth",
    death_col: str = "death",
    hometown_col: str = "hometown",
) -> Column:
    """Parse the reference's query string into one conjunctive predicate."""
    pred = F.lit(True)
    for condition in where.split(","):
        dm = _DATE_COND.match(condition)
        if dm is not None:
            attr = birth_col if dm.group(1) == "出生" else death_col
            year = int(dm.group(4))
            month = int(dm.group(6)) if dm.group(6) else None
            day = int(dm.group(8)) if dm.group(8) else None
            pred = pred & componentwise_date_predicate(F.col(attr), dm.group(2), year, month, day)
            continue
        hm = _HOME_COND.match(condition)
        if hm is not None:
            q = hm.group(1)
            pred = pred & (
                F.col(hometown_col).isNotNull()
                & (F.col(hometown_col).contains(q) | F.lit(q).contains(F.col(hometown_col)))
            )
    return pred


def query_biographees(meta: DataFrame, born_in_triples: DataFrame, where: str) -> DataFrame:
    """(name, birth, death, hometown) rows matching the query string —
    the reference's query() projection (Biographee_Info.py:65-66).
    ``born_in_triples``: the stage-2 triples with source 'born-in'."""
    home = born_in_triples.select(
        F.col("subj").alias("biographee"), F.col("obj").alias("hometown")
    ).distinct()
    enriched = meta.join(home, "biographee", "left").select(
        F.col("biographee").alias("name"),
        F.col("birth"),
        F.col("death"),
        F.col("hometown"),
    )
    return enriched.filter(compile_query(where, "birth", "death", "hometown"))
