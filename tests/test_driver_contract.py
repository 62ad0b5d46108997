"""Driver contract: entry() and the four kg_* queries project one
checkpointed Pipeline.run over the 6-conversation fixture; their columns
and row counts are pinned."""

import pytest

import __spark_entry__ as driver

EXPECTED = {
    "kg_triples": (["conv_id", "subj", "pred", "obj", "source"], 102),
    "kg_cooccurrence": (["conv_id", "name1", "name2", "score"], 445),
    "kg_timeline": (["conv_id", "year", "event", "event_concise"], 17),
    "kg_entities": (["name", "entity_id", "matches_query"], 62),
    "entry": (["conv_id", "subj", "pred", "obj", "source"], 102),
}


@pytest.fixture(scope="module")
def kg_run(spark):
    """The one memoised pipeline run every query below projects."""
    return driver._kg_run(spark)


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_kg_query_columns_and_rows(spark, kg_run, name):
    if name == "entry":
        df = driver.entry(spark)
    else:
        df = driver.queries()[name](spark, "")
    assert driver._kg_run(spark) is kg_run
    cols, n = EXPECTED[name]
    assert df.columns == cols
    assert df.count() == n
