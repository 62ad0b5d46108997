"""Degenerate-input probes: the pipeline must not crash on inputs that
don't look like biographies — empty tables, agent/tool transcripts with
no biography idiom, sparse turn indices, null text."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F  # noqa: N812

from information_extraction_from_biographies_spark.plans.pipeline import Pipeline

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _run(spark, rows):
    tdf = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    return Pipeline(spark, tempfile.mkdtemp(), snapshot_id="probe").run(tdf)


def test_empty_transcripts_table(spark):
    res = _run(spark, [])
    assert res.tables["triples"].count() == 0
    assert res.tables["nodes"].count() == 0
    assert res.tables["timeline"].count() == 0


def test_agent_shaped_transcripts_no_biography_idiom(spark):
    """Tool-call transcripts (English, tool column set, no biography
    structure) must pass through with zero triples and zero mentions."""
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        ("agent-1", 0, "user", "Search for flights to Berlin", None, ts),
        ("agent-1", 1, "assistant", "Calling flight search", "search_flights", ts),
        ("agent-1", 2, "tool", '{"results": [1, 2, 3]}', "search_flights", ts),
        ("agent-1", 3, "assistant", "Found 3 flights.", None, ts),
    ]
    res = _run(spark, rows)
    assert res.tables["triples"].count() == 0
    assert res.tables["cooccurrence"].count() == 0
    # per-turn text equality still holds: every input turn is present
    assert res.tables["turns"].count() == 4
    assert res.tables["turns"].filter(F.col("text") != F.col("norm_text")).count() == 0


def test_sparse_turn_idx_and_null_text(spark):
    """Non-dense turn_idx with null text rows: ordering is by turn_idx
    value (W4), null text contributes nothing, nothing crashes."""
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        ("c-sparse", 0, "user", "陳大明（1901-1970）", None, ts),
        ("c-sparse", 7, "assistant", None, None, ts),
        ("c-sparse", 100, "user", "民國40年（1951），當選會長。", None, ts),
    ]
    res = _run(spark, rows)
    tl = res.tables["timeline"].collect()
    assert [(r["year"]) for r in tl] == [1951]
    assert res.tables["turns"].count() == 3


def test_pipeline_registry_via_file_matches_broadcast(spark, tmp_path, monkeypatch):
    """The registry-size rule picks the probe-dictionary path: below
    REGISTRY_VIA_FILE_ROWS committed registry rows the driver collects and
    broadcasts; at or above it the registry stays on parquet (the
    huge-registry path). Both must produce the identical triple set."""
    import os

    from information_extraction_from_biographies_spark import fixtures as fx
    from information_extraction_from_biographies_spark.plans import pipeline

    f = fx.make_fixture(n_convs=8, seed=21)
    tdf = fx.transcripts_sdf(spark, f)
    a = Pipeline(spark, str(tmp_path / "w1"), snapshot_id="a").run(tdf)
    monkeypatch.setattr(pipeline, "REGISTRY_VIA_FILE_ROWS", 1)
    b = Pipeline(spark, str(tmp_path / "w2"), snapshot_id="b").run(tdf)
    assert not os.path.exists(tmp_path / "w1" / "_registry")
    assert os.path.isdir(tmp_path / "w2" / "_registry" / "surfaces-b")
    tri_a = {(r.subj, r.pred, r.obj) for r in a.tables["triples"].collect()}
    tri_b = {(r.subj, r.pred, r.obj) for r in b.tables["triples"].collect()}
    assert tri_a == tri_b and len(tri_a) > 0


def test_pipeline_user_dict_channel_end_to_end(spark, tmp_path):
    """N1 through the full pipeline: a dictionary-only name (no trigger
    context, no kinship template) reaches the people registry and the
    mention scan when user_dict is supplied, and does not without it."""
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    rows = [
        ("c-dict", 0, "user", "陳大明（1901-1970）", None, ts),
        ("c-dict", 1, "user", "某日林俊傑抵達台北參訪。", None, ts),
    ]
    tdf = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)

    plain = Pipeline(spark, str(tmp_path / "w0"), snapshot_id="p").run(tdf)
    assert "林俊傑" not in {r["name"] for r in plain.tables["people"].collect()}

    with_dict = Pipeline(
        spark, str(tmp_path / "w1"), snapshot_id="d", user_dict=["林俊傑"]
    ).run(tdf)
    people = {r["name"] for r in with_dict.tables["people"].collect()}
    assert "林俊傑" in people
    mentions = {r["person"] for r in with_dict.tables["mentions"].collect()}
    assert "林俊傑" in mentions
