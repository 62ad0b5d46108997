"""Skew smoke (SURVEY §5.6): one giant conversation among small ones —
the pipeline must complete with correct per-conv structure, the giant
conv's O(M²) pair generation included (AQE skew-join + explicit
repartition spread)."""

import pandas as pd

from information_extraction_from_biographies_spark import fixtures as fx
from information_extraction_from_biographies_spark.operators import (
    mentions,
    normalize,
    scan,
    stage2,
)


def _skewed_transcripts(spark, n_small=20, giant_reps=60):
    f = fx.make_fixture(n_convs=n_small, seed=7)
    t = f.transcripts
    giant_conv = t[t.conv_id == f.truths[0].conv_id]
    career = giant_conv[giant_conv.turn_idx.isin([1, 2])]
    reps = [giant_conv]
    for r in range(giant_reps):
        c = career.copy()
        c["turn_idx"] = c["turn_idx"] + 2 * (r + 1)
        reps.append(c)
    skewed = pd.concat([t[t.conv_id != f.truths[0].conv_id], *reps], ignore_index=True)
    return (
        spark.createDataFrame(
            skewed,
            schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
        ),
        f,
    )


def test_skewed_conv_completes_with_correct_structure(spark):
    tdf, f = _skewed_transcripts(spark)
    giant = f.truths[0].conv_id
    turns, meta = normalize.normalize(tdf)
    people, aliases = mentions.build_registry(*mentions.extract_people(turns, meta))
    index = scan.build_surface_index(mentions.registry_surfaces(people, aliases))
    cooc = stage2.cooc_scores(stage2.fused_scan_extract(turns, meta, index)).persist()

    per_conv = {r.conv_id: r.n for r in cooc.groupBy("conv_id").count().withColumnRenamed("count", "n").collect()}
    # giant conv produced pairs and didn't crash; small convs unaffected
    assert per_conv[giant] > 0
    small = [v for k, v in per_conv.items() if k != giant]
    assert len(small) == 19 and all(v > 0 for v in small)

    # repeated-mention scoring: the giant conv's repeated pairs still obey
    # the closed-form depreciation (score is finite and positive)
    giant_scores = [r.score for r in cooc.filter(cooc.conv_id == giant).collect()]
    assert all(s > 0 and s == s for s in giant_scores)  # no NaN/inf blowup
    cooc.unpersist()


def test_iter_key_groups_raises_on_non_contiguous_key():
    """grouped_map delivery-contract guard: a key recurring after its group closed
    (unsorted/mis-partitioned input) must raise, not silently fragment."""
    import pandas as pd
    import pytest

    from information_extraction_from_biographies_spark.functions.grouped import iter_key_groups

    def batches(frames):
        return iter([pd.DataFrame(f) for f in frames])

    # sorted input: fine, groups stay whole across batch boundaries
    ok = list(
        iter_key_groups(
            batches([
                {"conv_id": ["a", "a", "b"], "x": [1, 2, 3]},
                {"conv_id": ["b", "c"], "x": [4, 5]},
            ]),
            key="conv_id",
        )
    )
    assert [g["conv_id"].iloc[0] for g in ok] == ["a", "b", "c"]
    assert [len(g) for g in ok] == [2, 2, 1]

    # key 'a' recurs after 'b' closed it out -> fragmentation -> raise
    with pytest.raises(RuntimeError, match="recurred non-contiguously"):
        list(
            iter_key_groups(
                batches([
                    {"conv_id": ["a", "b"], "x": [1, 2]},
                    {"conv_id": ["a", "c"], "x": [3, 4]},
                ]),
                key="conv_id",
            )
        )


def test_cc_local_path_matches_distributed(spark):
    """The size-gated driver union-find and the iterative join loop agree
    exactly (component = minimum member) on random graphs, long chains,
    and string vertices."""
    import random

    from information_extraction_from_biographies_spark.operators.canonicalize import (
        connected_components,
    )

    rng = random.Random(9)
    edge_sets = [
        [(rng.randrange(120), rng.randrange(120)) for _ in range(150)],  # random
        [(i, i + 1) for i in range(80)],                                  # chain
        [],                                                               # empty
    ]
    for edges in edge_sets:
        df = spark.createDataFrame(edges or [(0, 0)], "src long, dst long")
        if not edges:
            df = df.filter("src > 0")  # truly empty with schema
        local = {
            (r["vertex"], r["component"])
            for r in connected_components(df).collect()
        }
        dist = {
            (r["vertex"], r["component"])
            for r in connected_components(df, local_threshold=0).collect()
        }
        assert local == dist
    # string vertices: python code-point order == spark binary order
    sdf = spark.createDataFrame(
        [("陳一", "林二"), ("林二", "abc"), ("x", "y")], "src string, dst string"
    )
    local = {tuple(r) for r in connected_components(sdf).collect()}
    dist = {tuple(r) for r in connected_components(sdf, local_threshold=0).collect()}
    assert local == dist


def test_range_partitioner_output_equals_hash_and_balances(spark):
    """grouped_map(partitioner='range') — the repartitionByRange skew
    control for long conversations: identical output to the hash path,
    and the partition holding the giant conversation stops also holding a
    hash share of the small ones (better row balance)."""
    from pyspark.sql import functions as F

    from information_extraction_from_biographies_spark.functions.grouped import (
        grouped_map,
    )

    tdf, _ = _skewed_transcripts(spark, n_small=20, giant_reps=200)

    def per_conv(pdf):
        return pd.DataFrame(
            {"conv_id": [pdf["conv_id"].iloc[0]], "n_turns": [len(pdf)]}
        )

    schema = "conv_id string, n_turns long"
    out_hash = {
        r.conv_id: r.n_turns
        for r in grouped_map(tdf, per_conv, schema, partitioner="hash").collect()
    }
    out_range = {
        r.conv_id: r.n_turns
        for r in grouped_map(tdf, per_conv, schema, partitioner="range").collect()
    }
    assert out_hash == out_range and len(out_range) == 20

    # balance: hash assigns each partition ~equal KEYS; range targets
    # ~equal ROWS. Under a pareto-ish conversation-length distribution
    # (the long-conversation shape) the hash partition that draws the
    # biggest conversation also draws its full key share of the rest,
    # while range packs the big conversation with little else. Probe the
    # two physical spreads on a synthetic key distribution directly —
    # needs many keys so the hash share concentrates (a 20-key table is
    # luck-dominated).
    parts = 8
    sizes = [max(10, 10000 // (k + 1)) for k in range(200)]  # 10000, 5000, ...
    rows = [(f"conv_{k:04d}", i) for k, n in enumerate(sizes) for i in range(n)]
    sdf = spark.createDataFrame(rows, "conv_id string, turn_idx int")
    total, biggest = len(rows), max(sizes)

    def max_part_rows(df):
        return (
            df.withColumn("pid", F.spark_partition_id())
            .groupBy("pid")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )

    mr = max_part_rows(sdf.repartitionByRange(parts, "conv_id"))
    mh = max_part_rows(sdf.repartition(parts, "conv_id"))
    # range: bounded by the unsplittable biggest key + ~one quantile step
    assert mr <= max(biggest, total / parts) + total / parts
    # hash: the biggest key's partition carries ~its key share on top —
    # materially worse than the range spread
    assert mh > mr

    # invalid partitioner rejected loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partitioner"):
        grouped_map(tdf, per_conv, schema, partitioner="sorted")


def test_max_conv_turns_caps_and_audits(spark, tmp_path):
    """Pipeline(max_conv_turns=N): output equals the pipeline over a
    pre-truncated input (turn_idx < N), and the stage0_turns lineage
    metrics audit the capped conversations — truncation is never silent."""
    from pyspark.sql import functions as F

    from information_extraction_from_biographies_spark.plans.pipeline import Pipeline

    tdf, f = _skewed_transcripts(spark, n_small=8, giant_reps=40)
    cap = 20

    def run(df, wh, **kw):
        pipe = Pipeline(spark, str(tmp_path / wh), snapshot_id="s", gram_index=False, **kw)
        res = pipe.run(df)
        return pipe, {
            (r.subj, r.pred, r.obj) for r in res.tables["triples"].collect()
        }

    capped_pipe, capped_tri = run(tdf, "capped", max_conv_turns=cap)
    _, manual_tri = run(tdf.filter(F.col("turn_idx") < cap), "manual")
    assert capped_tri == manual_tri

    m = capped_pipe.store.lineage("stage0_turns", "s")["metrics"]
    assert m["max_conv_turns"] == cap
    assert m["capped_convs"] == 1  # exactly the giant conversation

    # uncapped runs carry no truncation metrics
    plain_pipe, _ = run(tdf, "plain")
    assert "capped_convs" not in plain_pipe.store.lineage("stage0_turns", "s")["metrics"]


def test_pipeline_range_partitioner_end_to_end(spark, tmp_path):
    """Pipeline(group_partitioner='range') produces identical tables to
    the default hash spread (placement-only change)."""
    from information_extraction_from_biographies_spark.plans.pipeline import Pipeline

    f = fx.make_fixture(n_convs=8, seed=13)
    tdf = fx.transcripts_sdf(spark, f)

    def tri(wh, **kw):
        res = Pipeline(
            spark, str(tmp_path / wh), snapshot_id="s", gram_index=False, **kw
        ).run(tdf)
        return {(r.subj, r.pred, r.obj) for r in res.tables["triples"].collect()}

    assert tri("range", group_partitioner="range") == tri("hash")

    import pytest as _pytest

    with _pytest.raises(ValueError, match="group_partitioner"):
        Pipeline(spark, str(tmp_path / "bad"), group_partitioner="zip")


def test_iter_key_groups_keeps_null_key_rows():
    """Null group keys mirror Spark's applyInPandas semantics (a null-key
    group like any other) — pandas' default groupby(dropna=True) silently
    DISCARDED those rows, and the == boundary mask (never true for None)
    closed a null group mid-chunk and tripped the recurrence guard."""
    import pandas as pd

    from information_extraction_from_biographies_spark.functions.grouped import (
        iter_key_groups,
    )

    def batches(frames):
        return iter([pd.DataFrame(f) for f in frames])

    # nulls sort first in the partition order; the group spans a chunk
    got = list(
        iter_key_groups(
            batches([
                {"conv_id": [None, None], "x": [1, 2]},
                {"conv_id": [None, "a"], "x": [3, 4]},
                {"conv_id": ["a", "b"], "x": [5, 6]},
            ]),
            key="conv_id",
        )
    )
    keys = [g["conv_id"].iloc[0] for g in got]
    assert pd.isna(keys[0]) and keys[1:] == ["a", "b"]
    assert [len(g) for g in got] == [3, 2, 1]
    assert sorted(got[0]["x"]) == [1, 2, 3]  # no null-key row lost
