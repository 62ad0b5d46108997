"""Incremental maintenance: a transcript delta applied to a committed base
snapshot must reproduce the batch pipeline's output over base ∪ delta
row-for-row (exact mode), including chained incremental snapshots and the
incremental connected-components path."""

import random

import pytest
from pyspark.sql import functions as F  # noqa: N812

from information_extraction_from_biographies_spark import fixtures as fx
from information_extraction_from_biographies_spark.operators import canonicalize, mentions
from information_extraction_from_biographies_spark.plans.incremental import (
    IncrementalPipeline,
    full_view,
)
from information_extraction_from_biographies_spark.plans.pipeline import Pipeline


def _split_convs(spark, fixture, cut):
    """Fixture transcripts split into (first-`cut`-convs, rest) by conv
    order of first appearance."""
    sdf = fx.transcripts_sdf(spark, fixture)
    conv_ids = [r["conv_id"] for r in sdf.select("conv_id").distinct().orderBy("conv_id").collect()]
    base_ids = set(conv_ids[:cut])
    base = sdf.filter(F.col("conv_id").isin(list(base_ids)))
    delta = sdf.filter(~F.col("conv_id").isin(list(base_ids)))
    return base, delta


def _rows(df, cols=None):
    cols = cols or df.columns
    out = []
    for r in df.select(*cols).collect():
        vals = []
        for c in cols:
            v = r[c]
            if isinstance(v, dict):
                v = tuple(sorted(v.items()))
            elif isinstance(v, float):
                v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


COMPARED = [
    "turns",
    "meta",
    "people",
    "aliases",
    "mentions",
    "triples",
    "entities",
    "nodes",
    "edges",
    "cooccurrence",
    "timeline",
]


def _assert_equal_results(inc_res, full_res):
    for t in COMPARED:
        assert _rows(inc_res.tables[t]) == _rows(full_res.tables[t]), f"table {t} diverged"


def test_incremental_matches_full_recompute(spark, tmp_path):
    fixture = fx.make_fixture(n_convs=18, seed=3)
    base_t, delta_t = _split_convs(spark, fixture, 12)

    Pipeline(spark, str(tmp_path / "inc"), snapshot_id="s1").run(base_t)
    inc = IncrementalPipeline(
        spark, str(tmp_path / "inc"), base_snapshot="s1", snapshot_id="s2"
    ).run(delta_t, rescan="exact")

    full = Pipeline(spark, str(tmp_path / "full"), snapshot_id="f1").run(
        fx.transcripts_sdf(spark, fixture)
    )
    _assert_equal_results(inc, full)


def test_rescan_set_contains_affected_history(spark, tmp_path):
    fixture = fx.make_fixture(n_convs=18, seed=3)
    base_t, delta_t = _split_convs(spark, fixture, 12)
    pipe = IncrementalPipeline(
        spark, str(tmp_path / "w"), base_snapshot="s1", snapshot_id="s2"
    )
    Pipeline(spark, str(tmp_path / "w"), snapshot_id="s1").run(base_t)
    pipe.run(delta_t, rescan="exact")
    excluded = {r["conv_id"] for r in pipe.store.read("excluded_convs", "s2").collect()}
    delta_ids = {r["conv_id"] for r in delta_t.select("conv_id").distinct().collect()}
    assert delta_ids <= excluded
    # at least one base conversation rescanned (shared 字/號 aliases create
    # probe tuples that appear in historical conversations' text)
    assert excluded - delta_ids, "no historical conversation was rescanned"
    # and NOT all of history (the rescan is targeted, not a full recompute)
    base_ids = {r["conv_id"] for r in base_t.select("conv_id").distinct().collect()}
    assert (excluded - delta_ids) < base_ids


def test_incremental_chain_matches_full(spark, tmp_path):
    fixture = fx.make_fixture(n_convs=18, seed=5)
    sdf = fx.transcripts_sdf(spark, fixture)
    ids = [r["conv_id"] for r in sdf.select("conv_id").distinct().orderBy("conv_id").collect()]
    s0, s1, s2 = set(ids[:10]), set(ids[10:14]), set(ids[14:])

    wh = str(tmp_path / "chain")
    Pipeline(spark, wh, snapshot_id="v1").run(sdf.filter(F.col("conv_id").isin(list(s0))))
    IncrementalPipeline(spark, wh, "v1", "v2").run(
        sdf.filter(F.col("conv_id").isin(list(s1))), rescan="exact"
    )
    inc = IncrementalPipeline(spark, wh, "v2", "v3").run(
        sdf.filter(F.col("conv_id").isin(list(s2))), rescan="exact"
    )
    full = Pipeline(spark, str(tmp_path / "full"), snapshot_id="f1").run(sdf)
    _assert_equal_results(inc, full)


def test_rescan_over_pre_threading_base_chain(spark, tmp_path):
    """A base chain whose stage0_turns predates biographee threading (no
    ``biographee`` column) is upgraded at the read boundary
    (_upgrade_legacy_turns): the rescanned historical conversations keep
    their hometown / relation-subject / biographee-prior outputs instead
    of silently losing them to allowMissingColumns NULLs, the
    mixed-schema chain resolves through full_view without a unionByName
    crash, and every table matches the batch recompute."""
    from information_extraction_from_biographies_spark.sources.checkpoint import (
        CheckpointStore,
    )

    fixture = fx.make_fixture(n_convs=18, seed=3)
    base_t, delta_t = _split_convs(spark, fixture, 12)
    wh = str(tmp_path / "w")
    Pipeline(spark, wh, snapshot_id="s1").run(base_t)

    # simulate the legacy commit: rewrite the base's stage0_turns snapshot
    # WITHOUT the threaded column (rows otherwise identical)
    import os
    import shutil

    store = CheckpointStore(spark, wh)
    legacy = store.read("stage0_turns", "s1").drop("biographee")
    schema, rows = legacy.schema, legacy.collect()
    shutil.rmtree(store._snapshot_dir("stage0_turns", "s1"))
    os.remove(store._lineage_path("stage0_turns", "s1"))
    store.commit(spark.createDataFrame(rows, schema), "stage0_turns", "s1")
    assert "biographee" not in store.read("stage0_turns", "s1").columns

    inc = IncrementalPipeline(spark, wh, base_snapshot="s1", snapshot_id="s2").run(
        delta_t, rescan="exact"
    )
    # the fixture split rescans at least one historical conversation
    excluded = {r["conv_id"] for r in store.read("excluded_convs", "s2").collect()}
    delta_ids = {r["conv_id"] for r in delta_t.select("conv_id").distinct().collect()}
    assert excluded - delta_ids, "no historical conversation was rescanned"

    full = Pipeline(spark, str(tmp_path / "full"), snapshot_id="f1").run(
        fx.transcripts_sdf(spark, fixture)
    )
    _assert_equal_results(inc, full)


def test_compaction_heals_pre_threading_chain(spark, tmp_path):
    """compact_snapshot over a chain with a legacy (pre-threading)
    stage0_turns member rewrites the FULL upgraded view — the compacted
    base carries the threaded ``biographee`` column natively, so the
    read-boundary upgrade retires and later deltas see one schema."""
    from information_extraction_from_biographies_spark.plans.incremental import (
        compact_snapshot,
    )
    from information_extraction_from_biographies_spark.sources.checkpoint import (
        CheckpointStore,
    )

    fixture = fx.make_fixture(n_convs=12, seed=11)
    base_t, delta_t = _split_convs(spark, fixture, 8)
    wh = str(tmp_path / "w")
    Pipeline(spark, wh, snapshot_id="s1").run(base_t)

    import os
    import shutil

    store = CheckpointStore(spark, wh)
    legacy = store.read("stage0_turns", "s1").drop("biographee")
    schema, rows = legacy.schema, legacy.collect()
    shutil.rmtree(store._snapshot_dir("stage0_turns", "s1"))
    os.remove(store._lineage_path("stage0_turns", "s1"))
    store.commit(spark.createDataFrame(rows, schema), "stage0_turns", "s1")

    IncrementalPipeline(spark, wh, base_snapshot="s1", snapshot_id="s2").run(
        delta_t, rescan="exact"
    )
    compact_snapshot(store, "s2", "c1")
    compacted = store.read("stage0_turns", "c1")
    assert "biographee" in compacted.columns
    # turn-0 rows carry the backfilled biographee, exactly the threaded shape
    n_bio = compacted.filter(
        (F.col("turn_idx") == 0) & F.col("biographee").isNotNull()
    ).count()
    assert n_bio == compacted.filter(F.col("turn_idx") == 0).count()
    # and the compacted triples still match the batch recompute
    full = Pipeline(spark, str(tmp_path / "full"), snapshot_id="f1").run(
        fx.transcripts_sdf(spark, fixture)
    )
    assert _rows(store.read("stage2_triples", "c1")) == _rows(
        full.tables["triples"]
    )


def test_incremental_resume_skips_committed(spark, tmp_path):
    fixture = fx.make_fixture(n_convs=10, seed=9)
    base_t, delta_t = _split_convs(spark, fixture, 7)
    wh = str(tmp_path / "w")
    Pipeline(spark, wh, snapshot_id="s1").run(base_t)
    first = IncrementalPipeline(spark, wh, "s1", "s2").run(delta_t)
    assert first.executed_stages and not first.skipped_stages
    again = IncrementalPipeline(spark, wh, "s1", "s2").run(delta_t)
    assert not again.executed_stages
    assert set(again.skipped_stages) == set(first.executed_stages)


def test_rescan_none_bounded_staleness(spark, tmp_path):
    """rescan='none' processes only the delta conversations; historical
    stage-2 rows are carried verbatim (bounded staleness, no history
    read)."""
    fixture = fx.make_fixture(n_convs=18, seed=3)
    base_t, delta_t = _split_convs(spark, fixture, 12)
    wh = str(tmp_path / "w")
    base_res = Pipeline(spark, wh, snapshot_id="s1").run(base_t)
    base_mentions = _rows(base_res.tables["mentions"])
    pipe = IncrementalPipeline(spark, wh, "s1", "s2")
    inc = pipe.run(delta_t, rescan="none")
    excluded = {r["conv_id"] for r in pipe.store.read("excluded_convs", "s2").collect()}
    delta_ids = {r["conv_id"] for r in delta_t.select("conv_id").distinct().collect()}
    assert excluded == delta_ids
    carried = _rows(
        inc.tables["mentions"].filter(~F.col("conv_id").isin(list(delta_ids)))
    )
    assert carried == base_mentions


def test_incremental_components_parity_random_graphs(spark):
    """incremental_components(prior, E2) == connected_components(E1 ∪ E2)
    over randomized graphs, including merges across old components, brand
    new vertices, and a new vertex becoming the component minimum."""
    rng = random.Random(17)
    for trial in range(4):
        n_old, n_new = 40, 25
        e1 = [
            (f"v{rng.randrange(n_old):03d}", f"v{rng.randrange(n_old):03d}")
            for _ in range(50)
        ]
        # new edges touch old vertices, fresh vertices, and an 'a*' vertex
        # that sorts below every old label
        e2 = [
            (f"v{rng.randrange(n_old):03d}", f"w{rng.randrange(n_new):03d}")
            for _ in range(20)
        ] + [
            (f"w{rng.randrange(n_new):03d}", f"w{rng.randrange(n_new):03d}")
            for _ in range(10)
        ] + [(f"a{trial}", f"v{rng.randrange(n_old):03d}")]
        df1 = spark.createDataFrame(e1, "src string, dst string")
        df2 = spark.createDataFrame(e2, "src string, dst string")
        prior = canonicalize.connected_components(df1)
        got = canonicalize.incremental_components(prior, df2)
        want = canonicalize.connected_components(df1.unionByName(df2))
        got_rows = {(r["vertex"], r["component"]) for r in got.collect()}
        want_rows = {(r["vertex"], r["component"]) for r in want.collect()}
        assert got_rows == want_rows, f"trial {trial} diverged"
        # every vertex labeled exactly once
        assert len({v for v, _ in got_rows}) == len(got_rows)


def test_incremental_components_untouched_components_keep_labels(spark):
    e1 = spark.createDataFrame(
        [("b", "c"), ("x", "y")], "src string, dst string"
    )
    e2 = spark.createDataFrame([("c", "d")], "src string, dst string")
    prior = canonicalize.connected_components(e1)
    got = {
        (r["vertex"], r["component"])
        for r in canonicalize.incremental_components(prior, e2).collect()
    }
    assert got == {
        ("b", "b"),
        ("c", "b"),
        ("d", "b"),
        ("x", "x"),
        ("y", "x"),
    }


def test_registry_bits_merge_associative(spark):
    fixture = fx.make_fixture(n_convs=12, seed=4)
    sdf = fx.transcripts_sdf(spark, fixture)
    from information_extraction_from_biographies_spark.operators import normalize

    turns, meta = normalize.normalize(sdf)
    names, aliases = mentions.extract_people(turns, meta)
    whole = mentions.registry_bits(names, aliases)

    ids = [r["conv_id"] for r in sdf.select("conv_id").distinct().collect()]
    half = set(ids[: len(ids) // 2])
    parts = [
        mentions.registry_bits(
            names.filter(F.col("conv_id").isin(list(half))),
            aliases.filter(F.col("conv_id").isin(list(half))),
        ),
        mentions.registry_bits(
            names.filter(~F.col("conv_id").isin(list(half))),
            aliases.filter(~F.col("conv_id").isin(list(half))),
        ),
    ]
    merged = mentions.merge_registry_bits(*parts)
    assert _rows(whole) == _rows(merged)
    # and the filtered registry matches build_registry
    p1 = _rows(mentions.people_from_bits(whole))
    p2, _ = mentions.build_registry(names, aliases)
    assert p1 == _rows(p2)


def test_full_view_resolves_chain(spark, tmp_path):
    fixture = fx.make_fixture(n_convs=12, seed=6)
    base_t, delta_t = _split_convs(spark, fixture, 8)
    wh = str(tmp_path / "w")
    Pipeline(spark, wh, snapshot_id="s1").run(base_t)
    pipe = IncrementalPipeline(spark, wh, "s1", "s2")
    pipe.run(delta_t)
    turns = full_view(pipe.store, "stage0_turns", "s2")
    want = {r["conv_id"] for r in fx.transcripts_sdf(spark, fixture).select("conv_id").distinct().collect()}
    got = {r["conv_id"] for r in turns.select("conv_id").distinct().collect()}
    assert got == want
    # no duplicated conversation rows across the chain
    n_turns = turns.count()
    assert n_turns == fx.transcripts_sdf(spark, fixture).count()


def test_full_view_plan_never_shuffles_history(spark, tmp_path):
    """The chain union's exclusion is a broadcast anti-join: the parent
    (history) side must not pass through an Exchange before the join."""
    fixture = fx.make_fixture(n_convs=10, seed=15)
    base_t, delta_t = _split_convs(spark, fixture, 7)
    wh = str(tmp_path / "w")
    Pipeline(spark, wh, snapshot_id="s1").run(base_t)
    pipe = IncrementalPipeline(spark, wh, "s1", "s2")
    pipe.run(delta_t, rescan="none")
    plan = (
        full_view(pipe.store, "stage0_turns", "s2")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_full_view_exclusion_degrades_to_shuffle_when_big(spark, tmp_path):
    """The exclusion anti-join carries NO F.broadcast hint: excluded_convs
    is affected-conversation-sized under rescan (a hot surface makes it
    O(history)), so the planner must be free to pick a shuffle join.
    Forcing the size estimate over budget (threshold=-1) must yield a
    non-broadcast plan — if someone re-adds the hint, this fails."""
    fixture = fx.make_fixture(n_convs=10, seed=15)
    base_t, delta_t = _split_convs(spark, fixture, 7)
    wh = str(tmp_path / "w")
    Pipeline(spark, wh, snapshot_id="s1").run(base_t)
    pipe = IncrementalPipeline(spark, wh, "s1", "s2")
    pipe.run(delta_t, rescan="none")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = (
            full_view(pipe.store, "stage0_turns", "s2")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "LeftAnti" in plan
        assert "BroadcastHashJoin" not in plan  # hint is gone; planner decides
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_rescan_via_file_matches_collect_path(spark, tmp_path):
    """rescan_via_file=True (workers read the changed-surface parquet
    themselves; no driver collect) produces the identical excluded set AND
    identical output tables to the default collect+broadcast path — the
    same escape-hatch contract the batch registry has
    (tests/test_scan_paths.py)."""
    fixture = fx.make_fixture(n_convs=18, seed=3)
    base_t, delta_t = _split_convs(spark, fixture, 12)

    whc, whf = str(tmp_path / "col"), str(tmp_path / "file")
    Pipeline(spark, whc, snapshot_id="s1").run(base_t)
    Pipeline(spark, whf, snapshot_id="s1").run(base_t)
    pc = IncrementalPipeline(spark, whc, "s1", "s2")
    pf = IncrementalPipeline(spark, whf, "s1", "s2", rescan_via_file=True)
    col = pc.run(delta_t, rescan="exact")
    fil = pf.run(delta_t, rescan="exact")
    # the changed-surface parquet really exists (the path was exercised)
    import os

    assert os.path.isdir(f"{whf}/_registry/changed-s2")
    exc_c = {r["conv_id"] for r in pc.store.read("excluded_convs", "s2").collect()}
    exc_f = {r["conv_id"] for r in pf.store.read("excluded_convs", "s2").collect()}
    assert exc_c == exc_f and exc_c
    _assert_equal_results(col, fil)


def test_incremental_bucketed_matches_full_recompute(spark, tmp_path):
    """End-to-end pin of the incremental BUCKETED path (explicit
    buckets=8: auto resolves plain at sandbox scale, so without this the
    pre_partitioned delta-extraction wiring would go untested): a
    bucketed base + bucketed delta reproduces the plain full recompute
    table-for-table, and the delta's turns snapshot really committed
    bucketed."""
    fixture = fx.make_fixture(n_convs=18, seed=3)
    base_t, delta_t = _split_convs(spark, fixture, 12)
    wh = str(tmp_path / "b")
    Pipeline(spark, wh, snapshot_id="s1", buckets=8).run(base_t)
    pipe = IncrementalPipeline(spark, wh, "s1", "s2", buckets=8)
    inc = pipe.run(delta_t, rescan="exact")
    assert pipe.store.lineage("stage0_turns", "s2")["bucketing"]["keys"] == ["conv_id"]

    full = Pipeline(spark, str(tmp_path / "f"), snapshot_id="f1", buckets=0).run(
        fx.transcripts_sdf(spark, fixture)
    )
    _assert_equal_results(inc, full)


def test_crash_before_completion_leaves_no_orphan_pointer(spark, tmp_path, monkeypatch):
    """The parent pointer is the snapshot's commit point, written only
    after every table lands: a run that dies mid-way leaves committed
    levels but NO chain metadata, so latest_snapshot never sees the
    half-built orphan and a retry under a NEW snapshot_id cannot trip
    the branched-chain guard (r4 ADVICE)."""
    from information_extraction_from_biographies_spark.plans.incremental import snapshot_parent
    from information_extraction_from_biographies_spark.sources.checkpoint import CheckpointStore
    from information_extraction_from_biographies_spark.streaming.ingest import latest_snapshot

    fixture = fx.make_fixture(n_convs=10, seed=21)
    base_t, delta_t = _split_convs(spark, fixture, 7)
    wh = str(tmp_path / "w")
    Pipeline(spark, wh, snapshot_id="s1").run(base_t)

    real_commit = CheckpointStore.commit
    real_partial = CheckpointStore.commit_partial

    def boom(self, df, table, snapshot_id, *a, **kw):
        if table == "timeline" and snapshot_id == "s2a":
            raise RuntimeError("injected mid-run crash")
        return real_commit(self, df, table, snapshot_id, *a, **kw)

    def boom_partial(self, df, table, snapshot_id, *a, **kw):
        if table == "timeline" and snapshot_id == "s2a":
            raise RuntimeError("injected mid-run crash")
        return real_partial(self, df, table, snapshot_id, *a, **kw)

    monkeypatch.setattr(CheckpointStore, "commit", boom)
    monkeypatch.setattr(CheckpointStore, "commit_partial", boom_partial)
    with pytest.raises(RuntimeError, match="injected"):
        IncrementalPipeline(spark, wh, "s1", "s2a").run(delta_t, rescan="none")
    monkeypatch.setattr(CheckpointStore, "commit", real_commit)
    monkeypatch.setattr(CheckpointStore, "commit_partial", real_partial)

    # no orphan: the crashed snapshot is invisible to chain resolution
    assert snapshot_parent(wh, "s2a") is None
    assert latest_snapshot(wh, "s1") == "s1"
    # a retry under a NEW id succeeds and becomes the chain tip
    IncrementalPipeline(spark, wh, "s1", "s2b").run(delta_t, rescan="none")
    assert latest_snapshot(wh, "s1") == "s2b"
    # ...and resuming the crashed id itself also completes (is_committed
    # skips the already-landed levels) and only then writes its pointer —
    # which now forks the chain, the case expire_branch resolves below
    IncrementalPipeline(spark, wh, "s1", "s2a").run(delta_t, rescan="none")
    assert snapshot_parent(wh, "s2a") == "s1"


def test_maintain_policy_picks_path_by_crossover(spark, tmp_path):
    """rebuild_if_cheaper (r4 verdict item 2): maintain() asks the
    crossover-fitted cost model which path is predicted cheaper and runs
    it — both paths reproducing the batch pipeline over base ∪ delta
    exactly (including a REPLACED conversation, which the rebuild must
    drop from history before unioning). The default model's decisions
    are separately pinned against the measured sweep cells below."""
    from information_extraction_from_biographies_spark.plans.incremental import (
        MaintenanceCostModel,
        maintain,
        snapshot_conv_count,
        snapshot_parent,
    )
    from information_extraction_from_biographies_spark.sources.checkpoint import (
        CheckpointStore,
    )

    fixture = fx.make_fixture(n_convs=20, seed=29)
    base_t, delta_t = _split_convs(spark, fixture, 16)
    sdf = fx.transcripts_sdf(spark, fixture)

    # a model that predicts incremental cheaper at toy scale (the default
    # model correctly never does below its ~10k-conv base knee)
    inc_model = MaintenanceCostModel(
        delta_floor_s=0.0, delta_per_base_conv_s=0.0, delta_per_delta_conv_s=0.0
    )

    # --- incremental branch: exact equality with the batch pipeline
    wh1 = str(tmp_path / "w1")
    Pipeline(spark, wh1, snapshot_id="s1").run(base_t)
    path, res = maintain(
        spark, wh1, "s1", "s2", delta_t, rescan="exact", cost_model=inc_model
    )
    assert path == "incremental"
    assert snapshot_parent(wh1, "s2") == "s1"
    full = Pipeline(spark, str(tmp_path / "full"), snapshot_id="f1").run(sdf)
    _assert_equal_results(res, full)

    # --- rebuild branch (default model, toy base = floor regime):
    # delta replays 6 base convs + the 4 new; one replaced conversation
    # gets NEW text, proving history rows drop before the union
    wh2 = str(tmp_path / "w2")
    Pipeline(spark, wh2, snapshot_id="s1").run(base_t)
    conv_ids = sorted(
        r["conv_id"] for r in base_t.select("conv_id").distinct().collect()
    )
    replay = base_t.filter(F.col("conv_id").isin(conv_ids[:6]))
    changed = replay.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == conv_ids[0]) & (F.col("turn_idx") == 1),
            F.concat(F.col("text"), F.lit("民國88年（1999），獲頒獎章。")),
        ).otherwise(F.col("text")),
    )
    big_delta = changed.unionByName(delta_t)
    path2, res2 = maintain(spark, wh2, "s1", "s2", big_delta, rescan="exact")
    assert path2 == "rebuild"
    assert snapshot_parent(wh2, "s2") is None  # a fresh batch root
    # reference: batch over history-minus-replaced ∪ delta
    ref_input = base_t.join(
        big_delta.select("conv_id").distinct(), "conv_id", "left_anti"
    ).unionByName(big_delta)
    ref = Pipeline(spark, str(tmp_path / "ref"), snapshot_id="r1").run(ref_input)
    _assert_equal_results(res2, ref)
    # the replaced conversation's new text actually landed
    got_tl = {
        (r.year, r.event)
        for r in res2.tables["timeline"].filter(
            F.col("conv_id") == conv_ids[0]
        ).collect()
    }
    assert (1999, "獲頒獎章") in got_tl

    # --- the commit floor: tiny base ⇒ rebuild even for a 1-conv delta
    wh3 = str(tmp_path / "w3")
    Pipeline(spark, wh3, snapshot_id="s1").run(base_t)
    one = delta_t.join(
        delta_t.select("conv_id").distinct().limit(1), "conv_id", "leftsemi"
    )
    path3, _res3 = maintain(spark, wh3, "s1", "s2", one)  # default model
    assert path3 == "rebuild"

    # --- force overrides the policy in both directions
    wh4 = str(tmp_path / "w4")
    Pipeline(spark, wh4, snapshot_id="s1").run(base_t)
    path4, _ = maintain(spark, wh4, "s1", "s2", one, force="incremental")
    assert path4 == "incremental"
    path5, _ = maintain(spark, wh4, "s2", "s3", one, force="rebuild")
    assert path5 == "rebuild"

    # --- the default model reproduces the measured sweep decisions
    # (BENCH/crossover.json): incremental above the base knee at any
    # delta fraction, rebuild below it
    m = MaintenanceCostModel()
    for base, delta, inc_wins in [
        (2978, 22, False),     # 3k base: floor regime, every fraction
        (2700, 300, False),
        (11880, 120, True),    # 12k @1% measured 1.45x
        (43282, 4718, True),   # 48k @10% measured 1.34x
        (24172, 23828, True),  # 48k @50% measured 1.01x
    ]:
        d_cost, r_cost = m.predict(base, delta)
        assert (d_cost < r_cost) == inc_wins, (base, delta, d_cost, r_cost)

    # conv counts resolve through the chain and cache in the sidecar
    store = CheckpointStore(spark, wh1)
    assert snapshot_conv_count(store, "s1") == 16
    assert snapshot_conv_count(store, "s2") == 20
    import os as _os

    assert _os.path.exists(f"{wh1}/_stats/s2.json")


def test_expire_branch_resolves_forked_chain(spark, tmp_path):
    """Two snapshots chained on one parent = ambiguous tip: the
    latest_snapshot guard raises and names expire_branch; expiring one
    branch restores resolution. Expiring a non-tip is refused."""
    from information_extraction_from_biographies_spark.plans.incremental import (
        expire_branch,
        snapshot_parent,
    )
    from information_extraction_from_biographies_spark.streaming.ingest import latest_snapshot

    fixture = fx.make_fixture(n_convs=12, seed=22)
    base_t, delta_t = _split_convs(spark, fixture, 8)
    wh = str(tmp_path / "w")
    Pipeline(spark, wh, snapshot_id="s1").run(base_t)
    IncrementalPipeline(spark, wh, "s1", "fork_a").run(delta_t, rescan="none")
    IncrementalPipeline(spark, wh, "s1", "fork_b").run(delta_t, rescan="none")
    with pytest.raises(ValueError, match="expire_branch"):
        latest_snapshot(wh, "s1")
    # a descendant pins its ancestor: s1 is not expirable
    with pytest.raises(ValueError, match="tip-first"):
        expire_branch(wh, "s1")
    assert expire_branch(wh, "fork_b") is True
    assert expire_branch(wh, "fork_b") is False  # already gone — idempotent
    assert latest_snapshot(wh, "s1") == "fork_a"
    assert snapshot_parent(wh, "fork_a") == "s1"


# ---------------------------------------------------------------------
# round-5 review hardening: crash-retry and torn-sidecar regressions
# ---------------------------------------------------------------------


def test_rescan_crash_resumed_under_none_keeps_history(spark, tmp_path, monkeypatch):
    """any_rescan gates on the COMMITTED excluded set, never this run's
    rescan argument: a crashed rescan='exact' attempt (which committed an
    affected-conv excluded_convs) retried under rescan='none' must still
    union the rescanned conversations' replacement rows — otherwise the
    full view anti-joins them out and silently deletes their stage-2
    history."""
    from information_extraction_from_biographies_spark.sources.checkpoint import (
        CheckpointStore,
    )

    # seed 3 is the affected-history fixture: the delta provably rescans
    # base conversations (test_rescan_set_contains_affected_history)
    fixture = fx.make_fixture(n_convs=18, seed=3)
    base_t, delta_t = _split_convs(spark, fixture, 12)
    wh = str(tmp_path / "w")
    Pipeline(spark, wh, snapshot_id="s1").run(base_t)

    real_commit = CheckpointStore.commit
    real_partial = CheckpointStore.commit_partial

    def boom(self, df, table, snapshot_id, *a, **kw):
        if table == "stage2_mentions" and snapshot_id == "s2":
            raise RuntimeError("injected crash after excluded_convs")
        return real_commit(self, df, table, snapshot_id, *a, **kw)

    def boom_partial(self, df, table, snapshot_id, *a, **kw):
        if table == "stage2_mentions" and snapshot_id == "s2":
            raise RuntimeError("injected crash after excluded_convs")
        return real_partial(self, df, table, snapshot_id, *a, **kw)

    monkeypatch.setattr(CheckpointStore, "commit", boom)
    monkeypatch.setattr(CheckpointStore, "commit_partial", boom_partial)
    with pytest.raises(RuntimeError, match="injected"):
        IncrementalPipeline(spark, wh, "s1", "s2").run(delta_t, rescan="exact")
    monkeypatch.setattr(CheckpointStore, "commit", real_commit)
    monkeypatch.setattr(CheckpointStore, "commit_partial", real_partial)

    # the crash state the fix targets: an affected-conv excluded set is
    # committed, stage-2 is not
    store = CheckpointStore(spark, wh)
    assert store.is_committed("excluded_convs", "s2")
    assert not store.is_committed("stage2_mentions", "s2")
    excluded = {r["conv_id"] for r in store.read("excluded_convs", "s2").collect()}
    delta_ids = {r["conv_id"] for r in delta_t.select("conv_id").distinct().collect()}
    assert excluded - delta_ids, "fixture no longer rescans history; test is vacuous"

    # the cheap retry: same id, rescan="none" — must match the batch
    # recompute (i.e. the rescanned history survived with fresh rows)
    inc = IncrementalPipeline(spark, wh, "s1", "s2").run(delta_t, rescan="none")
    full = Pipeline(spark, str(tmp_path / "full"), snapshot_id="f1").run(
        fx.transcripts_sdf(spark, fixture)
    )
    _assert_equal_results(inc, full)


def test_maintain_pins_path_on_crash_retry(spark, tmp_path, monkeypatch):
    """maintain() pins its path choice per snapshot id BEFORE any table
    commit: both pipelines resume from committed tables by name, so
    retrying a crashed incremental attempt as a rebuild would resume the
    batch build from delta-only tables and silently drop the base
    history. The pin refuses the flip (and a base swap), and the
    un-forced retry follows the pin even where the default policy would
    now choose rebuild."""
    from information_extraction_from_biographies_spark.plans.incremental import (
        MaintenanceCostModel,
        maintain,
        snapshot_parent,
    )
    from information_extraction_from_biographies_spark.sources.checkpoint import (
        CheckpointStore,
    )

    fixture = fx.make_fixture(n_convs=14, seed=31)
    base_t, delta_t = _split_convs(spark, fixture, 10)
    wh = str(tmp_path / "w")
    Pipeline(spark, wh, snapshot_id="s1").run(base_t)
    inc_model = MaintenanceCostModel(
        delta_floor_s=0.0, delta_per_base_conv_s=0.0, delta_per_delta_conv_s=0.0
    )

    real_commit = CheckpointStore.commit
    real_partial = CheckpointStore.commit_partial

    def boom(self, df, table, snapshot_id, *a, **kw):
        if table == "stage1_people" and snapshot_id == "s2":
            raise RuntimeError("injected crash mid-incremental")
        return real_commit(self, df, table, snapshot_id, *a, **kw)

    def boom_partial(self, df, table, snapshot_id, *a, **kw):
        if table == "stage1_people" and snapshot_id == "s2":
            raise RuntimeError("injected crash mid-incremental")
        return real_partial(self, df, table, snapshot_id, *a, **kw)

    monkeypatch.setattr(CheckpointStore, "commit", boom)
    monkeypatch.setattr(CheckpointStore, "commit_partial", boom_partial)
    with pytest.raises(RuntimeError, match="injected"):
        maintain(spark, wh, "s1", "s2", delta_t, cost_model=inc_model)
    monkeypatch.setattr(CheckpointStore, "commit", real_commit)
    monkeypatch.setattr(CheckpointStore, "commit_partial", real_partial)

    # delta-only tables landed under s2 — flipping to rebuild would
    # resume the batch pipeline from them; the pin refuses
    store = CheckpointStore(spark, wh)
    assert store.is_committed("stage0_turns", "s2")
    with pytest.raises(ValueError, match="partial 'incremental' maintenance"):
        maintain(spark, wh, "s1", "s2", delta_t, force="rebuild")
    # ...as is resuming over a different base (mixed histories)
    with pytest.raises(ValueError, match="maintenance attempt over base"):
        maintain(spark, wh, "other", "s2", delta_t)

    # the honest retry (no force; toy scale means the default policy
    # would pick rebuild — the pin must win) completes incrementally and
    # matches the batch recompute
    path, res = maintain(spark, wh, "s1", "s2", delta_t)
    assert path == "incremental"
    assert snapshot_parent(wh, "s2") == "s1"
    full = Pipeline(spark, str(tmp_path / "full"), snapshot_id="f1").run(
        fx.transcripts_sdf(spark, fixture)
    )
    _assert_equal_results(res, full)


def test_maintain_kwargs_filtered_per_path(spark, tmp_path):
    """maintain() forwards only the kwargs the chosen pipeline accepts:
    an incremental-only knob must not crash the day the policy (or an
    operator) picks rebuild, and vice versa; a kwarg neither pipeline
    accepts raises immediately (typo protection)."""
    from information_extraction_from_biographies_spark.plans.incremental import maintain

    fixture = fx.make_fixture(n_convs=12, seed=33)
    base_t, delta_t = _split_convs(spark, fixture, 9)
    wh = str(tmp_path / "w")
    Pipeline(spark, wh, snapshot_id="s1").run(base_t)

    with pytest.raises(TypeError, match="neither pipeline accepts"):
        maintain(spark, wh, "s1", "sX", delta_t, no_such_knob=True)

    # incremental-only kwargs survive a rebuild decision (dropped)...
    path, _ = maintain(
        spark, wh, "s1", "s2", delta_t,
        force="rebuild", rescan_via_file=True, enable_cow=False,
    )
    assert path == "rebuild"
    # ...and batch-only kwargs survive an incremental decision
    path2, _ = maintain(
        spark, wh, "s2", "s3", delta_t,
        force="incremental", gram_index=False, cc_salt=1,
    )
    assert path2 == "incremental"


def test_torn_stats_sidecar_recovers(spark, tmp_path):
    """A torn _stats sidecar (crash mid-write) must not poison every
    later maintain() of that base: snapshot_conv_count recounts, heals
    the file atomically, and leaves no tmp litter."""
    import json as _json
    import os as _os

    from information_extraction_from_biographies_spark.plans.incremental import (
        snapshot_conv_count,
    )

    fixture = fx.make_fixture(n_convs=10, seed=35)
    wh = str(tmp_path / "w")
    p = Pipeline(spark, wh, snapshot_id="s1")
    p.run(fx.transcripts_sdf(spark, fixture))

    sp = _os.path.join(wh, "_stats", "s1.json")
    _os.makedirs(_os.path.dirname(sp), exist_ok=True)
    with open(sp, "w", encoding="utf-8") as f:
        f.write('{"n_convs": 1')  # torn mid-write
    assert snapshot_conv_count(p.store, "s1") == 10
    with open(sp, encoding="utf-8") as f:
        assert _json.load(f)["n_convs"] == 10  # healed
    assert not _os.path.exists(sp + ".tmp")
    # a legacy/foreign sidecar missing the key recounts the same way
    with open(sp, "w", encoding="utf-8") as f:
        _json.dump({"rows": 3}, f)
    assert snapshot_conv_count(p.store, "s1") == 10


def test_conv_count_cache_invalidated_on_id_reuse(spark, tmp_path):
    """The _stats sidecar outlives expire_snapshots, so a snapshot id
    reused for a DIFFERENT build must not serve the old content's count
    to the maintenance policy — the cache is keyed by the snapshot's
    commit fingerprint (stage0_meta lineage mtime) and recounts when it
    changes."""
    import json as _json
    import os as _os

    from information_extraction_from_biographies_spark.plans.incremental import (
        snapshot_conv_count,
    )

    fixture = fx.make_fixture(n_convs=10, seed=39)
    wh = str(tmp_path / "w")
    p = Pipeline(spark, wh, snapshot_id="s1")
    p.run(fx.transcripts_sdf(spark, fixture))
    assert snapshot_conv_count(p.store, "s1") == 10

    # a fingerprint-matching cache IS served (no recount)...
    sp = _os.path.join(wh, "_stats", "s1.json")
    with open(sp, encoding="utf-8") as f:
        rec = _json.load(f)
    with open(sp, "w", encoding="utf-8") as f:
        _json.dump({"n_convs": 999, "fp": rec["fp"]}, f)
    assert snapshot_conv_count(p.store, "s1") == 999
    # ...until the snapshot's meta commit changes (id reuse after
    # expiry): bump the lineage mtime to stand in for the recommit
    lp = p.store._lineage_path("stage0_meta", "s1")
    _os.utime(lp, ns=(_os.stat(lp).st_atime_ns, _os.stat(lp).st_mtime_ns + 10**6))
    assert snapshot_conv_count(p.store, "s1") == 10  # recounted + healed
    with open(sp, encoding="utf-8") as f:
        assert _json.load(f)["n_convs"] == 10


def test_maintain_stale_pin_recomputed(spark, tmp_path):
    """A _maintain pin with NO committed table under its snapshot id is
    dead (crash before the first commit, or tables fully expired for id
    reuse): nothing can mix, so maintain() re-decides instead of
    refusing forever on the stale base/path."""
    import json as _json
    import os as _os

    from information_extraction_from_biographies_spark.plans.incremental import (
        maintain,
        snapshot_parent,
    )

    fixture = fx.make_fixture(n_convs=12, seed=41)
    base_t, delta_t = _split_convs(spark, fixture, 9)
    wh = str(tmp_path / "w")
    Pipeline(spark, wh, snapshot_id="s1").run(base_t)

    # a pin from an attempt that never committed anything, over a base
    # that no longer exists
    mp = _os.path.join(wh, "_maintain", "s2.json")
    _os.makedirs(_os.path.dirname(mp), exist_ok=True)
    with open(mp, "w", encoding="utf-8") as f:
        _json.dump({"path": "incremental", "base": "gone"}, f)

    path, res = maintain(spark, wh, "s1", "s2", delta_t, force="rebuild")
    assert path == "rebuild"
    assert snapshot_parent(wh, "s2") is None
    with open(mp, encoding="utf-8") as f:
        assert _json.load(f) == {"path": "rebuild", "base": "s1"}  # re-pinned
    full = Pipeline(spark, str(tmp_path / "full"), snapshot_id="f1").run(
        fx.transcripts_sdf(spark, fixture)
    )
    _assert_equal_results(res, full)


def test_compact_rebuilds_partially_indexed_chain(spark, tmp_path):
    """compact_snapshot rebuilds the gram index when ANY chain level
    carries it: a partially-backfilled chain (ensure_gram_index crashed
    mid-chain, so chain_has is False) must not silently lose the index
    the operator paid an O(history) backfill for."""
    from information_extraction_from_biographies_spark.plans.incremental import (
        build_gram_index,
        chain_has,
        compact_snapshot,
        full_view,
    )

    fixture = fx.make_fixture(n_convs=15, seed=37)
    sdf = fx.transcripts_sdf(spark, fixture)
    ids = [r["conv_id"] for r in sdf.select("conv_id").distinct().orderBy("conv_id").collect()]
    wh = str(tmp_path / "w")
    p = Pipeline(spark, wh, snapshot_id="s1", gram_index=False)
    p.run(sdf.filter(F.col("conv_id").isin(ids[:8])))
    IncrementalPipeline(spark, wh, "s1", "s2").run(
        sdf.filter(F.col("conv_id").isin(ids[8:11])), rescan="exact"
    )
    store = p.store

    # partial backfill: the tip level got its index, the base did not
    # (the mid-chain crash state of ensure_gram_index)
    build_gram_index(
        store,
        "s2",
        turns=store.read("stage0_turns", "s2"),
        n_convs=full_view(store, "stage0_meta", "s2").count(),
    )
    assert not chain_has(store, "turn_grams", "s2")  # s1 still missing

    done = compact_snapshot(store, "s2", "c1")
    assert "gram_stops" in done and "turn_grams" in done
    assert chain_has(store, "turn_grams", "c1")

    # the rebuilt index is engaged and exact: an indexed delta over the
    # compacted base matches the batch recompute over everything
    inc = IncrementalPipeline(spark, wh, "c1", "c2").run(
        sdf.filter(F.col("conv_id").isin(ids[11:])), rescan="indexed"
    )
    full = Pipeline(spark, str(tmp_path / "full"), snapshot_id="f1").run(sdf)
    _assert_equal_results(inc, full)
