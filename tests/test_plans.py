"""Physical-plan audits: the properties that matter at 100 TB — predicate
pushdown into the parquet scan, column pruning, broadcast joins for small
dims, whole-stage codegen for the relational glue."""

import contextlib
import io

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted"):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    df = entry.queries()["j3_suppliers_in_region"](spark, SF)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)" in plan


def test_column_pruning(spark):
    df = entry.queries()["q1_pricing_summary"](spark, SF)
    plan = plan_of(df)
    # lineitem scan reads only the 7 needed columns
    assert "l_returnflag" in plan and "l_quantity" in plan
    assert "l_comment" not in plan and "l_shipmode" not in plan


def test_small_dims_broadcast(spark):
    plan = plan_of(entry.queries()["q5_nation_volume"](spark, SF))
    assert "BroadcastHashJoin" in plan
    plan2 = plan_of(entry.queries()["j3_suppliers_in_region"](spark, SF))
    assert "BroadcastHashJoin" in plan2


def test_wholestage_codegen_on_agg(spark):
    df = entry.queries()["q1_pricing_summary"](spark, SF)
    # AQE finalizes the plan on execution; codegen stages then show as *(n)
    df.collect()
    plan = plan_of(df, "simple")
    assert "*(" in plan and "isFinalPlan=true" in plan
    # and the aggregate is two-phase (map-side partial combine)
    assert "partial_sum" in plan


def test_anti_join_for_set_difference(spark):
    plan = plan_of(entry.queries()["u4_customers_without_orders"](spark, SF))
    assert "LeftAnti" in plan


def test_simhash_partial_agg_collapses_before_exchange(spark):
    """The 60 conditional bit-vote sums must partial-aggregate map-side:
    one row per doc crosses the exchange, not one per token."""
    from information_extraction_from_biographies_spark.operators.dedup import simhash

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = simhash(docs)
    df.collect()
    plan = plan_of(df, "simple")
    assert "partial_sum" in plan  # map-side combine of the bit votes
    assert "Exchange hashpartitioning(doc_id" in plan


def test_minhash_profiles_no_explode_no_preshuffle(spark):
    """One-pass numpy MinHash: the profile stage is scan -> mapInPandas,
    with no Generate (explode) and no Exchange before the Python stage —
    the |text|-row shingle amplification of the round-1 design is gone."""
    from information_extraction_from_biographies_spark.operators.dedup import minhash_profiles

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(minhash_profiles(docs), "simple")
    assert "Generate" not in plan and "Explode" not in plan
    assert "Exchange" not in plan  # profiles are computed where the docs are read


def test_jaccard_verify_broadcast_path(spark):
    from information_extraction_from_biographies_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    profiles = dedup.minhash_profiles(docs)
    cand = dedup.lsh_candidate_pairs(profiles, bands=8, cap=1000)
    plan = plan_of(dedup.jaccard_verify(profiles, cand, broadcast_sets=True))
    assert "BroadcastHashJoin" in plan


def test_flagship_has_no_meta_broadcast(spark):
    """The round-3 verdict's scale-killer: the flagship's per-conversation
    stages broadcast-joined `meta` (one row per conversation — corpus-
    scale, a driver OOM at 10^12 turns). biographee is now threaded onto
    the turn-0 row by stage 0, so the fused stage-2 / stage-1 plans must
    contain NO join at all on the turns side — in particular no
    BroadcastExchange — even with Catalyst's size-based auto-broadcast
    disabled (which would otherwise mask a lingering hint at sandbox
    scale)."""
    from information_extraction_from_biographies_spark import fixtures as fx
    from information_extraction_from_biographies_spark.operators import (
        mentions,
        normalize,
        scan,
        stage2,
    )

    tdf = fx.transcripts_sdf(spark)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        turns, meta = normalize.normalize(tdf)
        assert "biographee" in turns.columns  # stage-0 threading
        extracted = mentions.extract_people_combined(turns, meta)
        plan1 = plan_of(extracted, "simple")
        assert "BroadcastExchange" not in plan1 and "Join" not in plan1
        conv_names, conv_aliases = mentions.split_extracted(extracted)
        surfaces = mentions.registry_surfaces(
            *mentions.build_registry(conv_names, conv_aliases)
        )
        index = scan.build_surface_index(surfaces)
        fused = stage2.fused_scan_extract(turns, meta, index)
        plan2 = plan_of(fused, "simple")
        assert "BroadcastExchange" not in plan2 and "Join" not in plan2
        # legacy fallback (no biographee column): a plain un-hinted join
        # that degrades to shuffle when auto-broadcast is off
        legacy = turns.drop("biographee")
        plan3 = plan_of(stage2.fused_scan_extract(legacy, meta, index), "simple")
        assert "BroadcastExchange" not in plan3
        assert "SortMergeJoin" in plan3 or "ShuffledHashJoin" in plan3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_jaccard_verify_auto_picks_shuffle_for_big_profiles(spark):
    """broadcast_sets='auto' must fall back to a shuffled hash join when
    the measured profile payload exceeds the broadcast budget — the
    corpus-sized-broadcast default was the round-2 scale-inversion."""
    from information_extraction_from_biographies_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    profiles = dedup.minhash_profiles(docs).persist()
    cand = dedup.lsh_candidate_pairs(profiles, bands=8, cap=1000)
    # disable Catalyst's own size-based auto-broadcast so the plan shows
    # exactly what OUR hint decided (at sandbox scale the profile table is
    # tiny and Catalyst would broadcast it regardless — at corpus scale
    # its size estimate blocks that too)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(dedup.jaccard_verify(profiles, cand, broadcast_max_bytes=1024))
        assert "BroadcastHashJoin" not in plan  # over budget -> shuffled join
        plan_b = plan_of(dedup.jaccard_verify(profiles, cand))
        assert "BroadcastHashJoin" in plan_b  # within budget -> explicit hint
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    profiles.unpersist()
