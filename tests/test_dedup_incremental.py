"""Incremental MinHash dedup: batch parity on margin-separated duplicate
families, cluster merges across increments (bridge documents), and the
no-history-shuffle bucket lookup."""

import random

from pyspark.sql import functions as F  # noqa: N812

from information_extraction_from_biographies_spark.operators.dedup import (
    minhash_dedup_clusters,
    minhash_profiles,
)
from information_extraction_from_biographies_spark.operators.dedup_incremental import (
    band_rows,
    incremental_minhash_dedup,
)

BANDS = 8


def _block(seed: int, n: int = 400) -> str:
    rng = random.Random(seed)
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz 0123456789") for _ in range(n))


def _family_docs(n_families: int = 6, members: int = 4):
    """Duplicate families with a wide margin: members share a 800-char
    body and differ by a unique 20-char suffix (Jaccard ≈ 0.9); distinct
    families share nothing (Jaccard ≈ 0)."""
    docs = []
    doc_id = 0
    for f in range(n_families):
        body = _block(1000 + 2 * f) + _block(1001 + 2 * f)
        for m in range(members):
            docs.append((doc_id, body + f"[copy {f}-{m}]"))
            doc_id += 1
    for s in range(n_families):
        docs.append((doc_id, _block(5000 + s)))
        doc_id += 1
    return docs


def _labels_dict(df):
    return {r["doc_id"]: r["cluster"] for r in df.collect()}


def _empty_state(spark):
    buckets = spark.createDataFrame([], "band int, bucket string, doc_id long")
    profiles = spark.createDataFrame(
        [], "doc_id long, sig array<long>, shingles array<long>"
    )
    return buckets, profiles


def test_incremental_dedup_matches_batch(spark):
    docs = _family_docs()
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    all_profiles = minhash_profiles(sdf).persist()
    want = _labels_dict(minhash_dedup_clusters(all_profiles, bands=BANDS))

    cut = int(len(docs) * 0.7)
    base_p = all_profiles.filter(F.col("doc_id") < cut).persist()
    delta_p = all_profiles.filter(F.col("doc_id") >= cut)

    b0, p0 = _empty_state(spark)
    labels0, buckets0 = incremental_minhash_dedup(
        base_p, b0, p0, None, bands=BANDS
    )
    labels0 = labels0.persist()
    buckets0 = buckets0.persist()
    labels1, buckets1 = incremental_minhash_dedup(
        delta_p, buckets0, base_p, labels0, bands=BANDS
    )
    got = _labels_dict(labels1)
    assert got == want
    # every document is labeled at most once
    assert labels1.count() == labels1.select("doc_id").distinct().count()
    # the delta's bucket rows cover only delta documents
    assert (
        buckets1.join(base_p.select("doc_id"), "doc_id", "leftsemi").count() == 0
    )
    for df in (all_profiles, base_p, labels0, buckets0):
        df.unpersist()


def test_bridge_document_merges_prior_strangers(spark):
    """a = X+Y, b = Y+Z (Jaccard ≈ 1/3 — not duplicates); delta doc
    c = X+Y+Z verifies against both (≈ 2/3) and merges all three."""
    x, y, z = _block(1), _block(2), _block(3)
    base = spark.createDataFrame(
        [(10, x + y), (20, y + z)], "doc_id long, text string"
    )
    delta = spark.createDataFrame([(30, x + y + z)], "doc_id long, text string")
    base_p = minhash_profiles(base).persist()
    delta_p = minhash_profiles(delta)

    b0, p0 = _empty_state(spark)
    labels0, buckets0 = incremental_minhash_dedup(base_p, b0, p0, None, bands=BANDS)
    # no verified edge between a and b on their own
    assert labels0.count() == 0
    labels1, _ = incremental_minhash_dedup(
        delta_p, buckets0, base_p, labels0, bands=BANDS
    )
    got = _labels_dict(labels1)
    assert got == {10: 10, 20: 10, 30: 10}
    keepers = {r["doc_id"] for r in labels1.filter("is_keeper").collect()}
    assert keepers == {10}
    base_p.unpersist()


def test_bucket_lookup_streams_history(spark, tmp_path):
    """The touched-bucket semijoin broadcasts the delta side — the
    historical bucket store is never shuffled."""
    docs = _family_docs(n_families=3)
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    profiles = minhash_profiles(sdf)
    path = str(tmp_path / "buckets")
    band_rows(profiles, BANDS).write.parquet(path)
    base_buckets = spark.read.parquet(path)

    new_banded = band_rows(profiles.limit(2), BANDS)
    touched = new_banded.select("band", "bucket").distinct()
    plan = (
        base_buckets.join(F.broadcast(touched), ["band", "bucket"], "leftsemi")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_redelivered_batch_is_idempotent_and_cap_safe(spark):
    """Crash-replay of an ingest batch re-delivers documents already in
    the bucket store. Pre-fix, the duplicate (band, bucket, doc_id) rows
    (a) were appended to the store again via buckets_delta, and (b) each
    occupied an extra row_number slot under the bucket cap, evicting the
    cap-th legitimate member that batch capping over the union keeps."""
    x, suffixes = _block(77), ["[a]", "[b]", "[c]", "[d]"]
    fam = spark.createDataFrame(
        [(i, x + s) for i, s in enumerate(suffixes)], "doc_id long, text string"
    )
    profs = minhash_profiles(fam).persist()
    p01 = profs.filter("doc_id < 2").persist()
    p023 = profs.filter("doc_id != 1")  # re-delivers doc 0 with new 2, 3

    b0, pr0 = _empty_state(spark)
    labels0, buckets0 = incremental_minhash_dedup(p01, b0, pr0, None, bands=BANDS)
    buckets0 = buckets0.persist()

    # cap = family size: the re-delivered doc 0's duplicate row must not
    # consume the slot doc 3 needs
    labels1, buckets1 = incremental_minhash_dedup(
        p023, buckets0, p01, labels0, bands=BANDS, cap=len(suffixes)
    )
    assert _labels_dict(labels1) == {0: 0, 1: 0, 2: 0, 3: 0}

    # the delta appends only rows NOT already in the store; replaying the
    # identical batch against the updated store appends nothing
    assert buckets1.join(buckets0, ["band", "bucket", "doc_id"], "inner").count() == 0
    store1 = buckets0.unionByName(buckets1).persist()
    labels2, buckets2 = incremental_minhash_dedup(
        p023, store1, profs, labels1, bands=BANDS, cap=len(suffixes)
    )
    assert buckets2.count() == 0
    assert _labels_dict(labels2) == _labels_dict(labels1)
    for df in (profs, p01, buckets0, store1):
        df.unpersist()


def test_chained_increments_plan_stays_bounded(spark):
    """Each increment's labels and bucket rows feed the next increment.
    The labels' logical plan must not grow with the chain length (lazily
    returned labels embedded the prior plan 3-5 times per increment,
    ~8x growth — a driver OOM by the third), and the chained result
    still equals the batch clusters."""
    docs = _family_docs(n_families=3, members=5)
    profs = minhash_profiles(
        spark.createDataFrame(docs, "doc_id long, text string")
    ).persist()
    want = _labels_dict(minhash_dedup_clusters(profs, bands=BANDS))

    store, seen = _empty_state(spark)
    labels = None
    sizes = []
    for k in range(5):  # bootstrap + 4 chained increments
        batch = profs.filter(F.col("doc_id") % 5 == k)
        labels, delta = incremental_minhash_dedup(batch, store, seen, labels, bands=BANDS)
        sizes.append(len(labels._jdf.queryExecution().logical().toString()))
        assert sizes[-1] < 20_000, sizes  # fail fast: a lazy chain never returns
        # the caller's append to its stored state (a commit in production)
        store = store.unionByName(delta).localCheckpoint()
        seen = seen.unionByName(batch).localCheckpoint()
    assert max(sizes) <= 2 * sizes[0], sizes
    assert _labels_dict(labels) == want
    profs.unpersist()
