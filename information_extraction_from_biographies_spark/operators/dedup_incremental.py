"""Incremental near-duplicate maintenance — new documents merged into an
existing MinHash/LSH dedup state without re-banding or re-verifying the
historical corpus.

At 100 TB the dedup state is as append-only as the corpus: each ingestion
batch must (a) band only the NEW documents, (b) look up exactly the
buckets those bands touch, (c) verify a delta-bounded candidate set, and
(d) update cluster labels without re-running connected components over
every verified edge ever seen. This module does all four over the
operators that already exist: ``minhash_profiles`` for signatures,
``jaccard_verify`` for exact verification, and
``canonicalize.incremental_components`` for label maintenance
(duplicate clusters only ever merge as documents are added).

State tables (vocabulary here = "documents that share a bucket", still
corpus-scale — but every per-batch operation below touches O(delta) of
it, never the whole store):

- ``buckets``  (band, bucket, doc_id): capped bucket membership. Reads
  are semijoins against the (tiny, broadcast) touched-bucket set — the
  base side streams, it never shuffles.
- ``profiles`` (doc_id, sig, shingles): only the rows named by candidate
  edges are fetched (broadcast semijoin on the delta-bounded endpoint
  set).
- ``labels``   (doc_id, cluster): prior components; updated by one
  broadcast relabel join (incremental_components).

Semantics note: every emitted cluster edge is Jaccard-verified at or
above the threshold, and merges are STICKY across increments (components
never split). The batch operator (``minhash_dedup_clusters``) re-derives
star edges from final bucket membership, so on borderline pairs — where
a bucket's representative changing flips a verification right at the
threshold — the incremental result can keep a merge batch would drop.
For duplicate families separated from non-duplicates by a margin (the
operating regime a threshold is chosen for), the two are identical —
pinned by tests/test_dedup_incremental.py, including a delta document
that bridges two previously-unrelated documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql.window import Window

from .dedup import _band_keys, _cap_bucket


def band_rows(profiles: DataFrame, bands: int = 8) -> DataFrame:
    """(band, bucket, doc_id) — one row per signature band, bucket key =
    the band's raw signature slice (same key construction as
    lsh_candidate_pairs/lsh_star_edges — shared _band_keys, incl. the
    bands-divides-signature check; one scan via posexplode)."""
    return profiles.select(
        "doc_id", F.posexplode(_band_keys(bands)).alias("band", "bucket")
    )


def incremental_minhash_dedup(
    new_profiles: DataFrame,
    base_buckets: DataFrame,
    base_profiles: DataFrame,
    prior_labels: DataFrame | None,
    bands: int = 8,
    cap: int | None = 1000,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Merge a batch of new documents into the dedup state.

    → (labels, buckets_delta), both materialized (local checkpoints —
    chained increments plan in constant size):
    labels        — (doc_id, cluster, is_keeper) over every document that
                    has ever had a verified duplicate edge (the
                    minhash_dedup_clusters shape; singletons omitted).
    buckets_delta — the new documents' band rows that survived the bucket
                    cap: append these to the bucket store. A new row
                    evicted by the cap now can never re-enter (lower ids
                    already fill the bucket), so storing survivors only
                    keeps the store equal to what batch capping over the
                    union would keep.
    """
    spark = new_profiles.sparkSession
    new_banded = band_rows(new_profiles, bands)

    # buckets the delta touches — delta-sized, broadcast into a semijoin
    # so the base bucket store streams (no shuffle of history)
    touched = new_banded.select("band", "bucket").distinct()
    base_members = base_buckets.join(
        F.broadcast(touched), ["band", "bucket"], "leftsemi"
    )
    # distinct before capping: a RE-DELIVERED doc (already in the store
    # and in this batch — crash-replay of an ingest batch) would occupy
    # two row_number slots in its bucket and evict the cap-th legitimate
    # member that batch capping over the union would keep. The distinct
    # is delta-bounded (both sides are touched-bucket slices).
    members = _cap_bucket(
        base_members.unionByName(new_banded).distinct(), ["band", "bucket"], cap
    )

    # star edges over the touched buckets' FULL (capped) membership —
    # the same construction the batch operator applies per bucket
    w = Window.partitionBy("band", "bucket")
    edges = (
        members.withColumn("_rep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("_rep"))
        .select(F.col("_rep").alias("doc1"), F.col("doc_id").alias("doc2"))
        .distinct()
    )

    # shingle sets for exactly the edge endpoints (delta-bounded)
    endpoints = (
        edges.select(F.col("doc1").alias("doc_id"))
        .unionByName(edges.select(F.col("doc2").alias("doc_id")))
        .distinct()
    )
    profs = new_profiles.unionByName(
        base_profiles.join(F.broadcast(endpoints), "doc_id", "leftsemi")
    ).dropDuplicates(["doc_id"])

    from .dedup import jaccard_verify

    # materialized once: the verified edge set is delta-bounded, and the
    # label maintenance below reads it several times (the CC size probe,
    # its edge collect, the new-vertex join) — each read would otherwise
    # re-run bucket lookup, verification and the caller's state lineage
    verified = jaccard_verify(profs, edges, threshold=threshold).localCheckpoint()

    from .canonicalize import incremental_components

    if prior_labels is None:
        prior = spark.createDataFrame([], "vertex long, component long")
    else:
        prior = prior_labels.select(
            F.col("doc_id").alias("vertex"), F.col("cluster").alias("component")
        )
    comp = incremental_components(
        prior, verified.select(F.col("doc1").alias("src"), F.col("doc2").alias("dst"))
    )
    labels = comp.select(
        F.col("vertex").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("cluster"),
        (F.col("vertex") == F.col("component")).alias("is_keeper"),
    )
    # rows already present in the store (re-delivered docs) are excluded
    # from the delta — appending them again would duplicate store rows
    # and shrink every later batch's effective cap in those buckets
    buckets_delta = (
        members.join(
            F.broadcast(new_profiles.select("doc_id")), "doc_id", "leftsemi"
        )
        .join(base_members, ["band", "bucket", "doc_id"], "left_anti")
        .select("band", "bucket", "doc_id")
    )
    # Both outputs are the NEXT increment's inputs (labels → prior_labels,
    # buckets_delta → the appended store), and incremental_components
    # reads prior_labels 3-5 times: returned lazily, each chained call
    # would embed its predecessor's whole plan that many times (~8x
    # logical-plan growth per increment — minutes of driver analysis and
    # a driver OOM by the third). Materializing them truncates the lineage
    # so every increment plans in O(1) of its predecessors.
    return labels.localCheckpoint(), buckets_delta.localCheckpoint()
