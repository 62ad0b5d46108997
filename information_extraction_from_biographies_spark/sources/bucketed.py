"""Bucketed table layout — shuffle-free co-located joins between stages.

At 100 TB the dominant cost of the engine's repeated equi-joins and
aggregations on stable keys (``doc_id``, ``conv_id``, ``vertex``) is the
shuffle: every ``join``/``groupBy`` re-hashes the full table across the
cluster even when the same key was shuffled by the previous stage. Spark's
bucketed tables persist that hash-partitioning IN THE TABLE LAYOUT
(``bucketBy(n, key)`` via ``saveAsTable``): each bucket file holds exactly
the rows with ``hash(key) % n == bucket_id``, recorded in catalog metadata,
so a later join or aggregation on the bucket key satisfies the planner's
required distribution from the scan itself — the ``Exchange`` disappears
from the bucketed side(s) entirely (pinned by ``tests/test_bucketed.py``).

Where this plugs into the engine at scale:

- stage outputs written once, joined many times — the entity ``edges``
  table (joined per CC iteration), dedup ``profiles`` (joined by three
  queries), the ``turns`` table (both Python passes group on conv_id);
- the snapshot store: ``CheckpointStore.commit_bucketed`` writes a stage
  snapshot bucketed on its downstream join key, so a RESUMED pipeline
  re-reads the stage pre-partitioned and skips the repartition shuffle the
  original run paid.

Bucket-count guidance (the knob a 1000-executor deployment sets): buckets
≈ table_size / 128 MB, and keep both sides of a co-located join at the
same count — or enable ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``
so Spark coalesces the larger side's buckets (ratio ≤ 4 by default)
instead of shuffling.

Limitations carried on purpose: bucketing metadata lives in the session
catalog (with the sandbox's in-memory catalog it lasts the session; a
cluster uses a Hive/Glue/Iceberg catalog and the layout is permanent), and
``sortBy`` ordering is per-FILE — a bucket written by several tasks has
several sorted files, so we do NOT claim sort-based guarantees for the
``grouped_map`` sort contract, only distribution guarantees for
joins/aggregations (which the planner itself verifies).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str] | str,
    buckets: int,
    path: str | None = None,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a parquet table bucketed on ``keys``.

    ``path`` makes it an external table (the data outlives the in-memory
    catalog; re-register after a restart with this same function or a
    ``CREATE TABLE`` DDL). ``sort=True`` additionally sorts each bucket
    file by the keys — free at write time (the bucket shuffle already
    clusters the rows) and it upgrades later same-key sort-merge joins to
    skip their per-partition sort when files align."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    writer = df.write.mode(mode).format("parquet").bucketBy(buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Scan a bucketed table WITH its distribution metadata (a plain
    ``spark.read.parquet(path)`` on the same files would lose it and
    reintroduce the shuffle)."""
    return spark.table(table)


def bucket_spec(spark: SparkSession, table: str) -> tuple[list[str], int] | None:
    """(bucket_columns, num_buckets) from the catalog, or None if the
    table is not bucketed — callers use this to decide whether a join key
    is co-located before relying on it."""
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    info = {r["col_name"]: r["data_type"] for r in rows}
    if "Num Buckets" not in info:
        return None
    cols = [c.strip().strip("`") for c in info["Bucket Columns"].strip("[]").split(",")]
    return cols, int(info["Num Buckets"])
