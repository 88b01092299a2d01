"""Bucketed-table layout: shuffle-free co-located joins and bucket
pruning.

The single biggest cost of a big⋈big join at 100 TB is the shuffle —
both sides rewrite themselves across the network on the join key before
a single output row exists. Bucketing pays that cost ONCE at write time:
`CLUSTERED BY (key) INTO n BUCKETS` hashes every row to a stable bucket
file, so two tables bucketed by the same key with the same bucket count
are already co-partitioned on disk. Spark's scan reports the bucket
layout as its output partitioning and the SortMergeJoin planner elides
both exchanges — the join runs scan→sort→merge with zero network
movement, round after round, query after query. That is the canonical
lakehouse answer for a fact table joined on the same key every day
(orders ⋈ lineitem on orderkey here; reference parity: the warehouse
star joins of plans/warehouse.py).

Write-side mechanics (all engine-native):

- ``spark.write.bucketBy(n, key).sortBy(key).saveAsTable(...)`` — a
  datasource-parquet managed table; no Hive metastore needed, the
  session catalog carries the bucket spec.
- ``sortBy`` additionally pins each bucket file sorted on the key, so
  the merge side of the join skips its sort when each bucket holds one
  file (Spark still inserts a defensive sort for multi-file buckets —
  the exchange elision is the contract we pin, the sort elision is
  best-effort).
- Bucket count is a LAYOUT decision: pick it once per table family
  (both sides must match — Spark 4 can coalesce the larger side's
  buckets when counts differ by an integer factor, see
  ``spark.sql.bucketing.coalesceBucketsInJoin.enabled``).

Read-side wins, both pinned by tests:

1. co-located join: zero ``Exchange hashpartitioning`` in the executed
   plan of a bucketed⋈bucketed equi-join on the bucket key;
2. bucket pruning: an equality predicate on the bucket column scans
   ``1 out of n`` buckets (``SelectedBucketsCount`` in the scan node) —
   a point lookup touches 1/n of the files before any row-group stats
   are even consulted.

At 100 TB: bucketing composes with the manifest warehouse's partition
pruning — partition by the coarse time/tenant dimension, bucket by the
join/lookup key inside each partition, and a daily incremental join
reads one partition of each side with no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a session-catalog parquet table bucketed on
    ``bucket_cols`` into ``n_buckets`` files per (optional) partition,
    each file sorted on ``sort_cols`` (defaults to the bucket key)."""
    if not bucket_cols:
        raise ValueError("write_bucketed needs at least one bucket column")
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    sort_cols = sort_cols or bucket_cols
    (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, bucket_cols[0], *bucket_cols[1:])
        .sortBy(sort_cols[0], *sort_cols[1:])
        .saveAsTable(table)
    )
