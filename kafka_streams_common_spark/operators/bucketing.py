"""Bucketed table layout — pay the join shuffle ONCE at write time,
never again at read time.

The reference gets key co-location for free: Kafka Streams co-partitions
a stream⋈table join by requiring both topics to share partition count
and key (``DynamicTopologyBuilder.java``'s repartition contract). The
warehouse counterpart is BUCKETING: ``bucketBy(N, key)`` hash-splits
each output table into N buckets by the join key, and Spark's bucketed
scan reports ``HashPartitioning(key, N)`` — so a join between two
tables bucketed the same way plans as a SortMergeJoin with ZERO
Exchange on either side. At 100 TB this is THE big⋈big join tool: a
fact and a dimension too large to broadcast, joined repeatedly on the
same key (orders⋈lineitem on orderkey), should both be bucketed at
ingest; every downstream join and keyed aggregation then reuses the
stored partitioning instead of re-shuffling 100 TB per query.

Buckets also prune point lookups (``spark.sql.sources.bucketing.enabled``
scans only ``hash(key) % N``'s bucket for an equality predicate) and
bound reducer skew at write (bucket count decouples file layout from
``spark.sql.shuffle.partitions``).

Write path: one hash repartition onto the bucket key (the once-paid
shuffle), then ``bucketBy(N, key).sortBy(key)`` so each bucket's files
are key-sorted — the read-side SortMergeJoin needs at most a cheap
per-partition merge, never an Exchange. Tables register in the session
catalog as EXTERNAL (explicit ``path``) datasource tables; no Hive
metastore is required.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table_name: str,
    key: str,
    num_buckets: int,
    path: str,
) -> None:
    """Persist ``df`` as a bucketed external table ``table_name``.

    ``num_buckets`` is the layout contract: every table meant to join
    shuffle-free against this one must use the SAME count and key
    position. The pre-write ``repartition(num_buckets, key)`` aligns
    write tasks with buckets (one file per bucket instead of
    tasks×buckets small files).
    """
    if num_buckets < 1:
        raise ValueError("num_buckets must be >= 1")
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    (
        df.repartition(num_buckets, F.col(key))
        .write.mode("overwrite")
        .option("path", path)
        .bucketBy(num_buckets, key)
        .sortBy(key)
        .saveAsTable(table_name)
    )


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: str | list[str] | Callable[[DataFrame, DataFrame], Column],
) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket keys.
    An inner join.

    ``on`` may name shared columns, or be a callable ``(left, right) ->
    Column`` for differently-named bucket keys (``o_orderkey`` vs
    ``l_orderkey`` — each side's scan satisfies its own key's clustering,
    so the join is still exchange-free as long as bucket COUNTS match).

    The ``merge`` hint pins SortMergeJoin so the bucketed scans'
    ``HashPartitioning`` is what satisfies the join's distribution —
    without it a small test-scale table would broadcast and the
    exchange-free property being demonstrated would be vacuous. Plan
    contract (asserted in tests/test_plans.py): no Exchange anywhere
    in the join subtree.
    """
    left = spark.table(left_table)
    right = spark.table(right_table)
    cond = on(left, right) if callable(on) else on
    return left.hint("merge").join(right, cond, "inner")
