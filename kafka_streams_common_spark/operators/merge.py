"""MERGE INTO (upsert) — the Delta/Iceberg ``MERGE`` statement as a
pure DataFrame construction.

The reference's closest primitive is the compacted changelog: Kafka log
compaction keeps the latest record per key and a null value deletes the
key (``TopicProvisioner.java`` provisions ``cleanup.policy=compact``
changelogs). That is MERGE with a fixed shape — source wins, null
deletes. Warehouse pipelines need the general statement: apply a (small)
delta feed onto a (huge) snapshot with per-clause control —

- WHEN MATCHED THEN UPDATE — source columns overwrite,
- WHEN MATCHED AND delete_cond THEN DELETE — drop the key,
- WHEN NOT MATCHED THEN INSERT — new keys append.

Spark-first plan, chosen for the 100 TB case where the TARGET is the
100 TB side and the SOURCE is a bounded delta (the overwhelmingly
common CDC shape):

- one LEFT OUTER join target ⟕ source on the key. The delta
  broadcasts and the snapshot NEVER SHUFFLES — the matched/unmatched/update/delete logic is
  map-side CASE expressions over the joined row.
- the INSERT leg is source ⟲ anti-join against the target's KEY COLUMN
  ONLY, projected before the join: this leg does shuffle (a left-anti
  cannot build its own left side, and broadcasting the snapshot would
  be backwards), but the exchange carries one key column plus the
  delta — bytes proportional to |keys| + |delta|, never the snapshot's
  payload.

Deletes are a filter on the matched leg; updates are per-column
``when``/``otherwise`` — all whole-stage-codegen, no UDF, no collect.
A FULL OUTER spelling would do it in one join but cannot broadcast;
the two-leg decomposition is strictly better when the delta is small
and identical in cost otherwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DEL = "__kscs_merge_del"


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: str,
    *,
    update_cols: list[str] | None = None,
    delete_condition: Column | None = None,
    insert: bool = True,
    dedup_source_by: list[str] | None = None,
) -> DataFrame:
    """Apply ``source`` onto ``target`` keyed by column ``on``; returns
    the merged table with target's schema.

    PRECONDITION — unique source keys: like SQL MERGE (which raises on
    multiple source matches), ``source`` must hold AT MOST ONE row per
    ``on`` key. A duplicated key would multiply each matched target row
    once per duplicate through the left join AND append every
    non-tombstone duplicate through the insert leg — silent fan-out,
    not an error. If the feed can carry several versions per key (the
    raw-CDC norm), pass ``dedup_source_by``: a list of source columns
    ordered by, e.g. ``["op_ts", "seq"]``, and the source is first
    folded to its per-key row with the GREATEST ordering tuple (the S2
    latest-per-key ``max_by`` fold — one hash aggregation, map-side
    combinable). The ordering must be total within a key, or which
    duplicate wins is nondeterministic.

    ``update_cols``: target columns overwritten from the source's
    same-named columns on match (default: every shared non-key column).
    ``delete_condition``: evaluated against SOURCE columns (it is
    stamped onto the source before the join, so write it over the
    source schema); truthy → a matched key is dropped, and a would-be
    insert satisfying it is suppressed (a tombstone for an absent key
    is a no-op — Kafka-compaction semantics). NULL counts as false.
    ``insert``: include source keys absent from the target.
    The delta side is hinted broadcast (small, the CDC norm).
    """
    if on not in target.columns or on not in source.columns:
        raise ValueError(f"join key {on!r} must exist on both sides")
    if update_cols is None:
        update_cols = [
            c for c in target.columns if c != on and c in source.columns
        ]
    missing = [c for c in update_cols if c not in source.columns]
    if missing:
        raise ValueError(f"update_cols absent from source: {missing}")

    # Evaluate the delete clause on the raw source ONCE, before any
    # aliasing — sidesteps ambiguous-column resolution in the join.
    src = source.withColumn(
        _DEL,
        F.coalesce(delete_condition, F.lit(False))
        if delete_condition is not None
        else F.lit(False),
    )
    if dedup_source_by is not None:
        absent = [c for c in dedup_source_by if c not in source.columns]
        if absent:
            raise ValueError(f"dedup_source_by absent from source: {absent}")
        # latest-per-key fold (registry.py S2 pattern): max_by on the
        # ordering tuple, then unpack — one map-side-combinable hash agg
        cols = [c for c in src.columns if c != on]
        src = (
            src.groupBy(on)
            .agg(
                F.max_by(
                    F.struct(*[F.col(c) for c in cols]),
                    F.struct(*[F.col(c) for c in dedup_source_by]),
                ).alias("__latest")
            )
            .select(on, *[F.col(f"__latest.{c}").alias(c) for c in cols])
        )
    s = F.broadcast(src).alias("__s")
    t = target.alias("__t")
    matched = F.col(f"__s.{on}").isNotNull()

    updated = (
        t.join(s, F.col(f"__t.{on}") == F.col(f"__s.{on}"), "left")
        .filter(~(matched & F.col(f"__s.{_DEL}")))
        .select(
            *[
                (
                    F.when(matched, F.col(f"__s.{c}"))
                    .otherwise(F.col(f"__t.{c}"))
                    .alias(c)
                    if c in update_cols
                    else F.col(f"__t.{c}").alias(c)
                )
                for c in target.columns
            ]
        )
    )
    if not insert:
        return updated

    # keys-only anti join: the snapshot contributes ONE projected column
    inserts = (
        src.filter(~F.col(_DEL))
        .join(target.select(on), on, "left_anti")
        .select(
            *[
                (F.col(c) if c in source.columns else F.lit(None)).alias(c)
                for c in target.columns
            ]
        )
    )
    return updated.unionByName(inserts)
