"""Parameterized k-step funnel conversion over an event stream.

The product-analytics staple the reference's enrichment-join topology
never had (no aggregation beyond count is even sketched —
``DynamicTopologyBuilder.java:188-223`` is stubbed): given an ordered
list of funnel stages, compute how far each user progressed, where each
stage's event must STRICTLY follow the user's earliest qualifying event
of the previous stage (the strict-sequential-min definition — pure
relational algebra, no session windows, no UDF, so a SQL oracle can
replay it exactly and the result is deterministic on any engine).

Scale shape: every aggregate and join keys on the user column, so AQE
plans one partitioning that is reused across the whole chain; each
stage's input is pre-filtered to its predicate before any join (the scan
predicate prunes everything else), and stage outputs are |users|-sized —
the funnel narrows monotonically, so downstream joins see shrinking
sides and broadcast when small.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def funnel_conversion(
    events: DataFrame,
    stages: list[tuple[str, Column]],
    max_gap: Column | int | float | None = None,
    keep_timestamps: bool = False,
) -> DataFrame:
    """Strict-sequential-min funnel over ``stages`` = ordered
    ``(stage_name, predicate)`` pairs (≥ 2 stages), per ``user_id`` in
    ``ts`` order.

    ``max_gap`` additionally requires each stage's qualifying event to
    land WITHIN that window of the previous stage's earliest qualifying
    timestamp — the "conversion within N minutes" product-analytics
    convention. Pass ``F.expr("INTERVAL 30 minutes")`` for timestamp
    ``ts``, or a plain number for numeric ones (the gap is in the
    column's own units). None (the default) keeps the unbounded
    strict-sequential semantics.

    Returns one row per user who completed stage 1:
    ``(user_id, reached_<stage_2>, ..., reached_<stage_k>,
    funnel_stage)`` where ``reached_<name>`` is true iff the user has an
    event matching that stage's predicate strictly after their previous
    stage's earliest qualifying timestamp, and ``funnel_stage`` (bigint)
    is the deepest stage index reached (1-based). Reached flags are
    monotone by construction: a user cannot reach stage i+1 without
    stage i, because stage i+1's candidate events are semi-joined
    against stage i's survivors.

    ``keep_timestamps=True`` additionally emits ``ts_<stage_name>``
    columns — each stage's earliest qualifying timestamp (null past the
    user's depth) — so downstream readouts (time-to-convert,
    attribution) can aggregate stage gaps without replaying the funnel.
    """
    if len(stages) < 2:
        raise ValueError("funnel_conversion needs at least 2 stages")
    names = [n for n, _ in stages]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate stage names: {names}")

    _, first_pred = stages[0]
    prev = (
        events.filter(first_pred)
        .groupBy("user_id")
        .agg(F.min("ts").alias("__t1"))
    )
    frames = [prev]
    for i, (_, pred) in enumerate(stages[1:], start=2):
        in_order = F.col("ts") > F.col(f"__t{i - 1}")
        if max_gap is not None:
            gap = max_gap if isinstance(max_gap, Column) else F.lit(max_gap)
            in_order = in_order & (
                F.col("ts") <= F.col(f"__t{i - 1}") + gap
            )
        prev = (
            events.filter(pred)
            .join(prev.select("user_id", f"__t{i - 1}"), "user_id")
            .filter(in_order)
            .groupBy("user_id")
            .agg(F.min("ts").alias(f"__t{i}"))
        )
        frames.append(prev)

    out = frames[0]
    for f in frames[1:]:
        out = out.join(f, "user_id", "left")
    reached = [F.col(f"__t{i}").isNotNull() for i in range(2, len(stages) + 1)]
    stage_depth = F.lit(1)
    for r in reached:
        stage_depth = stage_depth + r.cast("int")
    ts_cols = (
        [
            F.col(f"__t{i}").alias(f"ts_{name}")
            for i, name in enumerate(names, start=1)
        ]
        if keep_timestamps
        else []
    )
    return out.select(
        "user_id",
        *[r.alias(f"reached_{name}") for r, name in zip(reached, names[1:])],
        stage_depth.cast("bigint").alias("funnel_stage"),
        *ts_cols,
    )
