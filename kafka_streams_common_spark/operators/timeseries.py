"""Time-series operators that need per-key sequential recurrences.

Window functions cover anything expressible as a frame aggregate (moving
averages, cumulative sums, lag/lead deltas — see queries/standard.py), but a
*recurrence* like EWMA (``y_i = a·x_i + (1-a)·y_{i-1}``) is inherently
sequential in i. The scalable Spark shape is a grouped Arrow kernel: the
series is keyed (one key = one independent series), each key's rows land in
one ``applyInPandas`` group, and the kernel runs the O(n) scan in C-speed
NumPy. Parallelism comes from the number of series, state is one scalar per
key, and no executor ever holds more than one key's series — the same
contract Structured Streaming's stateful operators make.

Each recurrence is written once, as a scan with an explicit carry
(:func:`ewma_scan`, :func:`holt_scan`): the batch kernels here run it over
a whole sorted series, and the streaming folds in ``streaming/stateful.py``
continue it across micro-batches from the carry they keep in state. The
scan's docstring holds the determinism argument for both.

Reference scope note: the reference library (kafka-streams-common) has no
time-series surface at all; this extends the engine the way its KTable
aggregations would be extended with a custom ``Aggregator``
(DynamicTopologyBuilder.java:205-219 sketches only count).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructType


def ewma_scan(
    xs: list[float], alpha: float, prev: float, n: int
) -> tuple[list[float], tuple[float, int]]:
    """The EWMA recurrence over ``xs`` in order, continuing from the carry
    ``(prev, n)`` (``n`` values folded so far; ``(0.0, 0)`` starts a
    series): the one definition the batch :func:`ewma` kernel and the
    streaming ``ewma_state`` fold share. Returns the smoothed values and
    the continued carry.

    Each step is ``a*x + (1.0-a)*prev`` in float64, the expression shape
    the DuckDB recursive-CTE oracle evaluates (two correctly-rounded
    multiplies and one add), so every engine, partitioning and micro-batch
    cut gives bit-identical values with an exactly-representable ``alpha``.
    """
    a = float(alpha)
    out = []
    for x in xs:
        prev = x if n == 0 else a * x + (1.0 - a) * prev
        n += 1
        out.append(prev)
    return out, (prev, n)


def holt_scan(
    xs: list[float], alpha: float, beta: float, lv: float, bv: float, n: int
) -> tuple[list[tuple[float, float]], tuple[float, float, int]]:
    """Holt's level+trend recurrence over ``xs`` in order, continuing from
    the carry ``(lv, bv, n)`` (``(0.0, 0.0, 0)`` starts a series): the one
    definition the batch :func:`holt_linear` kernel and the streaming
    ``holt_state`` fold share. Returns one ``(level, trend)`` per value
    and the continued carry.

    Both updates are evaluated in float64 in the shapes the recursive-CTE
    oracle uses (it re-derives the new level inside the trend update), so
    results are bit-identical across engines and micro-batch cuts with
    exactly-representable ``alpha``/``beta``.
    """
    a = float(alpha)
    g = float(beta)
    out = []
    for x in xs:
        if n == 0:
            lv, bv = x, 0.0
        else:
            prev = lv
            lv = a * x + (1.0 - a) * (prev + bv)
            bv = g * (lv - prev) + (1.0 - g) * bv
        n += 1
        out.append((lv, bv))
    return out, (lv, bv, n)


def ewma(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.25,
    tiebreak_cols: list[str] | None = None,
) -> DataFrame:
    """Exponentially weighted moving average per key series, added as
    the ``ewma`` column.

    ``y_1 = x_1`` (first observation seeds the state), then
    ``y_i = alpha·x_i + (1-alpha)·y_{i-1}`` in ``order_col`` order within
    each key group. Prefer an exactly-representable ``alpha`` (0.25, 0.5,
    0.125…) so the recurrence is bit-reproducible on any engine.

    DETERMINISM: ``(key_cols, order_col)`` must be unique per row — a
    recurrence has no well-defined result under order ties (the stable
    sort would preserve whatever row order the shuffle delivered). If
    the series can carry duplicate timestamps, pass ``tiebreak_cols``
    to extend the sort into a total order; every in-repo caller feeds a
    pre-aggregated census (one row per key × period) so the default
    stays bare.

    Scale shape: one shuffle on ``key_cols`` (the applyInPandas grouping),
    then a map-side NumPy scan per series. Memory per task = one series —
    appropriate when series are bounded (per-entity daily rollups), which
    is the case for every pre-aggregated census this engine feeds it.
    """
    out_schema = StructType(list(df.schema.fields)).add("ewma", DoubleType())
    cols = list(df.columns) + ["ewma"]
    sort_cols = [order_col] + list(tiebreak_cols or [])

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort")
        out, _ = ewma_scan(pdf[value_col].astype("float64").to_list(), alpha, 0.0, 0)
        return pdf.assign(ewma=out)[cols]

    return df.groupBy(*[F.col(c) for c in key_cols]).applyInPandas(
        kernel, out_schema
    )


def holt_linear(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    value_col: str,
    alpha: float = 0.5,
    beta: float = 0.25,
) -> DataFrame:
    """Holt's linear-trend (double exponential) smoothing per key series
    — the level+trend recurrence behind short-horizon forecasting that
    EWMA (level only) cannot express:

    ``l_1 = x_1``, ``b_1 = 0``, then
    ``l_i = alpha·x_i + (1−alpha)·(l_{i−1} + b_{i−1})``,
    ``b_i = beta·(l_i − l_{i−1}) + (1−beta)·b_{i−1}``.

    Adds ``level``, ``trend``, and ``forecast`` (= level + trend, the
    one-step-ahead prediction). Same execution contract as ``ewma``
    above: grouped Arrow kernel, one shuffle on ``key_cols``, the
    :func:`holt_scan` recurrence (prefer exactly-representable
    alpha/beta); ``(key_cols, order_col)`` must be unique.
    """
    out_schema = (
        StructType(list(df.schema.fields))
        .add("level", DoubleType())
        .add("trend", DoubleType())
        .add("forecast", DoubleType())
    )
    cols = list(df.columns) + ["level", "trend", "forecast"]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        out, _ = holt_scan(
            pdf[value_col].astype("float64").to_list(), alpha, beta, 0.0, 0.0, 0
        )
        return pdf.assign(
            level=[lv for lv, _ in out],
            trend=[bv for _, bv in out],
            forecast=[lv + bv for lv, bv in out],
        )[cols]

    return df.groupBy(*[F.col(c) for c in key_cols]).applyInPandas(
        kernel, out_schema
    )
