"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship config-driven enrichment chain
(SURVEY.md §2.3 J5) on sf0.001. ``queries()`` / ``oracle_sql()`` expose the
named operator surface from ``kafka_streams_common_spark.queries`` — one
entry per implemented SURVEY.md §2 operator, with DuckDB oracles where the
semantics are ANSI-SQL-expressible.

The grading driver runs the first ``WINDOW`` entries of ``queries()`` per
round; the local parity suite runs all of them. ``driver_order`` rotates
the window from the committed ``CORRECTNESS_r*.json`` records, so every
query gets driver rows over the rounds. Preparing a round means setting
``ROUND`` and ``CHANGED``.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Collection, Sequence
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from kafka_streams_common_spark.catalog import TableCatalog
from kafka_streams_common_spark.compiler import BatchCompiler
from kafka_streams_common_spark.pipelines import ENRICHED_ORDERS
from kafka_streams_common_spark.queries import ORACLES, QUERIES

WINDOW = 50
# The round being prepared: the window is computed from rounds 1..ROUND-1.
ROUND = 17
# Queries whose implementation changed since their last green driver row,
# each re-proven by scripts/driver_sim.py --only at sf0.01 and sf0.1.
CHANGED = (
    "dedup_incremental_vs_corpus",
    "sim_incremental_near_dup_vs_corpus",
    "sim_diverse_cell_sample",
    "sim_ivf_int8_rerank",
    "sim_ivf_topk",
    "sim_embedding_near_dup",
    "sim_knn_graph",
    "sim_semantic_dedup",
    "sim_semantic_dedup_planted",
    "graph_pagerank_customer_supplier",
    "sim_ivf_pq_rerank",
    "sim_semantic_dedup_apply",
)


def correctness_records(round_: int = ROUND) -> list[dict]:
    """The committed driver records of rounds ``1 .. round_ - 1``, in order."""
    root = Path(__file__).resolve().parent
    return [
        json.loads((root / f"CORRECTNESS_r{r:02d}.json").read_text()) for r in range(1, round_)
    ]


def driver_order(
    names: Sequence[str],
    records: Sequence[dict],
    changed: Collection[str],
    window: int = WINDOW,
) -> list[str]:
    """``names`` (registration order) reordered for the driver.

    A row is green when rows, schema and hash all match without error.
    The window takes never-green names first, then ``changed`` ones, then
    the rest, each tier by last green round, green count and registration
    index (stalest and least-proven first). Every other name follows in
    registration order.
    """
    green: dict[str, list[int]] = {}
    for rnd, record in enumerate(records, 1):
        for name, row in record.items():
            ok = row["rows_match"] and row["schema_match"] and row["hash_match"]
            if ok and row["err"] is None:
                green.setdefault(name, []).append(rnd)

    def key(i: int) -> tuple:
        rounds = green.get(names[i], [])
        tier = 0 if not rounds else 1 if names[i] in changed else 2
        return tier, max(rounds, default=0), len(rounds), i

    head = sorted(range(len(names)), key=key)[:window]
    rest = sorted(set(range(len(names))) - set(head))
    return [names[i] for i in head + rest]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    catalog = TableCatalog.for_directory("/root/testdata/sf0.001")
    return BatchCompiler(spark, catalog).compile(ENRICHED_ORDERS)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in driver order."""
    order = driver_order(list(QUERIES), correctness_records(), CHANGED)
    return {n: QUERIES[n] for n in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twins of ``queries()`` (same column names)."""
    return {n: ORACLES[n] for n in queries() if n in ORACLES}
