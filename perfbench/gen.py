"""Seeded input generator for the benchmark.

Writes the fixture tables the package reads (``TESTDATA.md`` schemas) as
``<root>/<table>.parquet/part-NNNNN.parquet`` directories, with the row
counts and value distributions of the repository's ``sf0.1`` fixture scaled
by ``Sizes.scale``. The figures below were measured on that fixture with
DuckDB (``FIXTURE`` holds its row counts):

* ``customer``: keys ``0..n-1``, nation uniform over 25, balance uniform in
  [-999.99, 9999.99], five market segments in equal shares.
* ``orders``: ``o_custkey`` uniform over the customers (median 10 orders per
  customer), three statuses and five priorities in equal shares, price
  uniform in [1000, 500000], ``o_orderdate`` a day uniform over the 2405
  days from 1995-01-01 (about 62 orders per day).
* ``events``: ``ts`` uniform over the 30 days from 2024-01-01 and
  ``event_id`` in ``ts`` order; ``user_id`` uniform over customers / 10
  (median 66 events per user); five event types in equal shares; ``value``
  exponential with mean 50, rounded to cents; ``props`` is ``{"k": K}``
  with ``K`` uniform over 0..99.
* ``documents``: 10 to 100 words (uniform) drawn from a 30-word vocabulary;
  5.1% are near-duplicates, another document's text plus a trailing ``dup``
  token (255 of 5000); languages en 41%, zh/es/fr 15% each, de 14%;
  ``source`` cycles over 20 values.

Batch tables are written in a seeded row permutation and split into parts,
so no query can lean on file row order. With ``stream_parts`` set,
``events`` is split into that many time-ordered slices of equal time span
with increasing modification times, so a file stream source with
``maxFilesPerTrigger=1`` replays it one slice per micro-batch.

The same seed always gives the same bytes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC: first day of events.ts
ORDERS_EPOCH_US = 788_918_400_000_000  # 1995-01-01 00:00:00 UTC: first o_orderdate
DAY_US = 86_400_000_000
EVENT_DAYS = 30
ORDER_DAYS = 2405
DUP_SHARE = 255 / 5000

# row counts of the sf0.1 fixture
FIXTURE = {"customer": 15_000, "orders": 150_000, "events": 100_000, "documents": 5_000}

_EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
_SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
_STATUS = np.array(["O", "F", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = np.array([0.41, 0.15, 0.15, 0.15, 0.14])
_VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch".split()
)


@dataclass(frozen=True)
class Sizes:
    """Which fixture tables one input set holds, at what share of their
    ``sf0.1`` row counts, and how they are split into part files."""

    tables: tuple[str, ...]  # keys of FIXTURE; region and nation are always written
    scale: float = 0.1
    stream_parts: int = 0  # 0: batch tables only; >0: time-ordered events slices
    batch_parts: int = 4

    def rows(self, table: str) -> int:
        return round(FIXTURE[table] * self.scale) if table in self.tables else 0


def generate(root: str, seed: int, sizes: Sizes) -> None:
    """Write every table ``sizes`` asks for under ``root``."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)

    def put(name: str, table: pa.Table, parts: list[np.ndarray] | None = None) -> None:
        if parts is None:
            order = rng.permutation(table.num_rows)
            parts = np.array_split(order, min(sizes.batch_parts, max(table.num_rows, 1)))
        _write_parts(os.path.join(root, f"{name}.parquet"), table, parts)

    put("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    }))
    put("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    customers = round(FIXTURE["customer"] * sizes.scale)
    if sizes.rows("customer"):
        n = customers
        put("customer", pa.table({
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
            "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n)],
        }))
    if sizes.rows("events"):
        n = sizes.rows("events")
        ts = EPOCH_US + np.sort(rng.integers(0, EVENT_DAYS * DAY_US, n))
        events = pa.table({
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(customers // 10, 1), n), pa.int64()),
            "event_type": _EVENT_TYPES[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        })
        put("events", events, _time_slices(rng, ts, sizes.stream_parts) if sizes.stream_parts else None)
    if sizes.rows("orders"):
        n = sizes.rows("orders")
        put("orders", pa.table({
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, max(customers, 1), n), pa.int64()),
            "o_orderstatus": _STATUS[rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
            "o_orderdate": pa.array(ORDERS_EPOCH_US + rng.integers(0, ORDER_DAYS, n) * DAY_US,
                                    pa.timestamp("us")),
            "o_orderpriority": _PRIORITY[rng.integers(0, 5, n)],
        }))
    if sizes.rows("documents"):
        put("documents", _documents(rng, sizes.rows("documents")))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents; ``DUP_SHARE`` of them are near-duplicates of
    another document (its text plus a trailing ``dup`` token)."""
    texts = [" ".join(_VOCAB[rng.integers(0, len(_VOCAB), k)]) for k in rng.integers(10, 101, n)]
    for i in rng.choice(n, size=max(round(n * DUP_SHARE), 1), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _LANGS[rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _time_slices(rng: np.random.Generator, ts_us: np.ndarray, parts: int) -> list[np.ndarray]:
    """Row indices of ``parts`` slices of equal time span over the events
    days, in time order; rows within a slice are permuted."""
    bounds = EPOCH_US + np.linspace(0, EVENT_DAYS * DAY_US, parts + 1).astype(np.int64)
    slot = np.clip(np.searchsorted(bounds, ts_us, side="right") - 1, 0, parts - 1)
    return [rng.permutation(np.flatnonzero(slot == i)) for i in range(parts)]


def _write_parts(path: str, table: pa.Table, parts: list[np.ndarray]) -> None:
    os.makedirs(path, exist_ok=True)
    base = 1_700_000_000  # part i gets mtime base + i: file sources replay in part order
    for i, idx in enumerate(parts):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.take(pa.array(idx, pa.int64())), f)
        os.utime(f, (base + i, base + i))
