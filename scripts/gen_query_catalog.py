#!/usr/bin/env python3
"""Regenerate docs/query_catalog.md from the live query registry.

One row per registered query in driver execution order
(``__spark_entry__.queries()``): name, module, gate type, first docstring
line. Run after changing ``ROUND``/``CHANGED`` in ``__spark_entry__.py`` or
adding a query, so the catalog never drifts from the registry.

Usage: python scripts/gen_query_catalog.py  (from any working directory)
"""

from __future__ import annotations

import inspect
import os

from probe import REPO, load_entry

CATALOG = os.path.join(REPO, "docs", "query_catalog.md")


def catalog_text() -> str:
    """The catalog as generated from the registry imported right now."""
    entry = load_entry()
    oracles = entry.oracle_sql()
    rows = []
    for name, fn in entry.queries().items():
        mod = fn.__module__.rsplit(".", 1)[-1]
        doc = (inspect.getdoc(fn) or "").split("\n")[0].strip()
        if len(doc) > 110:
            doc = doc[:107] + "..."
        gate = "SQL oracle" if name in oracles else "rows-only"
        rows.append((name, mod, gate, doc))

    window, rest = rows[:50], rows[50:]

    def table(rws, offset=0):
        out = ["| # | query | module | gate | summary |", "|---|---|---|---|---|"]
        for i, (n, m, g, d) in enumerate(rws, offset + 1):
            out.append(f"| {i} | `{n}` | {m} | {g} | {d} |")
        return "\n".join(out)

    n_oracle = sum(1 for r in rows if r[2] == "SQL oracle")
    return f"""# Query catalog (generated)

Generated from the live registry by `scripts/gen_query_catalog.py` —
one row per registered query, in driver execution order. {len(rows)}
queries, {n_oracle} with DuckDB SQL oracles (every query;
invariant-style oracles — sketch bounds, codec-decode gates — are still
full SQL comparisons of the projected columns). The first 50 rows are
the current driver window, computed by `driver_order` in
`__spark_entry__.py` from the committed `CORRECTNESS_r*.json` records.

## Driver window (slots 1-50)

{table(window)}

## Past-window (slots 51-{len(rows)})

{table(rest, offset=50)}
"""


def main() -> None:
    text = catalog_text()
    with open(CATALOG, "w", encoding="utf-8") as fh:
        fh.write(text)
    print(f"wrote {CATALOG}")


if __name__ == "__main__":
    main()
