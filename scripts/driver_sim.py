"""Driver simulation — the /verify recipe as a script.

Imports __spark_entry__ like the grading driver, smoke-checks entry(),
then runs every registered query against its DuckDB oracle at sf0.01
with the driver's canonicalization. Exits nonzero on the first mismatch.
Works from any working directory: the repo root goes on ``sys.path`` and
on the Python workers' ``PYTHONPATH``.

Usage: python scripts/driver_sim.py [--vanilla] [--limit N] [--only a,b,c]
                                    [--sf DIR]
  --vanilla  use a bare SparkSession (no get_spark configs) like the driver
  --limit N  only run the first N queries in driver order
  --only     comma-separated query names to check (targeted re-verification)
  --sf DIR   fixture directory (default /root/testdata/sf0.01) — e.g.
             /root/testdata/sf0.1 for a 10x-the-gate-scale sweep
"""

from __future__ import annotations

import gc
import math
import sys
import time

from probe import clear_state, load_entry

SF = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(pdf):
    cols = sorted(pdf.columns)

    def cell(x):
        if x is None:
            return "NULL"
        if isinstance(x, float):
            return "NULL" if math.isnan(x) else format(x, ".10g")
        return str(x)

    return sorted(
        tuple(cell(c) for c in r) for r in pdf[cols].itertuples(index=False, name=None)
    )


def main() -> int:
    global SF
    vanilla = "--vanilla" in sys.argv

    def flag_value(flag: str) -> str | None:
        if flag not in sys.argv:
            return None
        i = sys.argv.index(flag)
        if i + 1 >= len(sys.argv) or sys.argv[i + 1].startswith("--"):
            sys.exit(f"{flag} requires a value (see module docstring)")
        return sys.argv[i + 1]

    sf_arg = flag_value("--sf")
    if sf_arg is not None:
        SF = sf_arg
    limit_arg = flag_value("--limit")
    limit = int(limit_arg) if limit_arg is not None else None

    mod = load_entry()

    if vanilla:
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[8]").getOrCreate()
    else:
        from kafka_streams_common_spark.session import get_spark

        spark = get_spark("driver-sim")

    assert len(mod.entry(spark).collect()) > 0, "entry() returned no rows"
    print("entry ok", flush=True)

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )

    qs, os_ = mod.queries(), mod.oracle_sql()
    assert set(os_) <= set(qs), "oracle without query"
    names = list(qs)
    only_arg = flag_value("--only")
    if only_arg is not None:
        only = only_arg.split(",")
        missing = [n for n in only if n not in qs]
        assert not missing, f"--only names not registered: {missing}"
        names = only
    if limit is not None:
        names = names[:limit]
    failed = []
    for i, name in enumerate(names):
        # per-query hygiene (r15): long sweeps accumulate pinned
        # localCheckpoint RDDs, cached plans, and py4j-held JVM plan
        # trees; without this, heap pressure by row ~80 of an sf0.1
        # sweep inflated the big-state streaming rows ~60x (holt/ewma
        # read 795/733 s in-sweep vs 3-11 s fresh or after a cleared
        # 23-query warm-up — adjudicated in SCALE.md). The grading
        # driver's 50-query sf0.01 window never hits this regime.
        clear_state(spark)
        gc.collect()
        t0 = time.time()
        try:
            got = canon(qs[name](spark, SF).toPandas())
        except Exception as e:  # driver records ERR; we fail loudly
            print(f"{i:3d} {name} ERR {e}", flush=True)
            failed.append(name)
            continue
        spark_s = time.time() - t0
        t0 = time.time()
        if name in os_:
            want = canon(con.execute(os_[name]).df())
            status = "ok" if got == want else "HASH-MISMATCH"
            if status != "ok":
                failed.append(name)
        else:
            status = "rows-only"
        oracle_s = time.time() - t0
        print(
            f"{i:3d} {name} {status} rows={len(got)}"
            f" spark={spark_s:.1f}s oracle={oracle_s:.1f}s",
            flush=True,
        )
    if failed:
        print("FAILED:", failed)
        return 1
    print(f"all {len(names)} queries ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
