"""Time registered queries at one or more fixture scales.

Usage: python scripts/probe.py NAME[,NAME...] [--sf DIR]... [--runs N]
                               [--plans DIR]

One ``get_spark`` session. For each query and each ``--sf`` directory:
one untimed warm-up run, then ``--runs`` timed runs, each after clearing
the cache and every persistent RDD. A run times ``build_s`` (the
``QUERIES[name](spark, sf_dir)`` call, including any eager jobs the query
runs while it is built) apart from ``run_s`` (the noop-sink write).

Prints one JSON line per (query, directory): the median and quartiles of
``build_s``, ``run_s`` and ``total_s`` (their sum), plus the raw runs.
With more than one ``--sf``, each line after the first directory's also
carries ``ratio``: its median total over the first directory's median
total (the SF-ratio probe).
``--plans DIR`` writes each query's formatted physical plan to
``DIR/<query>@<sf basename>.txt``.

Run on an idle machine: the point is to keep ambient load out of the
reading. Works from any working directory.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_SF = "/root/testdata/sf0.1"


def launcher_env() -> None:
    """Make the package importable here and on the Python workers."""
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def load_entry():
    """The driver contract, ``__spark_entry__.py`` at the repo root."""
    launcher_env()
    import __spark_entry__

    return __spark_entry__


def clear_state(spark) -> None:
    """Drop cached tables and every persistent RDD (localCheckpoints pin
    theirs), so a run starts from what a fresh query would see."""
    spark.catalog.clearCache()
    it = spark.sparkContext._jsc.getPersistentRDDs().entrySet().iterator()
    while it.hasNext():
        it.next().getValue().unpersist(False)


def quartiles(xs: list[float]) -> dict[str, float]:
    """``p25``/``median``/``p75`` of ``xs``, inclusive method (the median
    is the middle run)."""
    if len(xs) == 1:
        q = [xs[0]] * 3
    else:
        q = statistics.quantiles(xs, n=4, method="inclusive")
    return {k: round(v, 3) for k, v in zip(("p25", "median", "p75"), q)}


def summarize(build_s: list[float], run_s: list[float], base: float | None = None) -> dict:
    """Quartiles of each phase and of their sum, the raw runs, and, given
    the first directory's median total ``base``, the SF ``ratio``."""
    total_s = [b + r for b, r in zip(build_s, run_s)]
    out = {
        "build_s": quartiles(build_s),
        "run_s": quartiles(run_s),
        "total_s": quartiles(total_s),
        "raw": {"build_s": build_s, "run_s": run_s},
    }
    if base is not None:
        out["ratio"] = round(out["total_s"]["median"] / base, 3)
    return out


def parse_args(argv: list[str], registered) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", help="comma-separated registered query names")
    ap.add_argument("--sf", action="append", help=f"fixture directory (default {DEFAULT_SF})")
    ap.add_argument("--runs", type=int, default=7)
    ap.add_argument("--plans", help="write formatted physical plans here")
    args = ap.parse_args(argv)
    args.names = args.names.split(",")
    unknown = [n for n in args.names if n not in registered]
    if unknown:
        ap.error(f"not registered: {', '.join(unknown)}")
    if args.runs < 1:
        ap.error("--runs must be at least 1")
    args.sf = args.sf or [DEFAULT_SF]
    return args


def write_plan(df, path: str) -> None:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(buf.getvalue())


def main(argv: list[str] | None = None) -> int:
    launcher_env()
    from kafka_streams_common_spark.queries import QUERIES
    from kafka_streams_common_spark.session import get_spark

    args = parse_args(sys.argv[1:] if argv is None else argv, QUERIES)
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    spark = get_spark("probe")
    for name in args.names:
        query = QUERIES[name]
        base = None
        for sf_dir in args.sf:
            df = query(spark, sf_dir)  # warm-up
            if args.plans:
                tag = os.path.basename(os.path.normpath(sf_dir))
                write_plan(df, os.path.join(args.plans, f"{name}@{tag}.txt"))
            df.write.format("noop").mode("overwrite").save()
            build_s, run_s = [], []
            for _ in range(args.runs):
                clear_state(spark)
                t0 = time.perf_counter()
                df = query(spark, sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                build_s.append(round(t1 - t0, 3))
                run_s.append(round(time.perf_counter() - t1, 3))
            rec = {"query": name, "sf_dir": sf_dir, **summarize(build_s, run_s, base)}
            if base is None:
                base = rec["total_s"]["median"]
            print(json.dumps(rec), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
