"""Benchmark for kafka_streams_common_spark, run from the repository root:

    python3 perfbench/run.py --workload config_pipelines --seed 1 --seconds 6 --trace 0

One process, ``local[N]`` with N = usable cores. It generates the workload's
inputs from ``--seed`` under ``.perfbench_work/``, sets up the Spark session
several times (``setup_s`` is the median), runs one checked pass whose
results are compared with DuckDB oracles and a fixed number of untimed
warm-up passes, then repeats timed passes for ``--seconds`` (at least
three). The last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``; the per-layer metrics with ``--trace 1``, where
untraced and traced passes (spans, status stores, the UDF profiler)
alternate, and the span log is written to ``.perfbench_work/traces/``.
See ``perfbench/README.md`` for every metric.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
SETUP_ROUNDS = 5
# Pass times fall over the first five or six passes of a session (JIT and
# Python-worker warm-up; task CPU per pass falls by a third): the checked
# pass and these untimed passes keep that fall out of the timed region.
WARMUP_PASSES = 4
TIMED_PASSES = 3  # at least this many timed passes, and at least --seconds of them


def _launcher_env(work: str) -> None:
    """Make the package importable here and on the Python workers, size the
    session to this machine, and keep every scratch file under ``work``."""
    paths = [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    sys.path.insert(0, REPO)
    cpus = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{min(4096, phys_mb // 4)}m")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants: the Python
    workers the JVM forks outlive it briefly, and must still be waited for."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def _descendants() -> list[int]:
    """Live (not yet reaped) descendant pids of this process."""
    import trace

    return trace.process_tree(os.getpid())[1:]


def stop_processes(spark, grace_s: float = 20.0) -> None:
    """Stop the Spark session, end the JVM (its gateway exits when its stdin
    closes) and wait until every process this run started has ended,
    killing what is still alive after ``grace_s``."""
    if spark is not None:
        try:
            spark.stop()
        except Exception as e:  # the JVM may already be gone; it is ended below
            print(f"# spark.stop: {type(e).__name__}: {e}", file=sys.stderr)
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            break  # no child left, running or unreaped
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in _descendants():
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def canon(pdf):
    """Order-insensitive canonical form of a result frame, as the
    repository's oracle checks compare them."""
    cols = sorted(pdf.columns)

    def cell(x):
        if x is None:
            return "NULL"
        if isinstance(x, float):
            return "NULL" if math.isnan(x) else format(x, ".10g")
        return str(x)

    return sorted(tuple(cell(c) for c in r) for r in pdf[cols].itertuples(index=False, name=None))


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, sample count)."""
    s = sorted(values)
    n = len(s)
    i = max(n - 11, 0)
    return s[i], 100.0 * (i + 1) / n, n


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload_name = args.workload
        self.work = os.path.join(REPO, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    # -- set-up ------------------------------------------------------------

    def setup(self):
        t0 = time.perf_counter()
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import gen
        import trace
        import workloads
        from kafka_streams_common_spark.session import get_spark

        self.trace, self.wl_mod = trace, workloads
        self.workload = workloads.WORKLOADS[self.workload_name]()
        self.kinds = {op.name: op.kind for op in self.workload.ops}
        self.import_s = time.perf_counter() - t0
        rounds = []
        self.spark = None
        for r in range(SETUP_ROUNDS):
            if self.spark is not None:
                self.spark.stop()
            data = os.path.join(self.work, f"data{r}")
            t = time.perf_counter()
            self.spark = get_spark(f"perfbench-{self.workload_name}")
            t_session = time.perf_counter()
            gen.generate(data, self.args.seed, self.workload.sizes)
            t_gen = time.perf_counter()
            self._warmup()
            t_end = time.perf_counter()
            rounds.append((t_session - t, t_gen - t_session, t_end - t_gen))
            if r:
                shutil.rmtree(os.path.join(self.work, f"data{r - 1}"), ignore_errors=True)
        self.data = data
        self.setup_rounds = rounds
        self.setup_s = self.import_s + statistics.median(sum(x) for x in rounds)
        print(f"# {self.workload_name}: set-up import {self.import_s:.3f} s, rounds (session, inputs, "
              f"warm-up job) {[tuple(round(x, 3) for x in r) for r in rounds]} s", file=sys.stderr)
        self.spark.conf.set("spark.sql.streaming.checkpointLocation", os.path.join(self.work, "ckpt"))
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def _warmup(self):
        """One small shuffle job, so the new context's lazy set-up is done."""
        df = self.spark.range(0, 1000, numPartitions=2)
        df.groupBy((df.id % 7).alias("k")).count().write.format("noop").mode("overwrite").save()

    # -- oracles -------------------------------------------------------------

    def oracle_con(self):
        import duckdb

        con = duckdb.connect()
        for path in sorted(glob.glob(os.path.join(self.data, "*.parquet"))):
            t = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}/*.parquet')")
        return con

    # -- passes ----------------------------------------------------------------

    def run_op(self, ctx, op, collect: bool, plan: bool):
        """Build and execute one operation; with ``collect`` return its result
        as a pandas frame."""
        spans = ctx.spans
        df = op.build(ctx)
        if plan and not df.isStreaming:
            with spans.span("compiler.plan"):
                df._jdf.queryExecution().executedPlan()
        with spans.span("execute"):
            if op.kind == "stream":
                result = op.run_stream(ctx, df)
                return result.toPandas() if collect else None
            if op.kind == "sink":
                path = self.wl_mod.sink_path(ctx, op)
                ctx.compiler.write_output(op.pipeline, df, os.path.dirname(path))
                return self.spark.read.parquet(path).toPandas() if collect else None
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
            return None

    def run_pass(self, spans, collect=False, plan=False) -> tuple[float, dict[str, float]]:
        self.wl_mod.reset_dir(os.path.join(self.work, "sinks"))
        self.wl_mod.reset_dir(os.path.join(self.work, "ckpt"))
        t0 = time.perf_counter()
        ctx = self.wl_mod.new_ctx(self.spark, self.data, self.work, spans)
        op_s = {}
        with spans.span("pass"):
            for op in self.workload.ops:
                self.attempted += 1
                t = time.perf_counter()
                with spans.span("op", op=op.name):
                    try:
                        got = self.run_op(ctx, op, collect, plan)
                    except Exception as e:  # a failing operation is counted, the run goes on
                        self.fail(op.name, f"{type(e).__name__}: {e}")
                        continue
                op_s[op.name] = time.perf_counter() - t
                if collect:
                    with spans.span("oracle"):
                        want = canon(self.con.execute(op.oracle).df())
                        if canon(got) != want:
                            self.fail(op.name, f"oracle mismatch ({len(got)} rows, oracle {len(want)})")
        return time.perf_counter() - t0, op_s

    def fail(self, op: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{op}: {why.splitlines()[0][:300]}")

    def timed_passes(self, spans) -> tuple[list[float], list[dict[str, float]]]:
        """Repeat passes until ``TIMED_PASSES`` have run and ``--seconds``
        have passed; return each pass's wall time and per-operation times."""
        passes, ops = [], []
        start = time.perf_counter()
        while len(passes) < TIMED_PASSES or time.perf_counter() - start < self.args.seconds:
            wall, op_s = self.run_pass(spans)
            passes.append(wall)
            ops.append(op_s)
        return passes, ops

    # -- the run ----------------------------------------------------------------

    def run(self) -> dict:
        self.setup()
        t = self.trace
        self.con = self.oracle_con()
        off = t.Spans(self.run_id(), enabled=False)
        warm = [self.run_pass(off, collect=True)[0]]  # the checked pass
        warm += [self.run_pass(off)[0] for _ in range(WARMUP_PASSES)]
        print(f"# {self.workload_name}: checked and warm-up passes {[round(w, 3) for w in warm]} s",
              file=sys.stderr)
        t.drain_listener_bus(self.spark)
        if self.args.trace:
            return self.traced(off)
        passes, op_times = self.timed_passes(off)
        op_med = {k: round(statistics.median(v), 3) for k in self.kinds
                  if (v := [o[k] for o in op_times if k in o])}
        print(f"# {self.workload_name}: passes {[round(p, 3) for p in passes]} s, operation medians "
              f"{op_med} s", file=sys.stderr)
        return {
            "setup_s": (self.setup_s, "s"),
            "pass_s": (statistics.median(passes), "s"),
        }

    def run_id(self) -> str:
        return f"{self.workload_name}-{self.args.seed}-{os.getpid()}"

    def traced(self, off) -> dict:
        """Untraced and traced passes, alternating after the warm-up, until
        each kind has run ``TIMED_PASSES`` times and ``--seconds`` have
        passed. Traced passes add spans around every layer call, an extra
        physical planning of each batch frame, the streaming listener and the
        UDF profiler; the counters of the SQL and app status stores cover
        every pass of the window."""
        t = self.trace
        spans = t.Spans(self.run_id(), enabled=True)
        execs0 = set(t.sql_execution_ids(self.spark))
        stages0 = t.stage_ids(self.spark)
        jobs0 = t.job_ids(self.spark)
        progress = t.ProgressLog()
        sinks = {"bytes": 0, "s": 0.0}
        untraced, untraced_ops, traced = [], [], []
        start = time.perf_counter()
        with t.RssSampler(self.jvm_pid) as rss:
            while (min(len(untraced), len(traced)) < TIMED_PASSES
                   or time.perf_counter() - start < self.args.seconds):
                wall, op_s = self.run_pass(off)
                untraced.append(wall)
                untraced_ops.append(op_s)
                self.spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
                self.spark.streams.addListener(progress)
                pass_mark = progress.mark()
                traced.append(self.run_pass(spans, plan=True)[0])
                t.drain_listener_bus(self.spark)
                self.spark.streams.removeListener(progress)
                self.spark.conf.unset("spark.sql.pyspark.udf.profiler")
                sinks["bytes"] += self.wl_mod.dir_bytes(os.path.join(self.work, "sinks"))
                sinks["s"] += self.sink_seconds(spans, progress.since(pass_mark))
        n_traced = len(traced)
        n = len(untraced) + n_traced
        execs = sorted(set(t.sql_execution_ids(self.spark)) - execs0)
        node = t.sql_node_counters(self.spark, execs)
        stage = t.stage_counters(self.spark, stages0)
        job_ms = t.job_durations_ms(self.spark, jobs0)
        tail_v, tail_p, n_jobs = tail(job_ms)
        print(f"# {self.workload_name}: job tail = p{tail_p:.1f} of {n_jobs} Spark jobs", file=sys.stderr)
        stream = t.stream_counters(progress.since(0))
        udf_cpu = self.udf_cpu_s()
        spans.dump(os.path.join(REPO, ".perfbench_work", "traces", f"{self.run_id()}.jsonl"))
        rounds = list(zip(*self.setup_rounds))
        m = {
            "config.load_s": (spans.total("config.load") / n_traced, "s"),
            "compiler.compile_s": (spans.total("compiler.compile") / n_traced, "s"),
            "compiler.plan_s": ((spans.total("compiler.plan") + stream["query_planning_ms"] / 1e3)
                                / n_traced, "s"),
            "compiler.exchanges": (node["exchanges"] / n, "count"),
            "catalog.scan_rows": (node["scan_rows"] / n, "count"),
            "catalog.scan_bytes": (node["scan_bytes"] / n, "bytes"),
            "catalog.scan_ms": (node["scan_ms"] / n, "ms"),
            "engine.shuffle_bytes": (stage["shuffle_bytes"] / n, "bytes"),
            "engine.fetch_wait_ms": (stage["fetch_wait_ms"] / n, "ms"),
            "engine.task_cpu_ms": (stage["task_cpu_ms"] / n, "ms"),
            "engine.gc_ms": (stage["gc_ms"] / n, "ms"),
            "engine.spill_bytes": (stage["spill_bytes"] / n, "bytes"),
            "engine.job_p50_ms": (statistics.median(job_ms), "ms"),
            "engine.job_tail_ms": (tail_v, "ms"),
            "operators.py_start_ms": (node["py_start_ms"] / n, "ms"),
            "operators.py_init_ms": (node["py_init_ms"] / n, "ms"),
            "operators.py_run_ms": (node["py_run_ms"] / n, "ms"),
            "operators.arrow_sent_bytes": (node["arrow_sent_bytes"] / n, "bytes"),
            "operators.arrow_returned_bytes": (node["arrow_returned_bytes"] / n, "bytes"),
            "operators.udf_cpu_s": (udf_cpu / n_traced, "s"),
            "operators.lsh_keep_ratio": (
                node["lsh_kept"] / node["lsh_candidates"] if node["lsh_candidates"] else 0.0, "ratio"),
            "sinks.write_s": (sinks["s"] / n_traced, "s"),
            "sinks.bytes_written": (sinks["bytes"] / n_traced, "bytes"),
            # RSS follows the JVM's GC-timed heap growth: too wide a spread for a bound
            "memory.peak_rss_mb": (rss.peak / (1 << 20), "MB"),
            "setup.import_s": (self.import_s, "s"),
            "setup.session_s": (statistics.median(rounds[0]), "s"),
            "setup.gen_s": (statistics.median(rounds[1]), "s"),
            "setup.warmup_s": (statistics.median(rounds[2]), "s"),
            "trace.overhead": (statistics.median(traced) / statistics.median(untraced), "ratio"),
        }
        for k in ("batches", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms", "state_commit_ms",
                  "state_rows", "state_bytes"):
            unit = "ms" if k.endswith("_ms") else ("bytes" if k == "state_bytes" else "count")
            m[f"streaming.{k}"] = (stream[k] / n_traced, unit)
        trigger_s = stream["trigger_ms"] / 1e3
        m["streaming.events_per_s"] = (stream["input_rows"] / trigger_s if trigger_s else 0.0, "1/s")
        # no stream of the benchmark sets a watermark yet: stays 0 until one does
        m["streaming.late_dropped_rows"] = (stream["late_dropped_rows"], "count")
        for name in self.wl_mod.OP_NAMES:
            vals = [o[name] for o in untraced_ops if name in o]
            m[f"queries.{name}.s"] = (statistics.median(vals) if vals else 0.0, "s")
        return m

    def sink_seconds(self, spans, progress: list[dict]) -> float:
        """Sink time of one pass: the execute spans of config ops with an
        enabled sink, plus ``addBatch`` of the ``foreachBatch`` changelog
        stream, whose every micro-batch writes its state table (it is the
        only unnamed query; memory sinks are always named)."""
        last_pass = max(r["id"] for r in spans.records if r["name"] == "pass")
        sink_ops = {r["id"] for r in spans.records if r["name"] == "op" and r["id"] > last_pass
                    and self.kinds[r["op"]] == "sink"}
        total = sum(r["end"] - r["start"] for r in spans.records
                    if r["name"] == "execute" and r["parent"] in sink_ops)
        return total + sum(r["duration"].get("addBatch", 0) for r in progress if r["name"] is None) / 1e3

    def udf_cpu_s(self) -> float:
        """Total Python CPU time the ``perf`` UDF profiler recorded."""
        import pstats

        out = os.path.join(self.work, "udf_profile")
        self.spark.profile.dump(out, type="perf")
        total = 0.0
        for f in glob.glob(os.path.join(out, "*.pstats")):
            total += pstats.Stats(f).total_tt
        self.spark.profile.clear(type="perf")
        return total


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["config_pipelines", "llm_curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "kafka_streams_common_spark")):
        print("perfbench: the kafka_streams_common_spark package is not next to perfbench/", file=sys.stderr)
        return 2
    bench = Bench(args)
    _launcher_env(bench.work)
    sys.path.insert(0, HERE)
    _become_subreaper()
    # a SIGTERM unwinds through the clean-up below like any other exit
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        metrics = bench.run()
    finally:
        stop_processes(getattr(bench, "spark", None))
        shutil.rmtree(bench.work, ignore_errors=True)
    for f in bench.failures:
        print(f"# failed: {f}", file=sys.stderr)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
