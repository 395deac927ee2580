"""chainhouse benchmark: one command, two workloads, every output checked.

    python3 perfbench/run.py --workload {ingest,analytics} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One run starts a local Spark session on
every core it may use, generates the workload's inputs from the seed,
warms up with untimed passes, then times passes of the workload's fixed
work until `--seconds` have elapsed, and checks every output against an
independent reference. The last stdout line is one JSON object:

    {"correct": bool, "attempted": ops, "failed": ops, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the run records spans and Spark counters per op and reports the per-layer
ones (see perfbench/README.md). `--steady` runs the steadiness check
instead (perfbench/steady.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

# End-to-end metrics: name -> unit. Every workload reports all of them.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_ratio": "ratio",
    "ok_ratio": "ratio",
}

TABLES = ("blocks", "transactions", "events", "withdraws")
SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "shuffle_bytes", "spill_bytes", "gc_s")
LAYERS = ("op", "sources.rpc", "transforms", "sinks.parquet", "frontend.ch_dialect", "queries")


def per_layer_units(tier: tuple[str, ...]) -> dict[str, str]:
    """Per-layer metrics: name -> unit. Every workload reports all of them;
    a layer that does no work on a workload reads 0."""
    u = {
        "sources.rpc.calls_per_block": "calls/block",
        "sources.rpc.wait_s": "s",
        "sources.rpc.failed_calls": "count",
        "node.cpu_s": "s",
        "transforms.build_s": "s",
        **{f"transforms.rows_out.{t}": "rows" for t in TABLES},
        **{f"sinks.parquet.write_s.{t}": "s" for t in TABLES},
        "sinks.parquet.compact_s": "s",
        "sinks.parquet.bytes_written": "bytes",
        "sinks.parquet.files_written": "count",
        "scan.bytes_read": "bytes",
        "scan.files_read_ratio": "ratio",
        "frontend.ch_dialect.translate_s": "s",
        "chain_sql.pass_s": "s",
        "queries.build_s": "s",
        "queries.eager_jobs": "count",
        **{f"queries.{q}.s": "s" for q in tier},
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.executor_run_s": "s",
        "spark.shuffle_bytes": "bytes",
        "spark.spill_bytes": "bytes",
        "spark.gc_s": "s",
        "session.start_s": "s",
        **{f"{layer}.self_s": "s" for layer in LAYERS},
        "trace.pass_s": "s",
    }
    return u


class Ctx:
    def __init__(self, seed: int, work: str, cores: int, opts: dict):
        self.seed, self.work, self.cores, self.opts = seed, work, cores, opts


def start_session(work: str, cores: int):
    """A local Spark session whose scratch, temp and warehouse files all
    stay under `work`. Returns (spark, seconds to start, JVM pid)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    from chainhouse_spark.session import build_spark

    # TieredStopAtLevel=1 keeps the JIT at its quick tier (C1). With the
    # full tiers a fresh JVM keeps speeding up for about four passes while
    # C2 compiles Spark's planner and generated code, and a run cannot
    # afford that warm-up (README.md, "Steadiness"). With C1 only, passes
    # are flat after the first. The price: the figures are those of
    # C1-compiled code, not of the code a production JVM ends up running.
    # A fixed-size heap (-Xms equal to spark.driver.memory): when the heap
    # may grow, whether G1 takes one more expansion step in a run moved
    # peak RSS by 30-40% between runs of identical work.
    java_opts = f"-XX:TieredStopAtLevel=1 -Xms2g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    t0 = time.perf_counter()
    spark = build_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    start_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, start_s, int(spark._jvm.java.lang.ProcessHandle.current().pid())


def stop_session(spark, jvm_pid: int) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    from perfbench import procstat

    pids = procstat.tree(jvm_pid)
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    for pid in procstat.wait_gone(pids, timeout=30):
        os.kill(pid, 9)
    procstat.wait_gone(pids, timeout=10)


class Runner:
    """Runs one workload: setup, warm-up, timed passes, checks."""

    def __init__(self, workload: str, ctx: Ctx, seconds: float, trace: bool):
        from perfbench import procstat, workloads

        self.ps = procstat
        self.w = workloads.WORKLOADS[workload](ctx)
        self.ctx, self.seconds, self.trace = ctx, seconds, trace
        self.passes: list[dict] = []
        self.failed_ops: set[tuple[int, str]] = set()
        self.errors: list[str] = []

    def _install_trace(self, spark):
        from chainhouse_spark import queries, transforms
        from chainhouse_spark.frontend import ch_dialect
        from chainhouse_spark.sinks import parquet
        from chainhouse_spark.sources import rpc
        from perfbench.trace import SparkCounters, Tracer

        self.tracer, self.counters = Tracer(), SparkCounters(spark)
        t = self.tracer
        if hasattr(self.w, "tracer"):
            self.w.tracer = t
        t.wrap(rpc, "raw_blocks_from_rpc", "sources.rpc")
        t.wrap(transforms, "all_tables_from_raw", "transforms")
        for fn in ("write_all", "compact_table", "read_table", "read_table_deduped"):
            t.wrap(parquet, fn, "sinks.parquet")
        t.wrap(parquet, "write_table", "sinks.parquet", tag=lambda args: {"table": args[1]})
        t.wrap(ch_dialect, "translate_ch_sql", "frontend.ch_dialect")
        sc = spark.sparkContext

        def in_build_group(orig):
            # Jobs run while a query's DataFrame is built are eager jobs;
            # they get the op's ":build" job group.
            def build(spark_, sf):
                sc.setJobGroup(f"{t.op}:build", f"{t.op}:build")
                try:
                    return orig(spark_, sf)
                finally:
                    sc.setJobGroup(t.op, t.op)

            return build

        for name in getattr(self.w, "queries", ()):
            t.patch(queries.QUERIES, name, in_build_group)
            t.wrap(queries.QUERIES, name, "queries")

    def run_pass(self, spark, p: int) -> dict:
        ops = self.w.ops(spark, p)
        rec = {"ops": {}, "counters": {}}
        c0, t0 = self.ps.cpu_s(self.jvm), time.perf_counter()
        for op in ops:
            o0 = time.perf_counter()
            try:
                if self.trace:
                    op_id = f"p{p}.{op.name}"
                    self.tracer.op = op_id
                    with self.counters.group(op_id), self.tracer.span("op", op.name):
                        out = op.fn()
                else:
                    out = op.fn()
                self.w.outputs.append((p, op.name, out))
            except Exception as e:  # a failed op is counted, the run goes on
                self.failed_ops.add((p, op.name))
                self.errors.append(f"pass {p} op {op.name}: {e!r}"[:2000])
            rec["ops"][op.name] = time.perf_counter() - o0
        rec["wall"] = time.perf_counter() - t0
        rec["cpu"] = self.ps.cpu_s(self.jvm) - c0
        rec["source"] = self.w.source_counters()
        rec["n_ops"] = len(ops)
        rec["scanned"] = {op.name: op.tables for op in ops}
        if self.trace:
            self.tracer.op = None
            for op in ops:
                gid = f"p{p}.{op.name}"
                rec["counters"][op.name] = self.counters.read(gid)
                rec["counters"][op.name + ":build"] = self.counters.read(gid + ":build")
        return rec

    def run(self) -> dict:
        ps, w = self.ps, self.w
        host0 = ps.host_sample()
        w.start_inputs()
        spark, self.start_s, self.jvm = start_session(os.path.join(self.ctx.work, "spark"), self.ctx.cores)
        try:
            gen = w.generate(spark)
            if self.trace:
                self._install_trace(spark)
            t_warm = time.perf_counter()
            for p in range(w.warm_passes):
                self.passes.append({**self.run_pass(spark, p), "timed": False})
            self.warm_s = time.perf_counter() - t_warm
            self.setup_s = self.start_s + statistics.median(gen) + self.warm_s
            # Timed passes fill `seconds`: a pass starts only if, at the
            # length of the previous pass, it ends within the window (the
            # first timed pass always runs), so a run's length stays fixed.
            t_timed = time.perf_counter()
            p = w.warm_passes
            while True:
                self.passes.append({**self.run_pass(spark, p), "timed": True})
                p += 1
                if time.perf_counter() - t_timed + self.passes[-1]["wall"] > self.seconds:
                    break
            self.timed_s = time.perf_counter() - t_timed
            if self.trace:
                self.tracer.unwrap_all()
            t_check = time.perf_counter()
            bad = w.check(spark)
            self.stored_ratio = w.stored_bytes_ratio(spark)
            self.layer = w.layer_metrics(spark)
            self.peak_rss_mb = ps.peak_rss_mb(self.jvm)
            self.check_s = time.perf_counter() - t_check
        finally:
            w.close()
            t_stop = time.perf_counter()
            stop_session(spark, self.jvm)
            self.stop_s = time.perf_counter() - t_stop
        for key, issues in bad.items():
            self.failed_ops.add(key)
            self.errors.append(f"pass {key[0]} op {key[1]}: {issues}"[:2000])
        self.host = ps.host_delta(host0, ps.host_sample())
        self.gen = gen
        return self.result()

    def timed(self) -> list[dict]:
        return [p for p in self.passes if p["timed"]]

    def result(self) -> dict:
        attempted = sum(p["n_ops"] for p in self.passes)
        failed = len(self.failed_ops)
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        timed = self.timed()
        if self.trace:
            metrics = self.layer_values(timed, med)
            from perfbench.workloads import TIER

            units = per_layer_units(TIER)
        else:
            metrics = {
                "setup_s": self.setup_s,
                "pass_s": med([p["wall"] for p in timed]),
                "cpu_s": med([p["cpu"] for p in timed]),
                "peak_rss_mb": self.peak_rss_mb,
                "stored_bytes_ratio": self.stored_ratio,
                "ok_ratio": (attempted - failed) / attempted,
            }
            units = END_TO_END
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
        }

    def layer_values(self, timed: list[dict], med) -> dict[str, float]:
        """Per-layer metrics: the median over timed passes of each pass's
        value, plus per-run figures (session start, node CPU, rows out)."""
        from perfbench.workloads import TIER as tier

        t = self.tracer
        per_pass: dict[str, list[float]] = {}

        def add(name: str, v: float) -> None:
            per_pass.setdefault(name, []).append(float(v))

        for p in timed:
            i = self.passes.index(p)
            prefix = f"p{i}."
            # Source counters are cumulative; a pass's share is the change
            # since the previous pass (a warm-up pass always precedes).
            src = {k: v - self.passes[i - 1]["source"][k] for k, v in p["source"].items()}
            blocks = src.get("blocks", 0.0)
            add("sources.rpc.calls_per_block", src["calls"] / blocks if blocks else 0.0)
            add("sources.rpc.wait_s", src.get("wait_s", 0.0))
            add("node.cpu_s", src.get("node_cpu_s", 0.0))
            run_ops = {k: v for k, v in p["counters"].items() if not k.endswith(":build")}
            build_ops = {k: v for k, v in p["counters"].items() if k.endswith(":build")}
            tot = lambda key, ops=run_ops: sum(c.get(key, 0.0) for c in ops.values())  # noqa: E731
            for c in SPARK_COUNTERS:
                add(f"spark.{c}", tot(c) + tot(c, build_ops))
            add("queries.eager_jobs", tot("jobs", build_ops))
            add("scan.bytes_read", tot("input_bytes"))
            scanned_files = sum(
                self.table_files(tb) for name, tbs in p["scanned"].items() for tb in tbs
            )
            read_files = sum(run_ops[n].get("files_read", 0.0) for n, tbs in p["scanned"].items() if tbs)
            add("scan.files_read_ratio", read_files / scanned_files if scanned_files else 0.0)
            # The chain_sql ops are the ones that scan warehouse tables.
            add("chain_sql.pass_s", sum(p["ops"][n] for n, tbs in p["scanned"].items() if tbs))
            add("sinks.parquet.bytes_written", tot("output_bytes"))
            add("sinks.parquet.files_written", tot("files_written"))
            for layer, s in t.self_s(prefix).items():
                add(f"{layer}.self_s", s)
            add("transforms.build_s", t.total_s("transforms", "flatten_rows", prefix))
            add("sinks.parquet.compact_s", t.total_s("sinks.parquet", "compact_table", prefix))
            add("frontend.ch_dialect.translate_s", t.total_s("frontend.ch_dialect", "translate_ch_sql", prefix))
            add("queries.build_s", sum(t.total_s("queries", q, prefix) for q in tier))
            for q in tier:
                add(f"queries.{q}.s", p["ops"].get(q, 0.0))
            for tb in TABLES:
                add(f"sinks.parquet.write_s.{tb}", self.write_s(prefix, tb))
            # The ingest probe is extra work of the traced run, not tracing
            # overhead: it is left out of the traced pass time.
            add("trace.pass_s", p["wall"] - t.probe_s(prefix))
        out = {k: med(v) for k, v in per_pass.items()}
        out["sources.rpc.failed_calls"] = self.passes[-1]["source"].get("failed_calls", 0.0)
        out["session.start_s"] = self.start_s
        out.update(self.layer)  # rows out of the last pass
        return out

    def write_s(self, prefix: str, table: str) -> float:
        """Seconds in `write_table` calls for `table` within the ops of one
        pass (the table name is the call's second argument)."""
        return sum(
            s["end"] - s["start"]
            for s in self.tracer.spans
            if s["fn"] == "write_table" and s.get("table") == table and (s["op"] or "").startswith(prefix)
        )

    def table_files(self, table: str) -> int:
        from perfbench.workloads import dir_bytes

        return dir_bytes(os.path.join(self.w.wh, table), ".parquet")[1] if hasattr(self.w, "wh") else 0

    def record(self) -> dict:
        """What steadiness mode and the trace file keep beyond the metrics."""
        return {
            "host": self.host,
            "warm_passes": [p["wall"] for p in self.passes if not p["timed"]],
            "timed_passes": [p["wall"] for p in self.timed()],
            "ops": [p["ops"] for p in self.passes],
            "gen_s": self.gen,
            "session_start_s": self.start_s,
            "warm_s": self.warm_s,
            "timed_s": self.timed_s,
            "check_s": self.check_s,
            "stop_s": self.stop_s,
            "errors": self.errors[:20],
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="chainhouse benchmark")
    ap.add_argument("--workload", choices=("ingest", "analytics"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="timed window (default 18; steadiness: BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--batch", type=int, help="ingest: blocks per write_all slice (default 32)")
    ap.add_argument("--small", action="store_true", help="toy-size inputs (smoke tests)")
    ap.add_argument("--steady", action="store_true", help="run the steadiness check instead")
    ap.add_argument("--runs", type=int, default=5, help="steadiness: runs per set")
    a = ap.parse_args(argv)
    if a.steady:
        from perfbench import steady

        return steady.main(a)
    if a.workload is None:
        ap.error("--workload is required")
    # Fail fast, before any process starts, when the package is missing.
    import chainhouse_spark.session  # noqa: F401

    opts = {}
    if a.small:
        opts.update(blocks=8, batch=4, chain_blocks=40, tier_scale=0.005)
    if a.batch:
        opts["batch"] = a.batch
    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    seconds = 18 if a.seconds is None else a.seconds
    runner = Runner(a.workload, Ctx(a.seed, work, cores, opts), seconds, bool(a.trace))
    try:
        result = runner.run()
        record = runner.record()
        if a.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            runner.tracer.dump(
                os.path.join(base, "traces", f"{a.workload}-seed{a.seed}.json"),
                {"record": record, "counters": [p["counters"] for p in runner.passes]},
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for e in record["errors"]:
        print(f"perfbench-error {e}", file=sys.stderr)
    print("perfbench-record " + json.dumps(record))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
