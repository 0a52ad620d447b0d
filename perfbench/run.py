"""Benchmark for etl_job_spark: one named workload, one client, one process.

Run from the repository root::

    python3 perfbench/run.py --workload mart_write --seed 1 --seconds 10 --trace 0

What one run does, in order:

1. Writes the input tables for ``--seed`` (``perfbench/datagen.py``) under
   ``.perfbench/`` in the checkout, and points every temp dir there.
2. Set-up, timed as ``setup_s``: imports the query registry, starts the
   Spark session (``local[4]``, 4 shuffle partitions) and runs the landing
   pass, i.e. each query of the workload once, collecting its rows. The
   first call of a query lands its fixtures (tables, IVF/PQ indexes).
3. Correctness gate, untimed and excluded from ``setup_s``: right after a
   query lands, its collected rows are compared with the query's DuckDB
   oracle (``tests/oracle.py``); a query without one must return rows.
   Every timed execution must also return the row count the landing pass
   saw.
4. Timed passes, a closed loop with one client: each pass runs every query
   once in an order drawn from ``--seed`` and the pass number, the next
   query starting when the previous ``noop`` write returns. The first pass
   is a warm-up that feeds no metric; passes repeat until ``--seconds``
   have passed, at least ``MIN_PASSES`` measured passes and
   ``MIN_SAMPLES`` executions are done.

``--trace 0`` prints the end-to-end metrics: ``pass_s`` (median pass wall),
``query_s.p50`` and ``query_s.tail`` (per-query latency: the highest
percentile with at least ten samples beyond it), ``setup_s`` and
``ok_ratio`` (executions that neither raised nor failed the gate, over
executions attempted).

``--trace 1`` wraps the public functions of each ``etl_job_spark`` module
(``perfbench/tracing.py``) before the registry is imported, reads Spark's
status store after every query (``perfbench/status.py``) and runs at
least five passes: an untraced one, then traced and untraced in T-U-U-T
order; it prints the per-layer metrics, each the median over traced
passes unless it is a per-run figure.

The last stdout line is one JSON object; everything else (per-query
samples, pass walls, tail percentile and sample count, host-phase probe,
hit counts per wrapped function, spans) goes to
``.perfbench/results/<workload>-seed<seed>-trace<t>.json`` and stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import from the checkout root, not this script's directory
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != os.path.dirname(__file__)]

from perfbench import arith, status, tracing  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

CPUS = 4
MIN_PASSES = 3  # measured passes, after one untimed warm-up pass
MIN_SAMPLES = arith.TAIL_BEYOND + 1  # the fewest that define query_s.tail
PROBE_ITERS = 2_000_000
WORK_DIR = ".perfbench"
SPARK_CONF = {
    # start the driver heap at 4g instead of letting it grow from 1/64 of
    # RAM: fewer, steadier young collections and no resizing during passes
    "spark.driver.defaultJavaOptions": "-Xms4g",
    # the console progress bar polls the status store from its own thread
    "spark.ui.showConsoleProgress": "false",
}


def host_probe() -> float:
    """Seconds a fixed CPU-only loop takes in a thread of its own; recorded
    beside the metrics to flag a run taken in a slow host phase."""
    out = []

    def loop() -> None:
        t0 = time.perf_counter()
        acc = 0
        for i in range(PROBE_ITERS):
            acc += i * i
        out.append(time.perf_counter() - t0)

    thread = threading.Thread(target=loop)
    thread.start()
    thread.join()
    return out[0]


def preflight(root: str) -> str | None:
    for need in ("etl_job_spark/plans/registry.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(root, need)):
            return f"{need} not found under {root}: run from a full checkout"
    return None


def sandbox(run_dir: str) -> dict[str, str]:
    """Create the run's directories and point Python, the JVM and Spark's
    local dirs at them, so the run writes only inside the checkout."""
    dirs = {k: os.path.join(run_dir, k) for k in ("data", "tmp", "spark-local")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        # -XX:-UsePerfData: no hsperfdata file under /tmp, outside the checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_SHUFFLE_PARTITIONS=str(CPUS),
        # executors' Python workers import the package from the checkout
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # read by pyspark when it launches the JVM; get_spark sets neither key
        PYSPARK_SUBMIT_ARGS=" ".join(
            [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in SPARK_CONF.items()] + ["pyspark-shell"]
        ),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


class Bench:
    def __init__(
        self, run_id: str, workload: str, seed: int, seconds: float, trace: bool, data_dir: str
    ):
        self.run_id = run_id
        self.workload = workload
        self.names = list(WORKLOADS[workload]["queries"])
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.data_dir = data_dir
        self.attempted = 0
        self.failures: list[dict] = []
        self.landing_rows: dict[str, int] = {}
        self.report: dict = {
            "run": run_id, "workload": workload, "seed": seed, "trace": int(trace)
        }

    # -- one execution -------------------------------------------------
    def _fail(self, phase: str, name: str, exc: BaseException) -> None:
        msg = f"{type(exc).__name__}: {exc}"[:500]
        self.failures.append({
            "phase": phase, "query": name, "error": msg,
            "traceback": traceback.format_exception(exc)[-6:],
        })
        print(f"# {phase} {name}: FAILED {msg}", file=sys.stderr)

    def execute(self, name: str, traced: bool) -> tuple[float, int, dict]:
        """Run one query to the noop sink; returns (seconds, rows, window).
        With ``traced`` the call is split into plan/catalyst/exec spans under
        one query span."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        tracer = self.tracer
        fn = self.queries[name]
        self.sc.setJobDescription(name)
        window = {"start": time.time()}
        t0 = time.perf_counter()
        if traced:
            root = tracer.open(f"query.{name}", "query")
            tracer.root = root[0]
            self.py4j.counting = True
        try:
            if traced:
                span = tracer.open(f"plans.{name}", "plans")
                try:
                    df = fn(self.spark, self.data_dir)
                finally:
                    tracer.close(span)
            else:
                df = fn(self.spark, self.data_dir)
            obs = Observation()
            out = df.observe(obs, F.count(F.lit(1)).alias("n"))
            if traced:
                span = tracer.open("catalyst.plan", "catalyst")
                try:
                    out._jdf.queryExecution().executedPlan()
                finally:
                    tracer.close(span)
                span = tracer.open("exec.action", "exec")
            try:
                out.write.format("noop").mode("overwrite").save()
                rows = int(obs.get["n"])
            finally:
                if traced:
                    tracer.close(span)
        finally:
            if traced:
                self.py4j.counting = False
                tracer.close(root)
                tracer.root = None
        elapsed = time.perf_counter() - t0
        window["end"] = window["start"] + elapsed
        return elapsed, rows, window

    # -- phases ----------------------------------------------------------
    def setup(self) -> None:
        t0 = time.perf_counter()
        from etl_job_spark.plans.registry import ORACLE, QUERIES
        from etl_job_spark.session import get_spark

        if self.trace:
            self.report["trace_rebound"] = tracing.rebind()
            self.tracer.enabled = True
        self.queries, self.oracle = QUERIES, ORACLE
        self.spark = get_spark("perfbench")
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.report["session_start_s"] = time.perf_counter() - t0
        if self.trace:
            self.py4j = tracing.Py4JCounter(self.sc._gateway)
            self.status = status.StatusReader(self.sc)
        landing, gate_s = {}, 0.0
        for name in self.names:
            self.attempted += 1
            self.sc.setJobDescription(name)
            q0 = time.perf_counter()
            try:
                out = self.queries[name](self.spark, self.data_dir).toPandas()
            except Exception as exc:  # a failing query is reported, not dropped
                self._fail("landing", name, exc)
                continue
            landing[name] = time.perf_counter() - q0
            self.landing_rows[name] = len(out)
            gate_s += self.gate(name, out)
        self.setup_s = time.perf_counter() - t0 - gate_s
        self.report.update(
            setup_s=self.setup_s, gate_s=gate_s, landing_s=landing, landing_rows=self.landing_rows
        )

    def gate(self, name: str, out) -> float:
        """Compare the landing pass's collected rows with the query's DuckDB
        oracle, before a later query can touch shared tables; returns the
        seconds the comparison took, which no metric includes."""
        from tests.oracle import assert_matches, run_oracle

        t0 = time.perf_counter()
        self.attempted += 1
        try:
            if name in self.oracle:
                assert_matches(_Collected(out), run_oracle(self.oracle[name], self.data_dir), name)
            elif not len(out):
                raise AssertionError(f"{name}: landing pass returned no rows")
        except Exception as exc:
            self._fail("gate", name, exc)
        return time.perf_counter() - t0

    def timed_passes(self) -> None:
        """Closed loop over seeded pass orders. Pass 0 is a warm-up: the
        queries keep speeding up for a pass or two after landing, so it
        feeds no metric. In trace mode the passes after it go traced,
        untraced, untraced, traced (repeating), so the drift that is left
        does not bias ``trace.overhead_frac``."""
        if self.trace:
            self.status.skip_to_now()
            self.tracer.enabled = False
        samples: dict[str, list[float]] = {n: [] for n in self.names}
        passes: list[dict] = []
        t_start = time.perf_counter()
        n_samples = 0
        index = 0
        min_passes = 5 if self.trace else 1 + MIN_PASSES
        while index < min_passes or (
            time.perf_counter() - t_start < self.seconds * (2 if self.trace else 1)
            or n_samples < MIN_SAMPLES
        ):
            traced = self.trace and index > 0 and index % 4 in (0, 1)
            record = self.one_pass(index, traced)
            passes.append(record)
            if not record["query_s"]:
                break  # every query failed; more passes would not help
            if index:
                for name, elapsed in record["query_s"].items():
                    samples[name].append(elapsed)
            n_samples = sum(len(v) for v in samples.values())
            index += 1
        self.samples, self.passes = samples, passes

    def one_pass(self, index: int, traced: bool) -> dict:
        order = arith.pass_order(self.names, self.seed, index)
        record = {"index": index, "traced": traced, "order": order, "query_s": {}}
        if self.trace:
            self.tracer.enabled = traced
            first_span = len(self.tracer.spans)
            calls0 = self.py4j.calls
            spark_totals: dict = {}
            windows = []
            pinned = 0
        wall = 0.0
        for name in order:
            self.attempted += 1
            try:
                elapsed, rows, window = self.execute(name, traced)
            except Exception as exc:
                self._fail(f"pass{index}", name, exc)
                if self.trace:
                    self.status.read(name)  # drop the failed query's jobs
                continue
            wall += elapsed
            if self.trace:  # bookkeeping outside the query's interval
                got = self.status.read(name)
                window["covered"] = arith.union_length(
                    got.pop("intervals"), (window["start"], window["end"])
                )
                windows.append(window)
                for k, v in got.items():
                    spark_totals[k] = spark_totals.get(k, 0) + v
                pinned = max(pinned, self.sc._jsc.getPersistentRDDs().size())
            if rows != self.landing_rows.get(name):
                self._fail(
                    f"pass{index}", name,
                    AssertionError(f"rows {rows} != landing rows {self.landing_rows.get(name)}"),
                )
                continue
            record["query_s"][name] = elapsed
        record["wall_s"] = wall
        if self.trace:
            record["spans"] = (first_span, len(self.tracer.spans))
            record["py4j_calls"] = self.py4j.calls - calls0
            record["pinned_rdds"] = pinned
            covered = sum(w["covered"] for w in windows)
            record["spark"] = dict(
                spark_totals,
                driver_gap_s=wall - covered,
                job_wall_s=covered,
            )
        return record

    # -- results ---------------------------------------------------------
    def end_to_end(self) -> dict:
        walls = [p["wall_s"] for p in self.passes[1:]]
        flat = [s for v in self.samples.values() for s in v]
        tail_value, tail_pct, n = arith.tail(flat)
        self.report.update(
            pass_walls_s=walls,
            samples_s=self.samples,
            tail={"percentile": tail_pct, "samples": n},
        )
        failed = len(self.failures)
        return {
            "pass_s": {"value": statistics.median(walls), "unit": "s"},
            "query_s.p50": {"value": statistics.median(flat), "unit": "s"},
            "query_s.tail": {"value": tail_value, "unit": "s"},
            "setup_s": {"value": self.setup_s, "unit": "s"},
            "ok_ratio": {"value": (self.attempted - failed) / self.attempted, "unit": "ratio"},
        }

    def per_layer(self, peak_rss_mb: float, leaked: int) -> dict:
        spans = self.tracer.spans
        as_dicts = [
            {"id": s[0], "parent": s[3], "start": s[4], "end": s[5]} for s in spans
        ]
        self_t = arith.self_times(as_dicts)
        traced = [p for p in self.passes if p["traced"]]
        untraced = [p for p in self.passes[1:] if not p["traced"]]

        def per_pass(fn) -> float:
            return statistics.median(fn(p) for p in traced)

        def layer_s(p, layer) -> float:
            lo, hi = p["spans"]
            return sum(self_t[s[0]] for s in spans[lo:hi] if s[2] == layer)

        def layer_n(p, layer) -> int:
            lo, hi = p["spans"]
            return sum(1 for s in spans[lo:hi] if s[2] == layer)

        def accounted(p) -> float:
            lo, hi = p["spans"]
            inner = sum(self_t[s[0]] for s in spans[lo:hi] if s[2] != "query")
            return inner / p["wall_s"]

        def run_total(layer) -> float:
            return sum((self_t[s[0]] for s in spans if s[2] == layer), 0.0)

        def spark(key) -> float:
            return per_pass(lambda p: p["spark"][key])

        def slot_idle(p) -> float:
            job_wall = p["spark"]["job_wall_s"]
            return 1 - p["spark"]["executor_run_s"] / (CPUS * job_wall) if job_wall else 1.0

        m: dict[str, tuple[float, str]] = {
            "session.start_s": (run_total("session"), "s"),
            "plans.build_s": (per_pass(lambda p: layer_s(p, "plans")), "s"),
            "sources.load_s": (per_pass(lambda p: layer_s(p, "sources")), "s"),
            "sources.calls": (per_pass(lambda p: layer_n(p, "sources")), "count"),
            "table.write_s": (per_pass(lambda p: layer_s(p, "table.write")), "s"),
            "table.write_calls": (per_pass(lambda p: layer_n(p, "table.write")), "count"),
            "table.read_s": (per_pass(lambda p: layer_s(p, "table.read")), "s"),
            "table.read_calls": (per_pass(lambda p: layer_n(p, "table.read")), "count"),
            "txn.commit_s": (per_pass(lambda p: layer_s(p, "txn")), "s"),
            "txn.commits": (per_pass(lambda p: layer_n(p, "txn")), "count"),
            "sql.dml_s": (per_pass(lambda p: layer_s(p, "sql")), "s"),
            "sql.statements": (per_pass(lambda p: layer_n(p, "sql")), "count"),
            "merge.op_s": (per_pass(lambda p: layer_s(p, "merge")), "s"),
            "dedup.op_s": (per_pass(lambda p: layer_s(p, "dedup")), "s"),
            "dedup.calls": (per_pass(lambda p: layer_n(p, "dedup")), "count"),
            "text.op_s": (per_pass(lambda p: layer_s(p, "text")), "s"),
            "similarity.build_s": (run_total("similarity.build"), "s"),
            "similarity.search_s": (per_pass(lambda p: layer_s(p, "similarity.search")), "s"),
            "catalyst.plan_s": (per_pass(lambda p: layer_s(p, "catalyst")), "s"),
            "exec.action_s": (per_pass(lambda p: layer_s(p, "exec")), "s"),
            "spark.jobs": (spark("jobs"), "count"),
            "spark.stages": (spark("stages"), "count"),
            "spark.tasks": (spark("tasks"), "count"),
            "spark.executor_run_s": (spark("executor_run_s"), "s"),
            "spark.executor_cpu_s": (spark("executor_cpu_s"), "s"),
            "spark.shuffle_read_mb": (spark("shuffle_read_mb"), "MB"),
            "spark.shuffle_write_mb": (spark("shuffle_write_mb"), "MB"),
            "spark.spill_mb": (spark("spill_mb"), "MB"),
            "spark.input_mb": (spark("input_mb"), "MB"),
            "spark.output_mb": (spark("output_mb"), "MB"),
            "spark.driver_gap_s": (spark("driver_gap_s"), "s"),
            "spark.slot_idle_frac": (per_pass(slot_idle), "ratio"),
            "py4j.calls": (per_pass(lambda p: p["py4j_calls"]), "count"),
            "jvm.pinned_rdds": (per_pass(lambda p: p["pinned_rdds"]), "count"),
            "jvm.peak_rss_mb": (peak_rss_mb, "MB"),
            "scratch.leaked_dirs": (leaked, "count"),
            "trace.accounted_frac": (per_pass(accounted), "ratio"),
            "trace.overhead_frac": (
                statistics.median(p["wall_s"] for p in traced)
                / statistics.median(p["wall_s"] for p in untraced) - 1,
                "ratio",
            ),
        }
        py4j = [p["py4j_calls"] for p in traced]
        self.report.update(
            hits=dict(sorted(self.tracer.hits.items())),
            py4j_calls_per_pass=py4j,
            spark_per_pass=[p["spark"] for p in traced],
            layers_per_pass={
                layer: [layer_s(p, layer) for p in traced]
                for layer in sorted({s[2] for s in spans})
            },
            spans=[
                {"run": self.run_id, "id": s[0], "name": s[1], "layer": s[2],
                 "parent": s[3], "start": s[4], "end": s[5]}
                for s in spans
            ],
        )
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    # -- whole run -------------------------------------------------------
    def run(self) -> dict:
        self.tracer = tracing.TRACER if self.trace else None
        if self.trace:
            tracing.install()
        self.spark = None
        try:
            self.setup()
            self.timed_passes()
            metrics = self.end_to_end()
            app_id = self.sc.applicationId
            jvm_pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
            self.report["jvm_args"] = list(
                self.sc._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
                .getInputArguments()
            )
            from etl_job_spark.scratch import reclaim_scratch

            reclaim_scratch(app_id)
            leaked = sorted(d for d in os.listdir(tempfile.gettempdir()) if app_id in d)
            self.report["leaked_dirs"] = leaked
            peak = _peak_rss_mb(jvm_pid)
            self.report["jvm_peak_rss_mb"] = peak
            if self.trace:
                metrics = self.per_layer(peak, len(leaked))
        finally:
            _stop_spark(self.spark)
        failed = len(self.failures)
        self.report.update(failures=self.failures, attempted=self.attempted)
        return {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": metrics,
        }


class _Collected:
    """Rows already collected, in the shape ``assert_matches`` reads."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    problem = preflight(ROOT)
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, WORK_DIR)
    run_id = f"{tag}-{os.getpid()}"
    run_dir = os.path.join(work, "runs", run_id)
    dirs = sandbox(run_dir)
    probe_start = host_probe()
    from perfbench.datagen import write_tables

    write_tables(args.seed, dirs["data"])
    bench = Bench(run_id, args.workload, args.seed, args.seconds, bool(args.trace), dirs["data"])
    try:
        result = bench.run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    bench.report["host_probe_s"] = {"start": probe_start, "end": host_probe()}
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    with open(os.path.join(work, "results", f"{tag}.json"), "w") as fh:
        json.dump(dict(bench.report, result=result), fh, indent=1, default=str)
    r = bench.report
    print(
        f"# {tag}: setup {r['setup_s']:.2f}s gate {r['gate_s']:.2f}s "
        f"passes {len(r['pass_walls_s'])} tail p{r['tail']['percentile']:.1f} "
        f"of {r['tail']['samples']} samples, host probe "
        f"{r['host_probe_s']['start']:.3f}/{r['host_probe_s']['end']:.3f}s, "
        f"leaked scratch {r['leaked_dirs']}",
        file=sys.stderr,
    )
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
