"""Benchmark of the engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload {corpus,etl_pipeline}
        --seed N --seconds S --trace {0,1}

A single driver process runs a closed loop on ``local[<cores>]``: each item
starts only after the previous one has finished, and a pass runs every item
of the workload once, in an order drawn from the seed. The run

1. starts the session and generates the workload's inputs from the seed
   under ``.perfbench-out/`` (removed at exit);
2. runs the first (cold) pass, collecting each item's result and checking it
   against an oracle; ``setup_s`` ends here and excludes the oracles' time;
3. runs the workload's ``warmup_passes`` unrecorded passes, then warm passes
   until ``--seconds`` have elapsed.

With ``--trace 0`` the last line of stdout reports the end-to-end metrics;
with ``--trace 1`` warm passes alternate untraced and traced, and it reports
the per-layer metrics of the traced passes plus the tracing overhead. The
line before it carries every number of the run with its sample counts.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench-out")

# Per-layer metrics of a traced run and their units; each is the median over
# the run's traced passes of its sum (task_skew: maximum) over one pass.
PER_LAYER = {
    "session.start_s": "s",
    "sources.read_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_stages": "count",
    "operators.exec_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.driver_gap_s": "s",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_read_bytes": "bytes",
    "operators.shuffle_write_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.task_skew": "ratio",
    "operators.failed_tasks": "count",
    "operators.python_worker_cpu_s": "s",
    "caching.release_s": "s",
    "caching.released": "count",
    "caching.stored_bytes": "bytes",
    "sinks.write_s": "s",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "pipeline.run_s": "s",
    "trace.overhead_s": "s",
}


def _driver_memory() -> str:
    """A driver heap that fits the machine: a quarter of RAM, at most 2 GiB."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    return f"{max(512, min(2048, total_mb // 4))}m"


def _start_session(work: str):
    # Half the machine's cores: the JIT compiler, the collector, Spark's
    # scheduler threads and the Python driver run beside the tasks, and with
    # a task thread per core they queue behind the tasks.
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    heap = _driver_memory()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # every JVM the launch starts, spark-submit's launcher included
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = tmp
    from scala_etl_test_spark.session import build_session

    spark = build_session(
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap: peak RSS then does not hang on how far the
            # collector chose to grow the heap in this particular run
            "spark.driver.extraJavaOptions": f"-Xms{heap}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers under it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


class Run:
    """One run's passes and everything they record."""

    def __init__(self, args, spark):
        import workloads
        from tracing import SparkCounters, Tracer

        self.args, self.spark = args, spark
        self.counters = SparkCounters(spark)
        self.tracer = Tracer(spark, self.counters)
        self.workload = workloads.WORKLOADS[args.workload]()
        self.attempted = self.failed = 0
        self.oracle_s = 0.0
        self.checks: dict = {}
        self.latencies: dict[str, list[float]] = {}
        self.pass_walls: dict[bool, list[float]] = {False: [], True: []}
        self.layer_passes: list[dict] = []
        if args.trace:
            self._trace_table_reads()

    def _trace_table_reads(self) -> None:
        """Span every ``read_table`` call the registry queries make; their
        jobs stay in the caller's job group."""
        from scala_etl_test_spark.sources import parquet_source

        read_table, tracer = parquet_source.read_table, self.tracer

        def traced_read_table(spark, sf_dir, name):
            with tracer.span("sources.read", own_group=False):
                return read_table(spark, sf_dir, name)

        parquet_source.read_table = traced_read_table

    def _order(self, pass_no: int) -> list[str]:
        items = list(self.workload.items)
        random.Random(f"{self.args.seed}:{pass_no}").shuffle(items)
        return items

    def _item(self, name: str, item_id: str, check: bool) -> tuple[float, dict | None]:
        """Run one item; returns (latency without oracle time, result), with
        a None result when the item raised."""
        self.attempted += 1
        self.tracer.begin_item(item_id)
        start = time.perf_counter()
        try:
            out = self.workload.run(name, check)
        except Exception:  # an item failure is a result of the run, not a crash
            traceback.print_exc(file=sys.stderr)
            self.spark.sparkContext._jsc.clearJobGroup()
            self.failed += 1
            return time.perf_counter() - start, None
        return time.perf_counter() - start - out.get("untimed_s", 0.0), out

    def cold_pass(self) -> None:
        """First pass: every item's output is checked. The time spent in
        oracles, which set-up excludes, goes to ``oracle_s``."""
        for name in self._order(0):
            _, out = self._item(name, f"p0-{name}", check=True)
            if out is None:
                self.checks[name] = {"ok": False, "detail": "raised"}
                continue
            self.oracle_s += out.get("untimed_s", 0.0)
            self.checks[name] = out["check"]
            if not out["check"]["ok"]:
                self.failed += 1

    def warm_pass(self, pass_no: int, traced: bool, record: bool = True) -> None:
        """One warm pass. Its wall time is the sum of its item latencies, so
        the counter scraping between traced items is not part of it."""
        self.tracer.enabled = traced
        layers: dict = {}
        cpu0 = self.counters.python_worker_cpu_s() if traced else 0.0
        wall = 0.0
        for name in self._order(pass_no):
            item_id = f"p{pass_no}-{name}"
            lo = time.time()
            latency, out = self._item(name, item_id, check=False)
            hi = time.time()
            wall += latency
            if out is None or not record:
                continue
            if traced:
                self._add_layers(layers, item_id, out, lo, hi)
            else:
                self.latencies.setdefault(name, []).append(latency)
        if record:
            self.pass_walls[traced].append(wall)
        if traced:
            layers["operators.python_worker_cpu_s"] = self.counters.python_worker_cpu_s() - cpu0
            self.layer_passes.append(layers)
        self.tracer.enabled = False

    def _add_layers(self, acc: dict, item_id: str, out: dict, lo: float, hi: float) -> None:
        groups = list(self.tracer.groups)
        jobs = self.counters.jobs(groups)
        by_group = {g: [j for j in jobs if j.get("jobGroup") == g] for g in groups}
        c = self.counters.item_counters(by_group, lo, hi)
        self_s = self.tracer.self_times(item_id)
        build = f"{item_id}:plans.build"
        values = {
            "sources.read_s": self_s.get("sources.read", 0.0),
            "sources.input_bytes": c["input_bytes"],
            "sources.input_records": c["input_records"],
            "plans.build_s": self_s.get("plans.build", 0.0),
            "plans.build_jobs": c["group_jobs"].get(build, 0),
            "plans.build_stages": c["group_stages"].get(build, 0),
            "operators.exec_s": self_s.get("operators.exec", 0.0),
            "operators.jobs": sum(n for g, n in c["group_jobs"].items() if g != build),
            "operators.stages": sum(n for g, n in c["group_stages"].items() if g != build),
            "operators.tasks": c["tasks"],
            "operators.driver_gap_s": c["driver_gap_s"],
            "operators.executor_run_s": c["executor_run_ms"] / 1e3,
            "operators.executor_cpu_s": c["executor_cpu_ns"] / 1e9,
            "operators.gc_s": c["gc_ms"] / 1e3,
            "operators.shuffle_read_bytes": c["shuffle_read_bytes"],
            "operators.shuffle_write_bytes": c["shuffle_write_bytes"],
            "operators.spill_bytes": c["spill_memory_bytes"] + c["spill_disk_bytes"],
            "operators.failed_tasks": c["failed_tasks"],
            "caching.release_s": self_s.get("caching.release", 0.0),
            "caching.released": out.get("released", 0),
            "caching.stored_bytes": self.tracer.notes.get("stored_bytes", 0),
            "sinks.write_s": c["write_s"],
            "sinks.bytes_written": c["output_bytes"],
            "sinks.files_written": out.get("files_written", 0),
            "pipeline.run_s": self_s.get("pipeline.run", 0.0),
        }
        for k, v in values.items():
            acc[k] = acc.get(k, 0) + v
        acc["operators.task_skew"] = max(acc.get("operators.task_skew", 1.0), c["task_skew"])


def main(argv: list[str] | None = None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import oracle_harness  # noqa: F401
        import scala_etl_test_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine or its oracle harness is missing: {exc}", file=sys.stderr)
        return 2

    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        t_session = time.perf_counter()
        spark, cores = _start_session(work)
        session_s = time.perf_counter() - t_session
        run = Run(args, spark)
        sizes = run.workload.prepare(spark, run.tracer, work, args.seed)
        run.cold_pass()
        setup_s = time.perf_counter() - _T0 - run.oracle_s
        for _ in range(run.workload.warmup_passes):
            run.warm_pass(0, traced=False, record=False)

        t_measure = time.perf_counter()
        pass_no = 1
        while time.perf_counter() - t_measure < args.seconds or (args.trace and not run.layer_passes):
            run.warm_pass(pass_no, traced=bool(args.trace) and pass_no % 2 == 0)
            pass_no += 1
        peak_rss_mb = run.counters.peak_rss_mb()
        if args.trace:
            run.tracer.write(os.path.join(OUT_DIR, f"spans-{args.workload}-seed{args.seed}.json"))
        run.workload.close()
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    report = _report(args, run, sizes, setup_s, session_s, peak_rss_mb, cores)
    print(json.dumps(report["detail"], sort_keys=True))
    print(json.dumps(report["result"]))
    sys.stdout.flush()
    return 0


def _report(args, run: Run, sizes, setup_s, session_s, peak_rss_mb, cores) -> dict:
    def metric(value, unit):
        return {"value": value, "unit": unit}

    untraced = run.pass_walls[False]
    median = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731 - empty when every item failed
    failed_frac = run.failed / run.attempted
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cores": cores, "inputs": sizes, "checks": run.checks, "attempted": run.attempted,
        "failed": run.failed, "failed_frac": metric(failed_frac, "fraction"),
        "session_s": session_s, "oracle_s": run.oracle_s, "warm_passes": len(untraced),
        "pass_walls_s": untraced,
    }
    if args.trace:
        layers = {k: median([p.get(k, 0) for p in run.layer_passes]) for k in PER_LAYER}
        layers["session.start_s"] = session_s
        layers["trace.overhead_s"] = median(run.pass_walls[True]) - median(untraced)
        metrics = {k: metric(layers[k], unit) for k, unit in PER_LAYER.items()}
        detail["traced_passes"] = len(run.layer_passes)
    else:
        # A run holds a few passes, so no percentile above the median has 10
        # samples beyond it, and the pooled samples of a few items cluster
        # around each item: the item medians are the robust summary.
        item_medians = [statistics.median(v) for v in run.latencies.values()]
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "wall_s": metric(median(untraced), "s"),
            "query_p50_s": metric(median(item_medians), "s"),
            "query_tail_s": metric(max(item_medians, default=0.0), "s"),
            "peak_rss_mb": metric(peak_rss_mb, "MB"),
        }
        detail["latency_samples"] = {k: len(v) for k, v in run.latencies.items()}
        detail["item_median_s"] = dict(zip(run.latencies, item_medians))
    detail["metrics"] = metrics
    result = {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}
    return {"detail": detail, "result": result}


if __name__ == "__main__":
    sys.exit(main())
