"""Warehouse benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload adhoc_star --seed 1 --seconds 15 --trace 0

Run it from the repository root.  The run generates its inputs from the
seed, starts a Spark session at ``local[<cpus>]``, sets the workload up,
measures for ``--seconds`` and checks every result outside the timed
window.  The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a traced run with ``--trace 1``.  Everything it writes lives
in ``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (span
files) under the repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: metric -> unit; BENCHMARK.json lists the same names and units
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "query_p50_ms": "ms",
    "query_p85_ms": "ms",
    "queries_per_s": "1/s",
}
PER_LAYER = {
    "rewrite_calls": "count",
    "rewrite_ms": "ms",
    "submit_p50_ms": "ms",
    "plan_steps_ms": "ms",
    "admit_ms": "ms",
    "wlm_queued": "count",
    "wlm_wait_p90_ms": "ms",
    "exec_p50_ms": "ms",
    "stages": "count",
    "tasks": "count",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "gc_ms": "ms",
    "executor_run_ms": "ms",
    "cache_calls": "count",
    "cache_key_ms": "ms",
    "cache_lookup_ms": "ms",
    "cache_store_ms": "ms",
    "cache_hit_ratio": "ratio",
    "cache_bytes": "bytes",
    "load_ms": "ms",
    "load_rows": "count",
    "load_rejected_ratio": "ratio",
    "load_rows_per_s": "1/s",
    "ctas_ms": "ms",
    "merge_ms": "ms",
    "delete_ms": "ms",
    "update_ms": "ms",
    "write_amplification": "ratio",
    "fact_files": "count",
    "stats_ms": "ms",
    "dmv_ms": "ms",
    "cycle_s": "s",
    "spans": "count",
    "trace_overhead_pct": "%",
    "self_bench_ms": "ms",
    "self_functions_ms": "ms",
    "self_engine_ms": "ms",
    "self_wlm_ms": "ms",
    "self_spark_ms": "ms",
    "self_result_cache_ms": "ms",
    "self_csv_loader_ms": "ms",
    "self_catalog_ms": "ms",
    "self_maintenance_ms": "ms",
    "self_meta_ms": "ms",
}

#: per-layer metrics a workload measures itself (the rest come from spans)
WORKLOAD_LAYER_KEYS = (
    "cache_hit_ratio",
    "cache_bytes",
    "load_rows",
    "load_rejected_ratio",
    "load_rows_per_s",
    "write_amplification",
    "fact_files",
    "cycle_s",
    "trace_overhead_pct",
)

SETUP_REPS = 3  # set-up repetitions per run; setup_s takes their median
HEAP = "2g"  # driver heap, initial and maximum


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: str) -> None:
    """The three things a run needs before Spark starts: Python workers
    that can import the engine, a fresh warehouse and local dirs, and a
    CPU count that matches the machine."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the session's 8g default heap is sized for the full query battery;
    # these workloads peak well under 2g
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` in [0, 100] of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)]


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs
    )


def dir_files(path: str, suffix: str) -> int:
    return sum(f.endswith(suffix) for _r, _d, fs in os.walk(path) for f in fs)


class Session:
    """The Spark session of one run and the JVM behind it."""

    def __init__(self, work: str) -> None:
        from sql_data_warehouse_samples_spark.session import build_session

        t0 = time.perf_counter()
        self.warehouse = os.path.join(work, "warehouse")
        self.spark = build_session(
            app_name="perfbench",
            extra_conf={
                "spark.sql.warehouse.dir": self.warehouse,
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                # a fixed heap size, so that heap resizing does not vary from
                # run to run, and no hsperfdata file in the system /tmp
                "spark.driver.extraJavaOptions": (
                    f"-Xms{HEAP} -Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.jvm_pid = int(self.spark.sparkContext._jvm.ProcessHandle.current().pid())

    def peak_rss_mb(self) -> float:
        py, jvm = vm_hwm_mb("self"), vm_hwm_mb(self.jvm_pid)
        print(f"perfbench: peak RSS python {py:.0f} MB, JVM {jvm:.0f} MB", file=sys.stderr)
        return py + jvm

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)


class SparkCounters:
    """Stage, task, shuffle, spill and GC totals between two points in
    time, from the engine's own REST-based metrics module."""

    def __init__(self, spark) -> None:
        from sql_data_warehouse_samples_spark import metrics

        self.spark = spark
        self.metrics = metrics
        self.stages0 = set(metrics.stage_metrics(spark))
        self.exec0 = self._executors()

    def _executors(self) -> dict[str, int]:
        rows = self.metrics.executor_metrics(self.spark)
        return {
            k: sum(r[k] for r in rows) for k in ("completed_tasks", "total_gc_ms")
        }

    def delta(self) -> dict[str, float]:
        stages = {
            sid: m
            for sid, m in self.metrics.stage_metrics(self.spark).items()
            if sid not in self.stages0
        }
        ex = self._executors()

        def total(col: str) -> int:
            return sum(m[col] for m in stages.values())

        return {
            "stages": len(stages),
            "tasks": ex["completed_tasks"] - self.exec0["completed_tasks"],
            "shuffle_read_bytes": total("shuffle_read_bytes"),
            "shuffle_write_bytes": total("shuffle_write_bytes"),
            "spill_bytes": total("memory_spill_bytes") + total("disk_spill_bytes"),
            "gc_ms": ex["total_gc_ms"] - self.exec0["total_gc_ms"],
            "executor_run_ms": total("executor_run_ms"),
        }


class Outcome:
    """Operations attempted and failed, shared by client threads."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.attempted = 0
        self.failed = 0

    def attempt(self) -> None:
        with self.lock:
            self.attempted += 1

    def fail(self, why: str) -> None:
        with self.lock:
            self.failed += 1
        print(f"perfbench: FAILED {why}", file=sys.stderr)


def traced_window(run_window, seconds: float, tracer, spark):
    """Run the window twice, untraced then traced, half the time each;
    returns (traced stats, overhead %, spark counter deltas)."""
    untraced = run_window(seconds / 2)
    counters = SparkCounters(spark)
    tracer.install()
    try:
        traced = run_window(seconds / 2)
    finally:
        tracer.uninstall()
    overhead = 100 * (untraced["rate"] / traced["rate"] - 1)
    return traced, overhead, counters.delta()


def layer_metrics(tracer, waits: list, spark_delta: dict, extra: dict) -> dict:
    """Every per-layer metric from the traced half's spans and counters;
    a layer the workload never calls reads 0."""

    def total(name: str) -> float:
        return sum(tracer.durations(name))

    def p(name: str, q: float) -> float:
        d = tracer.durations(name)
        return percentile(d, q) if d else 0.0

    granted = [w[3] * 1000 for w in waits if w[2] == "Granted"]
    cache_names = ("ResultCache.key_for", "ResultCache.lookup", "ResultCache.store")
    self_ms = tracer.self_ms()
    out = {
        "rewrite_calls": len(tracer.durations("rewriter.rewrite_tsql")),
        "rewrite_ms": total("rewriter.rewrite_tsql"),
        "submit_p50_ms": p("Engine.sql", 50),
        "plan_steps_ms": total("engine.plan_steps"),
        "admit_ms": total("AdmissionController.admit"),
        "wlm_queued": sum(1 for w in waits if w[2] == "Queued"),
        "wlm_wait_p90_ms": percentile(granted, 90) if granted else 0.0,
        "exec_p50_ms": p("exec", 50),
        **spark_delta,
        "cache_calls": sum(len(tracer.durations(n)) for n in cache_names),
        "cache_key_ms": total("ResultCache.key_for"),
        "cache_lookup_ms": total("ResultCache.lookup"),
        "cache_store_ms": total("ResultCache.store"),
        "load_ms": total("CsvLoader.load"),
        "ctas_ms": total("Catalog.create_table_as"),
        "merge_ms": total("Catalog.merge_into"),
        "delete_ms": total("Catalog.delete_where"),
        "update_ms": total("Catalog.update_where"),
        "stats_ms": total("StatisticsService.create_statistics"),
        "dmv_ms": total("dmv"),
        "spans": len(tracer.spans),
        **{f"self_{k}_ms": v for k, v in self_ms.items()},
    }
    if set(extra) != set(WORKLOAD_LAYER_KEYS):
        raise KeyError(f"workload metrics differ from {WORKLOAD_LAYER_KEYS}: {sorted(extra)}")
    out.update(extra)
    return out


def result_line(outcome: Outcome, values: dict, units: dict) -> str:
    missing = sorted(set(units) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    return json.dumps(
        {
            "correct": outcome.failed == 0,
            "attempted": outcome.attempted,
            "failed": outcome.failed,
            "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
        }
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sql_data_warehouse_samples_spark")):
        print(
            "perfbench: run from a repository checkout; the engine package "
            "sql_data_warehouse_samples_spark is missing",
            file=sys.stderr,
        )
        return 2
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    pin_environment(work)
    try:
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        session = Session(work)
        try:
            outcome, values, tracer = workloads.WORKLOADS[args.workload](
                session, args.seed, args.seconds, bool(args.trace), work
            )
        finally:
            session.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass
    if tracer is not None:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.write(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
    units = PER_LAYER if args.trace else END_TO_END
    print(result_line(outcome, values, units))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and exit non-zero, print no result
        traceback.print_exc()
        sys.exit(1)
