"""The benchmark's workloads.  Each takes (session, seed, seconds, trace,
work dir) and returns (Outcome, metric values, Tracer or None).

* ``adhoc_star``: a closed loop of one client thread per CPU sharing one
  ``Engine``; each client sends seeded T-SQL reports over a bucketed star
  and waits for the rows.  Result-set caching stays off.
* ``etl_refresh``: one client running load -> merge -> DELETE -> UPDATE ->
  statistics -> cached dashboard passes -> monitoring DMVs, cycle after
  cycle; the fact's row count stays level.
"""

from __future__ import annotations

import os
import statistics
import sys
import threading
import time

import gen
import reports
from check import Oracle, fingerprint
from run import (
    SETUP_REPS,
    Outcome,
    cpus,
    dir_bytes,
    dir_files,
    layer_metrics,
    percentile,
    traced_window,
)
from trace import Tracer

from sql_data_warehouse_samples_spark.catalog import hash_layout, replicate_layout
from sql_data_warehouse_samples_spark.engine import Engine
from sql_data_warehouse_samples_spark.sources.csv_loader import ColumnSpec, LoadOptions

#: facts are hash-distributed and bucketed on their key; dimensions are
#: replicated
BUCKETS = 8
STAR_LAYOUTS = {
    "lineitem": hash_layout("l_orderkey", buckets=BUCKETS),
    "orders": hash_layout("o_orderkey", buckets=BUCKETS),
}
REFRESH_PASSES = 4  # the first pass after a merge misses, the rest hit
WARM_PASSES = 1  # the warm-up cycle runs the miss path; hits only read parquet


def _median_setup(setup_once) -> float:
    times = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        setup_once()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _query_metrics(latencies: list[float], busy_s: float) -> dict:
    return {
        "query_p50_ms": percentile(latencies, 50),
        # the highest percentile with about ten samples beyond it in a run
        "query_p85_ms": percentile(latencies, 85),
        "queries_per_s": len(latencies) / busy_s,
    }


# --- adhoc_star ----------------------------------------------------------------


def adhoc_star(session, seed: int, seconds: float, trace: bool, work: str):
    spark = session.spark
    eng = Engine(spark)
    parquet = gen.write_parquet(gen.star_tables(seed), os.path.join(work, "star"))
    oracle = Oracle(reports.STAR, parquet)
    outcome = Outcome()
    tracer = Tracer()

    def build(names, mode: str) -> None:
        for name in names:
            eng.create_table_as(
                f"{reports.STAR}.{name}",
                spark.read.parquet(parquet[name]),
                STAR_LAYOUTS.get(name, replicate_layout()),
                mode=mode,
            )

    # dimensions once, the facts SETUP_REPS times
    t0 = time.perf_counter()
    eng.catalog.create_schema(reports.STAR)
    build([n for n in parquet if n not in STAR_LAYOUTS], "errorifexists")
    dims_s = time.perf_counter() - t0
    build_s = _median_setup(lambda: build(STAR_LAYOUTS, "overwrite"))
    n_clients = cpus()

    def run_clients(streams, secs: float | None) -> dict:
        """One thread per stream, each sending its reports in order until
        the stream ends or ``secs`` have passed."""
        results: list[tuple] = []
        start = time.perf_counter()
        deadline = start + secs if secs is not None else float("inf")

        def client(stream) -> None:
            for template, params, rc in stream:
                if time.perf_counter() >= deadline:
                    return
                _report(eng, tracer, outcome, results, template, params, rc)

        threads = [threading.Thread(target=client, args=(s,)) for s in streams]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        busy = time.perf_counter() - start
        lat = [r[3] for r in results if r[4] is not None]
        return {"results": results, "lat": lat, "busy": busy, "rate": len(lat) / busy}

    # warm-up: every template once, spread over the clients
    t1 = time.perf_counter()
    warm = gen.report_stream(seed, -1, reports.TEMPLATES, len(reports.TEMPLATES))
    done = run_clients([warm[c::n_clients] for c in range(n_clients)], None)["results"]
    setup_s = session.start_s + dims_s + build_s + (time.perf_counter() - t1)
    print(f"perfbench: star set-up {t1 - t0:.2f}s for {SETUP_REPS} builds", file=sys.stderr)

    streams = [
        iter(gen.report_stream(seed, c, reports.TEMPLATES, 2_000)) for c in range(n_clients)
    ]

    def run_window(secs: float) -> dict:
        return run_clients(streams, secs)

    waits0 = len(eng.wlm.waits_log())
    if trace:
        win, overhead, spark_delta = traced_window(
            run_window, seconds, tracer, spark
        )
    else:
        win = run_window(seconds)
    peak_rss_mb = session.peak_rss_mb()  # before the in-process DuckDB checks
    _check_reports(oracle, outcome, done + win["results"])
    oracle.close()
    print(
        f"perfbench: {len(win['lat'])} reports in {win['busy']:.2f}s by {n_clients} clients",
        file=sys.stderr,
    )
    if not trace:
        values = {"setup_s": setup_s, "peak_rss_mb": peak_rss_mb}
        return outcome, {**values, **_query_metrics(win["lat"], win["busy"])}, None
    values = layer_metrics(
        tracer,
        eng.wlm.waits_log()[waits0:],
        spark_delta,
        {
            "cache_hit_ratio": 0.0,
            "cache_bytes": dir_bytes(eng.result_cache.dir),
            "load_rows": 0,
            "load_rejected_ratio": 0.0,
            "load_rows_per_s": 0.0,
            "write_amplification": 0.0,
            "fact_files": dir_files(os.path.join(session.warehouse, "star.db", "lineitem"), ".parquet"),
            "cycle_s": 0.0,
            "trace_overhead_pct": overhead,
        },
    )
    return outcome, values, tracer


def _report(eng, tracer, outcome, results, template, params, rc) -> None:
    """Send one report and wait for its rows; record (template, params,
    rows, latency ms, exec ms) — rows None when it raised."""
    outcome.attempt()
    sql = reports.report_sql(template, params)
    with tracer.span("report", "bench"):
        t0 = time.perf_counter()
        try:
            df = eng.tsql(sql, resource_class=rc)
            t1 = time.perf_counter()
            with tracer.span("exec", "spark"):
                rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001 - a failed report is counted, not fatal
            outcome.fail(f"{template} {params}: {type(e).__name__}: {str(e)[:300]}")
            results.append((template, params, None, 0.0, None))
            return
        t2 = time.perf_counter()
    results.append((template, params, rows, (t2 - t0) * 1000, (t2 - t1) * 1000))


def _check_reports(oracle, outcome, results) -> None:
    for template, params, rows, _ms, _exec in results:
        if rows is None:
            continue
        want = oracle.fingerprint(reports.duckdb_sql(reports.report_sql(template, params)))
        got = fingerprint(rows)
        if got != want:
            outcome.fail(f"{template} {params}: rows {got[0]} != oracle {want[0]} or hash differs")


# --- etl_refresh ---------------------------------------------------------------

ETL_COLUMNS = [ColumnSpec(n, t) for n, t in gen.ETL_COLUMNS]
FACT_LAYOUT = hash_layout("sale_id", buckets=BUCKETS)


def etl_refresh(session, seed: int, seconds: float, trace: bool, work: str):
    spark = session.spark
    eng = Engine(spark)
    parquet = gen.write_parquet(
        {"sales": gen.etl_base(seed), "stores": gen.etl_stores(seed)},
        os.path.join(work, "etl"),
    )
    outcome = Outcome()
    tracer = Tracer()
    fact_dir = os.path.join(session.warehouse, "etl.db", "sales")

    def build_fact():
        eng.create_table_as(
            reports.FACT, spark.read.parquet(parquet["sales"]), FACT_LAYOUT, mode="overwrite"
        )

    t0 = time.perf_counter()
    eng.catalog.create_schema(reports.ETL)
    eng.create_table_as(
        reports.STORES, spark.read.parquet(parquet["stores"]), replicate_layout()
    )
    dims_s = time.perf_counter() - t0
    build_s = _median_setup(build_fact)
    t1 = time.perf_counter()
    eng.stats.create_statistics(reports.FACT)
    warm = _Cycle(eng, tracer, outcome, seed, 0, work, fact_dir, WARM_PASSES)
    warm.run()
    setup_s = session.start_s + dims_s + build_s + (time.perf_counter() - t1)
    print(
        f"perfbench: fact set-up {t1 - t0:.2f}s for {SETUP_REPS} builds; warm-up cycle "
        f"{ {k: round(v, 2) for k, v in warm.steps.items()} }",
        file=sys.stderr,
    )

    next_cycle = [1]

    def run_window(secs: float) -> dict:
        """Whole cycles until their timed engine calls add up to ``secs``
        (the checks between cycles do not count)."""
        cycles = []
        busy = 0.0
        while busy < secs:
            c = _Cycle(eng, tracer, outcome, seed, next_cycle[0], work, fact_dir, REFRESH_PASSES)
            next_cycle[0] += 1
            c.run()
            with tracer.paused():
                c.check()
            cycles.append(c)
            busy += c.seconds
        lat = [ms for c in cycles for _q, ms, _hit, _fp in c.refreshes]
        return {"cycles": cycles, "lat": lat, "busy": busy, "rate": len(lat) / busy}

    waits0 = len(eng.wlm.waits_log())
    if trace:
        win, overhead, spark_delta = traced_window(
            run_window, seconds, tracer, spark
        )
    else:
        win = run_window(seconds)
    cycles = win["cycles"]
    n_refresh = sum(len(c.refreshes) for c in cycles)
    n_hits = sum(hit for c in cycles for _q, _ms, hit, _fp in c.refreshes)
    print(
        f"perfbench: {len(cycles)} cycles, {n_refresh} refreshes ({n_hits} cache hits) "
        f"in {win['busy']:.2f}s; cycle steps {[{k: round(v, 2) for k, v in c.steps.items()} for c in cycles]}",
        file=sys.stderr,
    )
    if not trace:
        values = {"setup_s": setup_s, "peak_rss_mb": session.peak_rss_mb()}
        return outcome, {**values, **_query_metrics(win["lat"], win["busy"])}, None
    loaded = sum(c.rows_loaded for c in cycles)
    rejected = sum(c.rows_rejected for c in cycles)
    load_s = sum(c.load_s for c in cycles)
    values = layer_metrics(
        tracer,
        eng.wlm.waits_log()[waits0:],
        spark_delta,
        {
            "cache_hit_ratio": n_hits / n_refresh,
            "cache_bytes": dir_bytes(eng.result_cache.dir),
            "load_rows": loaded,
            "load_rejected_ratio": rejected / (loaded + rejected),
            "load_rows_per_s": loaded / load_s,
            "write_amplification": sum(c.bytes_written for c in cycles)
            / sum(c.csv_bytes for c in cycles),
            "fact_files": dir_files(fact_dir, ".parquet"),
            "cycle_s": statistics.median(c.seconds for c in cycles),
            "trace_overhead_pct": overhead,
        },
    )
    return outcome, values, tracer


class _Cycle:
    """One refresh cycle.  ``run`` times the engine calls only; input
    generation, byte counting and ``check`` happen outside the timer."""

    def __init__(self, eng, tracer, outcome, seed, n, work, fact_dir, passes) -> None:
        self.eng, self.tracer, self.outcome = eng, tracer, outcome
        self.passes = passes
        self.plan = gen.etl_cycle_plan(n)
        text, self.n_good, self.n_bad = gen.etl_batch_csv(seed, n)
        self.csv = os.path.join(work, f"batch_{n}.csv")
        with open(self.csv, "w") as f:
            f.write(text)
        self.csv_bytes = len(text)
        self.fact_dir = fact_dir
        self.seconds = 0.0
        self.load_s = 0.0
        self.bytes_written = 0
        self.rows_loaded = self.rows_rejected = 0
        self.refreshes: list[tuple[int, float, bool, tuple]] = []
        self.steps: dict[str, float] = {}

    def _step(self, kind: str, fn):
        """Time one engine call as an operation; a raised error fails it."""
        self.outcome.attempt()
        with self.tracer.span(kind, "bench"):
            t0 = time.perf_counter()
            try:
                out = fn()
            except Exception as e:  # noqa: BLE001 - counted, the cycle goes on
                self.outcome.fail(f"{kind}: {type(e).__name__}: {str(e)[:300]}")
                out = None
            dt = time.perf_counter() - t0
        self.seconds += dt
        self.steps[kind] = self.steps.get(kind, 0.0) + dt
        return out, dt

    def _expect(self, what: str, got, want) -> None:
        if got != want:
            self.outcome.fail(f"{what}: got {got}, expected {want}")

    def _collect(self, df):
        with self.tracer.span("exec", "spark"):
            return [tuple(r) for r in df.collect()]

    def run(self) -> None:
        eng, p = self.eng, self.plan
        res, self.load_s = self._step(
            "load",
            lambda: eng.load_csv(
                self.csv, reports.STAGE, ETL_COLUMNS, LoadOptions(on_error="discard"),
                mode="overwrite",
            ),
        )
        if res is not None:
            self.rows_loaded, self.rows_rejected = res.rows_loaded, res.rows_rejected
        self._expect("rows loaded", self.rows_loaded, self.n_good)
        self._expect("rows rejected", self.rows_rejected, self.n_bad)
        self._step(
            "merge",
            lambda: eng.catalog.merge_into(reports.FACT, eng.table(reports.STAGE), on="sale_id"),
        )
        self.bytes_written += dir_bytes(self.fact_dir)
        deleted, _ = self._step(
            "delete",
            lambda: self._collect(eng.tsql(reports.DELETE_TSQL.format(below=p["delete_below"]))),
        )
        self.bytes_written += dir_bytes(self.fact_dir)
        updated, _ = self._step(
            "update",
            lambda: self._collect(
                eng.tsql(reports.UPDATE_TSQL.format(lo=p["update_lo"], hi=p["update_hi"]))
            ),
        )
        self.bytes_written += dir_bytes(self.fact_dir)
        self._expect("rows deleted", deleted and deleted[0][0], p["new"])
        self._expect("rows updated", updated and updated[0][0], p["update_hi"] - p["update_lo"] + 1)
        self._step("stats", lambda: eng.stats.create_statistics(reports.FACT))
        eng.tsql("SET RESULT_SET_CACHING ON")
        for _ in range(self.passes):
            for i, q in enumerate(reports.DASHBOARDS):
                hits0 = eng.result_cache.hits
                rows, dt = self._step("refresh", lambda q=q: self._collect(eng.tsql(q)))
                if rows is not None:
                    hit = eng.result_cache.hits > hits0
                    self.refreshes.append((i, dt * 1000, hit, fingerprint(rows)))
        eng.tsql("SET RESULT_SET_CACHING OFF")
        self._step("dmv", self._dmvs)

    def _dmvs(self) -> None:
        eng = self.eng
        eng.meta.register_views([reports.FACT, reports.STORES])
        sizes = self._collect(eng.meta.table_sizes())
        self._collect(eng.meta.tables_with_skew())
        fact = [r for r in sizes if r[0] == reports.FACT]
        self._expect("table_sizes fact rows", fact and fact[0][5], gen.ETL_BASE_ROWS)

    def check(self) -> None:
        """Every refresh, cached or not, against an uncached run of the
        same dashboard over the same data; and the fact's level row count."""
        eng = self.eng
        want = [fingerprint(self._collect(eng.tsql(q))) for q in reports.DASHBOARDS]
        for i, _ms, hit, got in self.refreshes:
            if got != want[i]:
                kind = "cache hit" if hit else "cache miss"
                self.outcome.fail(f"dashboard {i} {kind}: {got} != uncached {want[i]}")
        n = self._collect(eng.sql(f"SELECT COUNT(*) FROM {reports.FACT}"))[0][0]
        self._expect("fact rows", n, gen.ETL_BASE_ROWS)


WORKLOADS = {"adhoc_star": adhoc_star, "etl_refresh": etl_refresh}
