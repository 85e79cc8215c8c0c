"""Tests of the benchmark itself: deterministic inputs, a checker that
catches wrong results, and a result line that names every metric with its
unit.  No Spark session is started.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
for p in (os.path.dirname(HERE), HERE):
    if p not in sys.path:
        sys.path.insert(0, p)

import pytest  # noqa: E402

import gen  # noqa: E402
import reports  # noqa: E402
import run  # noqa: E402
from check import Oracle, fingerprint  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


# --- generator -------------------------------------------------------------------


def test_same_seed_same_inputs():
    a, b, c = gen.star_tables(7), gen.star_tables(7), gen.star_tables(8)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert gen.report_stream(7, 2, reports.TEMPLATES, 50) == gen.report_stream(
        7, 2, reports.TEMPLATES, 50
    )
    assert gen.report_stream(7, 2, reports.TEMPLATES, 50) != gen.report_stream(
        7, 3, reports.TEMPLATES, 50
    )
    assert gen.etl_base(7).equals(gen.etl_base(7))
    assert gen.etl_batch_csv(7, 3) == gen.etl_batch_csv(7, 3)
    assert gen.etl_batch_csv(7, 3) != gen.etl_batch_csv(8, 3)


def test_batch_plants_malformed_rows_and_keeps_fact_level():
    text, good, bad = gen.etl_batch_csv(1, 2)
    lines = text.splitlines()
    assert (len(lines), bad) == (gen.ETL_BATCH_ROWS + gen.ETL_BAD_ROWS, gen.ETL_BAD_ROWS)
    assert good == gen.ETL_BATCH_ROWS
    planted = [ln for ln in lines if int(ln.split(",")[0]) >= 900_000_000]
    assert len(planted) == bad
    p, nxt = gen.etl_cycle_plan(2), gen.etl_cycle_plan(3)
    # the merge adds `new` keys, the DELETE removes as many: the window slides
    assert nxt["low"] == p["delete_below"] and nxt["high"] == p["high"] + p["new"]


# --- checker ---------------------------------------------------------------------


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    paths = gen.write_parquet(gen.star_tables(1), str(tmp_path_factory.mktemp("star")))
    o = Oracle(reports.STAR, paths)
    yield o
    o.close()


def test_every_template_runs_on_the_oracle(oracle):
    for t, params, _rc in gen.report_stream(1, 0, reports.TEMPLATES, 2 * len(reports.TEMPLATES)):
        n, _h = oracle.fingerprint(reports.duckdb_sql(reports.report_sql(t, params)))
        assert n > 0, t


def test_checker_flags_a_wrong_result(oracle):
    from workloads import _check_reports

    t, params, _rc = gen.report_stream(1, 0, ["nation_revenue"], 1)[0]
    sql = reports.duckdb_sql(reports.report_sql(t, params))
    rows = oracle.con.execute(sql).fetchall()
    assert fingerprint(list(reversed(rows))) == oracle.fingerprint(sql)
    # engines hand back exact decimals where the oracle may give floats
    as_float = [tuple(float(v) if isinstance(v, Decimal) else v for v in r) for r in rows]
    assert fingerprint(as_float) == oracle.fingerprint(sql)

    off_by_a_cent = [rows[0][:-1] + (rows[0][-1] + Decimal("0.01"),)] + rows[1:]
    outcome = run.Outcome()
    _check_reports(
        oracle,
        outcome,
        [(t, params, rows, 1.0, 1.0), (t, params, off_by_a_cent, 1.0, 1.0), (t, params, rows[1:], 1.0, 1.0)],
    )
    assert outcome.failed == 2


# --- result line -----------------------------------------------------------------


def test_benchmark_json_matches_the_printed_metrics():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == ["adhoc_star", "etl_refresh"]


def test_every_metric_is_printed_with_its_unit():
    from trace import Tracer

    spark_delta = dict.fromkeys(
        ["stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
         "gc_ms", "executor_run_ms"], 0)
    layer = run.layer_metrics(Tracer(), [], spark_delta, dict.fromkeys(run.WORKLOAD_LAYER_KEYS, 0.0))
    e2e = dict.fromkeys(run.END_TO_END, 1.5)
    for values, units in ((e2e, run.END_TO_END), (layer, run.PER_LAYER)):
        out = json.loads(run.result_line(run.Outcome(), values, units))
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["metrics"] == {k: {"value": values[k], "unit": u} for k, u in units.items()}
    with pytest.raises(KeyError):
        run.result_line(run.Outcome(), {"setup_s": 1.0}, run.END_TO_END)


def test_percentile_is_nearest_rank():
    v = list(range(1, 101))
    assert (run.percentile(v, 50), run.percentile(v, 90)) == (50, 90)
    assert run.percentile([3.0], 90) == 3.0
