"""r13 plan lock for the OPT-IN tbl() scan spread (VERDICT r12 item 3).

The r12 docstring claimed a plan lock that did not exist, and the r12
after-plans were captured with the spread silently disabled — this file
is the real lock: against a source that PASSES the gate (≥ 256 KB, one
row group, parallelism ≥ 2×row-groups), a ``spread=True`` read must
carry the hash-repartition exchange on the table's primary id, and a
default read must NOT.  The env kill-switch (the A/B instrument) must
strip it from opted-in sites too.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import spark  # noqa: F401


@pytest.fixture(scope="module")
def gate_dir(tmp_path_factory):
    """A documents.parquet that passes every _scan_spread gate: single
    file, ONE row group, > 256 KB."""
    import hashlib

    d = tmp_path_factory.mktemp("spread-gate")
    n = 400
    # distinct hex blocks per row: incompressible enough that the file
    # stays over the 256 KB gate floor after snappy
    texts = [
        " ".join(
            hashlib.sha256(f"{i}:{j}".encode()).hexdigest()
            for j in range(20)
        )
        for i in range(n)
    ]
    tab = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts),
        }
    )
    pq.write_table(tab, os.path.join(d, "documents.parquet"))
    meta = pq.ParquetFile(os.path.join(d, "documents.parquet")).metadata
    assert meta.num_row_groups == 1
    assert os.path.getsize(os.path.join(d, "documents.parquet")) > 256 << 10
    return str(d)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_spread_opt_in_adds_keyed_exchange(spark, gate_dir, monkeypatch):
    from sql_data_warehouse_samples_spark.workload._util import tbl

    monkeypatch.delenv("SPARK_GRAFT_SCAN_SPREAD", raising=False)
    assert spark.sparkContext.defaultParallelism >= 2  # gate arithmetic
    plan = _optimized(tbl(spark, gate_dir, "documents", spread=True))
    assert "RepartitionByExpression [doc_id" in plan, plan


def test_default_read_has_no_spread_exchange(spark, gate_dir, monkeypatch):
    from sql_data_warehouse_samples_spark.workload._util import tbl

    monkeypatch.delenv("SPARK_GRAFT_SCAN_SPREAD", raising=False)
    plan = _optimized(tbl(spark, gate_dir, "documents"))
    assert "RepartitionByExpression" not in plan, plan


def test_env_kill_switch_strips_opted_in_spread(spark, gate_dir, monkeypatch):
    from sql_data_warehouse_samples_spark.workload._util import tbl

    monkeypatch.setenv("SPARK_GRAFT_SCAN_SPREAD", "0")
    plan = _optimized(tbl(spark, gate_dir, "documents", spread=True))
    assert "RepartitionByExpression" not in plan, plan


def test_headline_opt_in_sites_spread_at_bench_config(spark, monkeypatch):
    """The bench-executed shape of the r13 keep-list: at the REAL sf dir
    (single-row-group tables, 32-way parallelism) the opted-in corpus
    passes carry the spread exchange and a measured opt-out (s07) does
    not — the lock that keeps plans/r13 honest."""
    from sql_data_warehouse_samples_spark import workload

    # sf0.1 — the BENCH scale (sf0.01's documents.parquet is 65 KB,
    # under the 256 KB gate floor, so the gate correctly no-ops there);
    # plan construction only, nothing executes
    sf_dir = "/root/testdata/sf0.1"
    if not os.path.exists(os.path.join(sf_dir, "documents.parquet")):
        pytest.skip("test data not present")
    if spark.sparkContext.defaultParallelism < 4:
        pytest.skip("gate needs parallelism ≥ 2×row-groups")
    monkeypatch.delenv("SPARK_GRAFT_SCAN_SPREAD", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_SCAN_SPREAD_MIN_BYTES", raising=False)
    workload.load_all()
    for name, spread in [
        ("t05_repetition_filters", True),
        ("t19_c4_line_clean", True),
        ("t21_langid_trained", True),
        ("s07_bm25_topk", False),
        ("t12_bigram_lm_nll", False),
    ]:
        plan = _optimized(workload.QUERIES[name](spark, sf_dir))
        has = "RepartitionByExpression [doc_id" in plan
        assert has == spread, f"{name}: spread={has}, expected {spread}"


def test_q61_single_fact_exchange_at_bench_config(spark, monkeypatch):
    """VERDICT r12 item 8: the q61 window-form lock run at the LIVE
    bench configuration (sf0.1, default env — no spread suppression),
    not just the sf0.001 fixture regime: the lineitem fact is scanned
    once, exchanged once on l_orderkey (the query's own repartition,
    reused by all three window passes), and never self-joined or
    broadcast."""
    from sql_data_warehouse_samples_spark import workload

    sf_dir = "/root/testdata/sf0.1"
    if not os.path.exists(os.path.join(sf_dir, "lineitem.parquet")):
        pytest.skip("test data not present")
    monkeypatch.delenv("SPARK_GRAFT_SCAN_SPREAD", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_SCAN_SPREAD_MIN_BYTES", raising=False)
    workload.load_all()
    df = workload.QUERIES["q61_waiting_suppliers"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(l_orderkey") == 1, plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan
    lineitem_scans = [
        ln for ln in plan.splitlines() if "lineitem" in ln and "Scan" in ln
    ]
    assert len(lineitem_scans) == 1, lineitem_scans
