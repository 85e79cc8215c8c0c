"""Engine-layer tests: catalog layout, CTAS, meta surfaces, WLM,
maintenance, request log."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    from sql_data_warehouse_samples_spark.engine import Engine

    eng = Engine(spark)
    eng.catalog.create_schema("testfact")
    yield eng
    eng.catalog.drop_schema("testfact", cascade=True)


def test_default_parallelism_env_and_affinity(monkeypatch):
    """SPARK_GRAFT_CPUS overrides; unset, the CPUs this process may run on."""
    from sql_data_warehouse_samples_spark.session import default_parallelism

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_parallelism() == len(os.sched_getaffinity(0))


def test_ctas_hash_layout_roundtrip(engine, spark):
    from sql_data_warehouse_samples_spark.catalog import hash_layout

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    engine.create_table_as(
        "testfact.lineitem_h",
        li,
        hash_layout("l_orderkey", sort=["l_shipdate"]),
        mode="overwrite",
    )
    layout = engine.catalog.get_layout("testfact.lineitem_h")
    assert layout.distribution == "hash"
    assert layout.distribution_column == "l_orderkey"
    assert layout.sort_columns == ["l_shipdate"]
    assert engine.table("testfact.lineitem_h").count() == li.count()


def test_replicate_table_broadcasts(engine, spark):
    from sql_data_warehouse_samples_spark.catalog import replicate_layout

    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    engine.create_table_as("testfact.nation_r", n, replicate_layout(), mode="overwrite")
    li = engine.table("testfact.lineitem_h")
    joined = li.join(engine.table("testfact.nation_r"), li.l_suppkey % 25 == F.col("n_nationkey"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_show_create_table_includes_layout(engine):
    ddl = engine.catalog.show_create_table("testfact.lineitem_h")
    assert "HASH(l_orderkey)" in ddl
    assert "CLUSTERED INDEX (l_shipdate)" in ddl


def test_engine_sql_request_log(engine):
    df = engine.sql("SELECT COUNT(*) AS n FROM testfact.lineitem_h", label="smoke_count")
    assert df.collect()[0]["n"] > 0
    reqs = engine.exec_requests().collect()
    assert any(r.label == "smoke_count" and r.status == "Completed" for r in reqs)
    steps = engine.request_steps().collect()
    assert any(s.operation_type == "Aggregate" for s in steps)
    assert any(s.operation_type == "Scan" for s in steps)


def test_failed_request_logged(engine):
    with pytest.raises(Exception):
        engine.sql("SELECT * FROM testfact.does_not_exist")
    reqs = engine.exec_requests().collect()
    assert any(r.status == "Failed" for r in reqs)


def test_meta_tables_and_columns(engine):
    meta_tables = engine.meta.tables()
    row = meta_tables.filter("two_part_name = 'testfact.lineitem_h'").collect()
    assert len(row) == 1
    assert row[0].distribution_policy == "hash"
    cols = engine.meta.columns().filter(
        "schema_name = 'testfact' AND table_name = 'lineitem_h'"
    )
    assert cols.count() == 11


def test_partition_stats_and_rowgroups(engine):
    ps = engine.meta.partition_stats("testfact.lineitem_h")
    total = ps.agg(F.sum("row_count")).collect()[0][0]
    assert total == engine.table("testfact.lineitem_h").count()
    rg = engine.meta.rowgroups("testfact.lineitem_h")
    assert rg.count() >= ps.count()  # ≥1 row group per file


def test_monitoring_views(engine):
    engine.meta.register_views(["testfact.lineitem_h"])
    sizes = engine.meta.table_sizes().filter("two_part_name = 'testfact.lineitem_h'")
    r = sizes.collect()[0]
    assert r.row_count == engine.table("testfact.lineitem_h").count()
    assert r.used_bytes > 0
    # skew view runs (the hash column is near-unique → low skew expected)
    engine.meta.tables_with_skew().collect()


def test_monitoring_view_corpus(engine):
    engine.sql("SELECT 1 AS x", label="probe")
    engine.register_monitoring_views(["testfact.lineitem_h"])
    # the ported views all run
    assert engine.spark.sql("SELECT * FROM vw_active_queries").count() >= 0
    assert engine.spark.sql("SELECT * FROM vw_query_queue").count() >= 0
    slots = engine.spark.sql("SELECT * FROM vw_query_slots").collect()
    assert any(r.granted_slots >= 1 for r in slots)
    sizes = engine.spark.sql(
        "SELECT * FROM vw_table_sizes WHERE two_part_name = 'testfact.lineitem_h'"
    ).collect()
    assert sizes and sizes[0].row_count > 0


def test_wlm_slots_and_queueing():
    import threading

    from sql_data_warehouse_samples_spark.wlm import AdmissionController

    ac = AdmissionController(total_slots=4)
    order = []

    def worker(rid, rc, hold):
        with ac.admit(rid, rc):
            order.append(("start", rid))
            import time

            time.sleep(hold)
            order.append(("end", rid))

    t1 = threading.Thread(target=worker, args=("q1", "mediumrc", 0.3))  # 3 slots
    t2 = threading.Thread(target=worker, args=("q2", "mediumrc", 0.1))  # must queue
    t1.start()
    import time

    time.sleep(0.05)
    t2.start()
    t1.join()
    t2.join()
    assert order[0] == ("start", "q1")
    assert ("end", "q1") in order and order.index(("end", "q1")) < order.index(("start", "q2"))
    waits = ac.waits_log()
    assert any(w[2] == "Queued" for w in waits)


def test_wlm_one_queued_row_per_waiting_request():
    """A waiter that wakes and still cannot be admitted stays one Queued
    row: 4 slots, a mediumrc (3) and a smallrc (1) held, a second mediumrc
    waits; the smallrc's release wakes it without room, the first
    mediumrc's release admits it."""
    import threading
    import time

    from sql_data_warehouse_samples_spark.wlm import AdmissionController

    ac = AdmissionController(total_slots=4)
    release = {"m1": threading.Event(), "s1": threading.Event()}

    def hold(rid, rc):
        with ac.admit(rid, rc):
            release[rid].wait()

    holders = [
        threading.Thread(target=hold, args=("m1", "mediumrc")),
        threading.Thread(target=hold, args=("s1", "smallrc")),
    ]
    for t in holders:
        t.start()
    while ac.slots_used() < 4:
        time.sleep(0.01)
    def wait_turn():
        with ac.admit("m2", "mediumrc"):
            pass

    waiter = threading.Thread(target=wait_turn)
    waiter.start()
    time.sleep(0.2)
    release["s1"].set()
    time.sleep(0.2)
    assert waiter.is_alive()
    release["m1"].set()
    waiter.join(timeout=10)
    for t in holders:
        t.join()
    states = [w[2] for w in ac.waits_log() if w[0] == "m2"]
    assert states == ["Queued", "Granted"]


def test_wlm_waits_log_keeps_newest_rows(monkeypatch):
    """The waits log is a ring buffer: past WAITS_HISTORY rows the oldest
    go first, so a long-lived Engine's WLM memory stays bounded."""
    from sql_data_warehouse_samples_spark import wlm

    monkeypatch.setattr(wlm, "WAITS_HISTORY", 3)
    ac = wlm.AdmissionController(total_slots=4)
    for i in range(5):
        with ac.admit(f"r{i}", "smallrc"):
            pass
    assert [w[0] for w in ac.waits_log()] == ["r2", "r3", "r4"]
    assert all(w[2] == "Granted" for w in ac.waits_log())


def test_memory_grant_formula():
    from sql_data_warehouse_samples_spark.wlm import memory_grant_mb

    # MemoryGrant.sql:7-12 — 72 MiB base + 8/32/16 per column class
    assert memory_grant_mb(0, 0, 0) == 72.0
    assert memory_grant_mb(10, 2, 1) == 72.0 + 80.0 + 64.0 + 16.0


def test_scale_ladder_quiesce_gate():
    from sql_data_warehouse_samples_spark.wlm import ScaleLadder

    sl = ScaleLadder(current=500)
    assert sl.scale_up() == 600
    with pytest.raises(RuntimeError):
        sl.scale(1000, active_queries=2)
    assert sl.scale(1000) == 1000
    with pytest.raises(ValueError):
        sl.scale(12345)


def test_statistics_service(engine):
    from sql_data_warehouse_samples_spark.maintenance import StatisticsService

    stats = StatisticsService(engine.spark)
    stats.create_statistics("testfact.lineitem_h", ["l_orderkey", "l_quantity"])
    age = stats.stats_age_days("testfact.lineitem_h")
    assert age is not None and age < 1
    assert "testfact.lineitem_h" not in stats.stale_tables()


def test_create_statistics_records_rows_and_size(engine, spark):
    """The column ANALYZE alone records the table-level statistics: the
    catalog's row count and size are the table's rows and the bytes of its
    files, and the ledger keeps the same row count."""
    from sql_data_warehouse_samples_spark.catalog import TableLayout

    engine.create_table_as(
        "testfact.stats_rows",
        spark.range(1234).selectExpr("id", "id % 5 AS g"),
        TableLayout(),
        mode="overwrite",
    )
    try:
        engine.stats.create_statistics("testfact.stats_rows", ["id", "g"])
        size = sum(
            os.path.getsize(f)
            for f in engine.meta._table_files("testfact.stats_rows")
        )
        got = [
            r.data_type
            for r in spark.sql("DESCRIBE EXTENDED testfact.stats_rows").collect()
            if r.col_name == "Statistics"
        ]
        assert got == [f"{size} bytes, 1234 rows"]
        assert engine.stats.last_analyzed_rows("testfact.stats_rows") == 1234
    finally:
        engine.catalog.drop_table("testfact.stats_rows")


def test_statistics_sample_mode(engine):
    """SAMPLE n PERCENT mode (sp_create_statistics.sql:66-85 create_type=3):
    approximate TABLESAMPLE stats, ledger records the mode."""
    from sql_data_warehouse_samples_spark.maintenance import StatisticsService

    stats = StatisticsService(engine.spark)
    stats.create_statistics(
        "testfact.lineitem_h", ["l_orderkey", "l_quantity"],
        mode="sample", sample_pct=25.0,
    )
    e = stats._ledger[-1]
    assert e["mode"] == "sample" and e["sample_pct"] == 25.0
    cs = e["column_stats"]["l_orderkey"]
    assert cs["ndv"] > 0 and cs["min"] is not None and cs["max"] is not None
    assert cs["nulls"] == 0
    # surfaces in meta_statistics with the scan mode
    engine.stats.create_statistics(
        "testfact.lineitem_h", ["l_orderkey"], mode="sample", sample_pct=10.0
    )
    engine.register_monitoring_views(["testfact.lineitem_h"])
    rows = engine.spark.sql(
        "SELECT * FROM meta_statistics WHERE scan_mode = 'sample'"
    ).collect()
    assert any(r.sample_pct == 10.0 for r in rows)
    # DDL assembly emits all three reference variants
    ddl = stats.generate_statistics_ddl(
        "testfact.lineitem_h", ["l_orderkey"], create_type=3, sample_pct=10
    )
    assert ddl == [
        "CREATE STATISTICS [stat_testfact_lineitem_h_l_orderkey]"
        " ON [testfact].[lineitem_h]([l_orderkey]) WITH SAMPLE 10 PERCENT"
    ]
    with pytest.raises(ValueError):
        stats.create_statistics("testfact.lineitem_h", ["l_orderkey"], mode="bogus")


def test_rowgroup_trim_reasons(engine, spark):
    """Trim-reason taxonomy (Rowgroups.sql:11-29 analogue): fragmented
    multi-file tables classify as WRITE_PARALLELISM, single small files as
    SMALL_SOURCE_FILE, and the health report carries the counts."""
    from sql_data_warehouse_samples_spark.catalog import round_robin_layout
    from sql_data_warehouse_samples_spark.maintenance import CompactionService

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").repartition(8)
    engine.catalog.create_table_as(
        "testfact.li_trim", li, round_robin_layout(), mode="overwrite"
    )
    try:
        rg = engine.meta.rowgroups("testfact.li_trim")
        reasons = {r.trim_reason_desc for r in rg.collect()}
        assert reasons == {"WRITE_PARALLELISM"}

        comp = CompactionService(spark, engine.catalog, engine.meta)
        h = comp.rowgroup_health("testfact.li_trim")
        assert h["trim_reasons"].get("WRITE_PARALLELISM", 0) >= 8

        comp.rebuild("testfact.li_trim")  # collapses to one small file
        rg2 = engine.meta.rowgroups("testfact.li_trim").collect()
        assert {r.trim_reason_desc for r in rg2} == {"SMALL_SOURCE_FILE"}
    finally:
        engine.catalog.drop_table("testfact.li_trim")


def test_compaction_rebuild(engine, spark):
    from sql_data_warehouse_samples_spark.catalog import round_robin_layout
    from sql_data_warehouse_samples_spark.maintenance import CompactionService

    # deliberately fragment: 40 files for 6k rows
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").repartition(40)
    engine.catalog.create_table_as("testfact.li_frag", li, round_robin_layout(), mode="overwrite")
    # the 40-way write happens after layout repartition; force fragmentation
    spark.table("`testfact`.`li_frag`")
    comp = CompactionService(spark, engine.catalog, engine.meta)
    before = comp.rowgroup_health("testfact.li_frag")
    n_rows = engine.table("testfact.li_frag").count()
    n_files = comp.rebuild("testfact.li_frag")
    assert n_files == 1  # 6k rows << 1M target
    after = comp.rowgroup_health("testfact.li_frag")
    assert engine.table("testfact.li_frag").count() == n_rows
    assert after["n_rowgroups"] <= before["n_rowgroups"]
    assert after["avg_rows_per_rowgroup"] >= before["avg_rows_per_rowgroup"]
    engine.catalog.drop_table("testfact.li_frag")


def test_health_report(engine):
    from sql_data_warehouse_samples_spark.maintenance import health_report

    rep = health_report(
        engine.spark, engine.catalog, engine.meta, ["testfact.lineitem_h"]
    ).collect()
    assert len(rep) == 1
    assert rep[0].total_rows == engine.table("testfact.lineitem_h").count()


def test_wwi_fixture_schema(engine, spark):
    from sql_data_warehouse_samples_spark.fixtures.wwi import (
        WWI_TABLES,
        create_wwi_schema,
        drop_wwi_schema,
    )

    create_wwi_schema(spark, engine.catalog)
    try:
        layout = engine.catalog.get_layout("fact.sale")
        assert layout.distribution == "hash"
        assert layout.distribution_column == "wwi_invoice_id"
        assert layout.partition_column == "invoice_month"
        assert engine.table("fact.sale").count() == 0
        assert len(WWI_TABLES) == 14
        # money columns keep exact decimal types (SURVEY §1.2)
        dt = dict(engine.table("fact.sale").dtypes)
        assert dt["unit_price"] == "decimal(18,2)"
        assert dt["tax_rate"] == "decimal(18,3)"
    finally:
        drop_wwi_schema(spark, engine.catalog)


def test_full_monitoring_view_corpus(engine):
    """All 14 reference monitoring views are registered and runnable."""
    df = engine.sql(
        "SELECT l_returnflag, COUNT(*) AS n FROM testfact.lineitem_h "
        "GROUP BY l_returnflag",
        label="corpus-probe",
    )
    df.collect()
    rid = engine.exec_requests().orderBy(F.desc("request_id")).first().request_id
    engine.finalize_request(rid, df)
    engine.stats.create_statistics("testfact.lineitem_h", ["l_orderkey"])
    engine.register_monitoring_views(["testfact.lineitem_h"])
    views = [
        "vw_active_queries", "vw_query_queue", "vw_query_slots",
        "vw_query_steps", "vw_query_step_details", "vw_sql_requests",
        "vw_table_sizes", "vw_table_space_summary",
        "vw_table_space_by_distribution", "vw_table_space_by_distribution_type",
        "vw_table_space_by_index_type", "vw_tables_with_skew",
        "vw_statistics_age", "vw_security_role_members",
        "vw_running_queued_slots", "vw_user_activities", "vw_memory_consumption",
        "vw_impacted_tables",
        "vw_tempdb_usage", "vw_latest_backup", "vw_slo_status", "vw_tde_status",
    ]
    for v in views:
        engine.spark.sql(f"SELECT * FROM {v}").collect()
    # per-stage execution rows exist for the materialized request
    tasks = engine.spark.sql(
        f"SELECT * FROM vw_sql_requests WHERE request_id = '{rid}'"
    ).collect()
    assert tasks and all(t.num_tasks >= 1 for t in tasks)
    assert any(t.completed_tasks >= 1 for t in tasks)
    # executed-plan metrics: the aggregate's step rows carry real row counts
    steps = engine.spark.sql(
        f"SELECT * FROM vw_query_steps WHERE request_id = '{rid}'"
    ).collect()
    assert any(s.operation_type == "Aggregate" for s in steps)
    assert any(s.row_count is not None and s.row_count > 0 for s in steps)
    # stats ledger surfaced with zero age
    ages = engine.spark.sql("SELECT * FROM vw_statistics_age").collect()
    assert any(a.table_name == "testfact.lineitem_h" and a.age_days == 0 for a in ages)
    # role config
    engine.set_role_members("db_datareader", ["analyst1", "analyst2"])
    engine.register_monitoring_views()
    members = engine.spark.sql(
        "SELECT member_name FROM vw_security_role_members "
        "WHERE role_name = 'db_datareader'"
    ).collect()
    assert {m.member_name for m in members} == {"analyst1", "analyst2"}


def test_ops_backup_slo_tde(engine, spark, tmp_path):
    """Ops surfaces: real parquet backup + LatestBackup.sql shape, SLO
    status DW objective, operation status from scale history, TDE flags."""
    run = engine.ops.backup(["testfact.lineitem_h"], str(tmp_path / "bak"))
    assert run.status == "COMPLETED" and run.progress == 100
    assert run.rows_backed_up == engine.table("testfact.lineitem_h").count()
    # the backup is a real readable parquet copy
    restored = spark.read.parquet(str(tmp_path / "bak" / "testfact.lineitem_h"))
    assert restored.count() == run.rows_backed_up

    engine.ops.ladder.scale(600)
    engine.ops.set_encryption("testfact", True)
    engine.register_monitoring_views(["testfact.lineitem_h"])

    lb = engine.spark.sql("SELECT * FROM vw_latest_backup").collect()
    assert len(lb) == 1 and lb[0].progress_percent == 100
    assert lb[0].duration_seconds >= 0

    slo = engine.spark.sql("SELECT * FROM vw_slo_status").collect()[0]
    assert slo.Edition == "DataWarehouse" and slo.ServiceObject == "DW600c"

    ops_rows = engine.spark.sql(
        "SELECT * FROM meta_operation_status WHERE operation = 'ALTER DATABASE'"
    ).collect()
    assert ops_rows and ops_rows[-1].state_desc == "COMPLETED"
    assert engine.ops.wait_for_scale() == "COMPLETED"

    tde = {
        r.name: r.Encrypted
        for r in engine.spark.sql("SELECT * FROM vw_tde_status").collect()
    }
    assert tde["testfact"] == "TRUE"
    assert "FALSE" in tde.values()  # other databases default off


def test_table_sizes_space_accounting(engine):
    """vw_table_sizes full fidelity (microsoft.vw_table_sizes.sql:53-93):
    reserved = data + index + unused per distribution row, unit ladders
    consistent, and the rollup views sum to the detail."""
    engine.register_monitoring_views(["testfact.lineitem_h"])
    rows = engine.spark.sql(
        "SELECT * FROM vw_table_sizes WHERE two_part_name = 'testfact.lineitem_h'"
    ).collect()
    assert rows
    for r in rows:
        # sum-of-parts invariant, exact in pages (index derived by
        # subtraction like the reference)
        assert (
            r.reserved_space_page_count
            == r.data_space_page_count
            + r.index_space_page_count
            + r.unused_space_page_count
        )
        assert r.reserved_space_page_count > 0 and r.data_space_page_count > 0
        assert r.index_space_page_count >= 0
        # unit ladder: KB = pages * 8, GB = KB / 1e6
        assert r.reserved_space_KB == r.reserved_space_page_count * 8.0
        assert abs(r.reserved_space_GB - r.reserved_space_KB / 1e6) < 1e-12
        # identity columns present
        assert r.distribution_policy_name == "hash"
        assert r.dist_position == r.distribution_id + 1
    # summary rollup equals detail totals
    det_rows = sum(r.row_count for r in rows)
    det_gb = sum(r.reserved_space_GB for r in rows)
    s = engine.spark.sql(
        "SELECT * FROM vw_table_space_summary WHERE two_part_name = 'testfact.lineitem_h'"
    ).collect()[0]
    assert s.table_row_count == det_rows
    assert abs(s.table_reserved_space_GB - det_gb) < 1e-9
    # per-distribution + per-type rollups run and cover every distribution
    by_dist = engine.spark.sql(
        "SELECT * FROM vw_table_space_by_distribution "
        "WHERE table_name = 'lineitem_h'"
    ).collect()
    assert len(by_dist) == len({r.distribution_id for r in rows})
    by_type = engine.spark.sql(
        "SELECT * FROM vw_table_space_by_distribution_type "
        "WHERE distribution_policy_name = 'hash'"
    ).collect()
    assert by_type and by_type[0].table_type_row_count >= det_rows


def test_shuffle_and_memory_metrics(engine):
    """DMS-analogue byte counters (vw_query_step_details.sql:24-33,
    query_memory_usage.sql:22-42): a groupBy query must show nonzero shuffle
    write bytes+rows and nonzero peak execution memory in the DMVs."""
    df = engine.sql(
        "SELECT l_orderkey, SUM(l_quantity) AS q FROM testfact.lineitem_h "
        "GROUP BY l_orderkey",
        label="shuffle-probe",
    )
    df.collect()
    rid = engine.exec_requests().orderBy(F.desc("request_id")).first().request_id
    engine.register_monitoring_views(["testfact.lineitem_h"])

    stages = engine.spark.sql(
        f"SELECT * FROM vw_sql_requests WHERE request_id = '{rid}'"
    ).collect()
    assert stages
    assert any(s.shuffle_write_bytes > 0 and s.shuffle_write_rows > 0 for s in stages)
    assert any(s.shuffle_read_bytes > 0 for s in stages)
    assert any(s.peak_memory_bytes > 0 for s in stages)

    details = engine.spark.sql(
        f"SELECT * FROM vw_query_step_details WHERE request_id = '{rid}'"
    ).collect()
    assert details and all(d.shuffle_write_bytes > 0 for d in details)

    mem = engine.spark.sql(
        f"SELECT * FROM vw_memory_consumption WHERE request_id = '{rid}'"
    ).collect()
    assert mem and mem[0].peak_memory_bytes > 0
    # node-level DMV: at least one active node with completed tasks
    nodes = engine.spark.sql("SELECT * FROM meta_nodes").collect()
    assert nodes and any(n.completed_tasks > 0 and n.is_active for n in nodes)
    assert any(n.total_cores > 0 for n in nodes)
    # tempdb view runs (no spill expected at this scale)
    engine.spark.sql("SELECT * FROM vw_tempdb_usage").collect()


def test_tsql_rewriter_unit():
    from sql_data_warehouse_samples_spark.functions.rewriter import rewrite_tsql

    sql, label = rewrite_tsql(
        "SELECT TOP 3 [request_id], ISNULL([label], 'none') AS lbl, "
        "COUNT_BIG(*) AS n, DATEDIFF(second, submit_time, GETDATE()) AS age_s "
        "FROM sys.dm_pdw_exec_requests WHERE [status] <> 'a [not] bracket' "
        "GROUP BY [request_id], [label] ORDER BY n DESC "
        "OPTION (LABEL = 'probe''s label')"
    )
    assert label == "probe's label"
    assert sql.endswith("LIMIT 3")
    assert "`request_id`" in sql and "COALESCE(`label`, 'none')" in sql
    assert "COUNT(*)" in sql
    assert "timestampdiff(SECOND, submit_time, current_timestamp())" in sql
    assert "meta_requests" in sql
    # literals survive untouched
    assert "'a [not] bracket'" in sql
    # CONVERT / DATEADD / DATEPART
    sql2, _ = rewrite_tsql(
        "SELECT CONVERT(varchar, request_id) AS r, "
        "DATEADD(dd, -7, GETDATE()) AS wk_ago, "
        "DATEPART(weekday, submit_time) AS dow FROM sys.dm_pdw_exec_requests"
    )
    assert "CAST(request_id AS STRING)" in sql2
    assert "timestampadd(DAY, -7, current_timestamp())" in sql2


def test_tsql_rewriter_concat_quotename_guards_subquery_top():
    from sql_data_warehouse_samples_spark.functions.rewriter import rewrite_tsql

    # QUOTENAME + literal-adjacent '+' concat (vw_table_sizes.sql:12 idiom)
    sql, _ = rewrite_tsql("SELECT QUOTENAME(s.name) + '.' + QUOTENAME(t.name) AS tp FROM sys.tables")
    assert "concat('[', s.name, ']') || '.' || concat('[', t.name, ']')" in sql
    # numeric + untouched
    sql2, _ = rewrite_tsql("SELECT a + b AS total, 'x' + c AS tagged FROM t")
    assert "a + b" in sql2 and "'x' || c" in sql2
    # OBJECT_ID existence guard
    sql3, _ = rewrite_tsql("IF OBJECT_ID('dbo.stage', 'U') IS NOT NULL DROP TABLE dbo.stage;")
    assert sql3.rstrip(";") == "DROP TABLE IF EXISTS dbo.stage"
    # TOP inside a subquery gets LIMIT at the subquery close
    sql4, _ = rewrite_tsql(
        "SELECT * FROM (SELECT TOP 3 a FROM t ORDER BY a) q WHERE a > 0"
    )
    assert "(SELECT a FROM t ORDER BY a LIMIT 3 )" in sql4
    assert "TOP" not in sql4.upper()
    # outer + inner TOP both handled
    sql5, _ = rewrite_tsql(
        "SELECT TOP 10 * FROM (SELECT TOP 3 a FROM t ORDER BY a) q"
    )
    assert "LIMIT 3" in sql5 and sql5.endswith("LIMIT 10")


def test_tsql_rewriter_declare_inlining_and_nested_convert():
    from sql_data_warehouse_samples_spark.functions.rewriter import rewrite_tsql

    # ImpactedTables:5-8 shape: DECLARE constants inlined at every use;
    # bare `decimal` keeps T-SQL's default (18,0) truncation
    sql, _ = rewrite_tsql(
        "declare @minRows int=1000000;\n"
        "declare @minSkewPercent decimal=10.0;\n"
        "SELECT * FROM t WHERE c > @minRows AND s >= @minSkewPercent"
    )
    assert "DECLARE" not in sql.upper() and "@" not in sql
    assert "c > 1000000" in sql
    assert "s >= CAST(10.0 AS DECIMAL(18,0))" in sql
    # CONVERT with an arbitrarily nested second argument (ImpactedTables:24)
    sql2, _ = rewrite_tsql(
        "SELECT convert(decimal(10,2),((max(b) - min(b))*100.0 /"
        " nullif(sum(b),0))) skew FROM t"
    )
    assert (
        "CAST(((max(b) - min(b))*100.0 / nullif(sum(b),0)) AS DECIMAL(10,2))"
        in sql2
    )
    # trailing style argument dropped, nested call preserved
    sql3, _ = rewrite_tsql("SELECT CONVERT(varchar, coalesce(a, b), 120) AS x FROM t")
    assert "CAST(coalesce(a, b) AS STRING)" in sql3


def test_tsql_subquery_top_executes(engine):
    engine.sql("SELECT 1 AS warm2", label="warm2")
    engine.register_monitoring_views()
    df = engine.tsql(
        "SELECT lbl FROM (SELECT TOP 2 [label] AS lbl, total_elapsed_ms "
        "FROM sys.dm_pdw_exec_requests ORDER BY total_elapsed_ms DESC) q"
    )
    assert len(df.collect()) <= 2


def test_tsql_end_to_end(engine):
    """Reference-style monitoring T-SQL runs through engine.tsql."""
    engine.sql("SELECT 1 AS warm", label="warm")
    engine.register_monitoring_views()
    df = engine.tsql(
        "SELECT TOP 5 [request_id], [status], total_elapsed_ms "
        "FROM sys.dm_pdw_exec_requests "
        "WHERE [status] IN ('Completed', 'Failed') "
        "ORDER BY total_elapsed_ms DESC OPTION (LABEL = 'active-probe')"
    )
    rows = df.collect()
    assert 0 < len(rows) <= 5
    # the label landed on the request record
    last = engine.exec_requests().orderBy(F.desc("request_id")).first()
    assert last.label == "active-probe"


def test_bucketed_join_has_no_shuffle(engine, spark):
    """Two tables bucketed on the join key by the same count join without
    any Exchange (J14 co-located join — the 100 TB shuffle-elimination
    lever; 'data collocated at query time', white-papers/...md:42-43)."""
    from sql_data_warehouse_samples_spark.catalog import hash_layout
    from sql_data_warehouse_samples_spark.plans.steps import plan_steps

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    od = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    engine.create_table_as(
        "testfact.li_b", li,
        hash_layout("l_orderkey", buckets=8), mode="overwrite",
    )
    engine.create_table_as(
        "testfact.od_b",
        od.withColumnRenamed("o_orderkey", "l_orderkey"),
        hash_layout("l_orderkey", buckets=8), mode="overwrite",
    )
    layout = engine.catalog.get_layout("testfact.li_b")
    assert layout.buckets == 8
    joined = engine.table("testfact.li_b").join(
        engine.table("testfact.od_b"), "l_orderkey"
    )
    shuffles = [s for s in plan_steps(joined) if s[0] == "ShuffleMove"]
    assert not shuffles, f"bucketed join still shuffles: {shuffles}"
    assert joined.count() == li.count()


def test_range_partition_pruning(engine, spark):
    """Monthly RANGE-RIGHT partitioning (fact.sale.sql:32-48) → Hive-style
    partitions; a month-filtered query reads ONLY that partition's files."""
    from sql_data_warehouse_samples_spark.catalog import TableLayout

    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    engine.create_table_as(
        "testfact.orders_p",
        o,
        TableLayout(
            distribution="round_robin",
            partition_column="order_month",
            partition_expr="date_format(o_orderdate, 'yyyy-MM')",
        ),
        mode="overwrite",
    )
    t = engine.table("testfact.orders_p")
    months = [r.order_month for r in t.select("order_month").distinct().collect()]
    assert len(months) > 12  # multi-year spread → real pruning opportunity
    one = t.filter(F.col("order_month") == months[0])
    pruned_files = one.inputFiles()
    all_files = t.inputFiles()
    assert 0 < len(pruned_files) < len(all_files)
    assert all(f"order_month={months[0]}" in f for f in pruned_files)
    # row parity with the source predicate
    expected = o.filter(F.date_format("o_orderdate", "yyyy-MM") == months[0]).count()
    assert one.count() == expected


def test_generate_rebuild_script_loop(engine, spark):
    """Dynamic-DDL loop: fragment a table, generate REBUILD statements from
    catalog health, execute them via run_script, verify compaction."""
    from sql_data_warehouse_samples_spark.catalog import round_robin_layout
    from sql_data_warehouse_samples_spark.maintenance import CompactionService

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    # 64 files of ~94 rows each → far below the poor-segment threshold
    engine.create_table_as(
        "testfact.li_frag", li.repartition(64), round_robin_layout(),
        mode="overwrite",
    )
    comp = CompactionService(engine.spark, engine.catalog, engine.meta)
    stmts = comp.generate_rebuild_statements(
        ["testfact.li_frag", "testfact.lineitem_h"], min_total_rows=1000
    )
    assert "REBUILD TABLE testfact.li_frag" in stmts
    results = engine.run_script(stmts)
    assert results and results[0] >= 1
    files = engine.meta.partition_stats("testfact.li_frag").count()
    assert files < 64
    assert engine.table("testfact.li_frag").count() == li.count()


def test_identity_keys_dense_and_sparse(spark):
    from sql_data_warehouse_samples_spark.catalog import with_identity

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").repartition(8)
    n = li.count()
    dense = with_identity(li, "sale_key", start=1, dense=True)
    ids = [r.sale_key for r in dense.select("sale_key").collect()]
    assert sorted(ids) == list(range(1, n + 1))  # contiguous, no dups
    sparse = with_identity(li, "sale_key", dense=False)
    assert sparse.select("sale_key").distinct().count() == n


def test_wwi_star_join_rank(engine, spark):
    """Milestone-0 end-to-end (SURVEY §7): populate the WWI star schema,
    broadcast-join a replicated dimension, and run the white paper's
    RANK-over-SUM territory report (white-papers/...md:189-197)."""
    import datetime as dt
    from decimal import Decimal

    from sql_data_warehouse_samples_spark.fixtures.wwi import (
        create_wwi_schema,
        drop_wwi_schema,
    )
    from sql_data_warehouse_samples_spark.plans.steps import plan_steps

    create_wwi_schema(spark, engine.catalog)
    try:
        def rows_for(table, n, fn):
            schema = engine.table(table).schema
            base = {f.name: None for f in schema.fields}
            out = []
            for i in range(1, n + 1):
                d = dict(base)
                d.update(fn(i))
                out.append(tuple(d[f.name] for f in schema.fields))
            return spark.createDataFrame(out, schema)

        city_df = rows_for(
            "dimension.city", 30,
            lambda ck: dict(
                city_key=ck, wwi_city_id=ck, city=f"city{ck}",
                sales_territory=["Southeast", "Plains", "Rocky Mountain"][ck % 3],
            ),
        )
        engine.catalog.insert_into("dimension.city", city_df)
        sale_df = rows_for(
            "fact.sale", 600,
            lambda i: dict(
                sale_key=i, city_key=i % 30 + 1, wwi_invoice_id=i % 97,
                invoice_date_key=dt.date(2013, 4, 1 + i % 28),
                quantity=2, unit_price=Decimal("10.00"),
                total_excluding_tax=Decimal(str((i % 7) * 10 + 5)),
                invoice_month="2013-04",
            ),
        )
        engine.catalog.insert_into("fact.sale", sale_df)
        # replicated dims broadcast: read through the layout-aware path
        dim = engine.table("dimension.city")
        report = (
            engine.table("fact.sale")
            .join(dim, "city_key")
            .groupBy("sales_territory")
            .agg(F.sum("total_excluding_tax").alias("territory_sales"))
            .withColumn(
                "sales_rank",
                F.rank().over(
                    __import__("pyspark.sql.window", fromlist=["Window"]).Window
                    .orderBy(F.desc("territory_sales"))
                ),
            )
        )
        rows = report.collect()
        assert len(rows) == 3
        assert [r.sales_rank for r in sorted(rows, key=lambda r: -float(r.territory_sales))] == [1, 2, 3]
        # the dim side joined without a shuffle on the fact side
        ops = [op for op, _ in plan_steps(report)]
        assert "BroadcastJoin" in ops
    finally:
        drop_wwi_schema(spark, engine.catalog)


def test_refresh_replicated_tables(engine, spark):
    """M6: overwrite a replicated dim, refresh, and the state log shows the
    new row count (RefreshReplicatedTable.ps1 parity)."""
    from sql_data_warehouse_samples_spark.catalog import replicate_layout

    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    engine.create_table_as("testfact.nation_r2", n, replicate_layout(), mode="overwrite")
    engine.create_table_as(
        "testfact.nation_r2", n.limit(10), replicate_layout(), mode="overwrite"
    )
    sc = engine.spark.sparkContext
    st = sc.statusTracker()

    def jobs_under(group, fn):
        sc.setJobGroup(group, group)
        try:
            return fn(), list(st.getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    refreshed, jobs = jobs_under(
        "replicated-refresh",
        lambda: engine.refresh_replicated_tables(schemas=["testfact"]),
    )
    assert "testfact.nation_r2" in refreshed
    state = {r.table_name: r for r in engine.replicated_state().collect()}
    rec = state["testfact.nation_r2"]
    assert rec.cache_state == "Ready" and rec.row_count == 10
    # the catalog walk runs no job: the refresh's jobs are exactly the
    # jobs of the per-table count()s it makes
    _, count_jobs = jobs_under(
        "replicated-counts",
        lambda: [engine.spark.table(t).count() for t in refreshed],
    )
    assert len(jobs) == len(count_jobs)
    stage_names = [
        info.name
        for j in jobs
        for s in st.getJobInfo(j).stageIds
        if (info := st.getStageInfo(s)) is not None
    ]
    assert not [n for n in stage_names if n.startswith(("list", "hasNext"))]


def test_sessions_and_user_activities(engine):
    """UserActivities.sql four-quadrant monitor + exec_sessions parity."""
    engine.sql("SELECT 1 AS probe_ua", label="ua-probe")
    engine.register_monitoring_views()
    s = engine.spark.sql("SELECT * FROM meta_sessions").collect()[0]
    assert s.status == "Active" and s.request_count >= 1
    ua = engine.spark.sql("SELECT * FROM vw_user_activities").collect()[0]
    assert ua.Active_Sessions == 1
    assert ua.Active_Queries == 0  # engine.sql marks Completed at plan time
    assert ua.Queued_Queries >= 0 and ua.Loads >= 0
    engine.close_session()
    engine.register_monitoring_views()
    ua2 = engine.spark.sql("SELECT * FROM vw_user_activities").collect()[0]
    assert ua2.Active_Sessions == 0
    engine._session["status"] = "Active"  # restore for other tests


def test_schema_sync_deployment(engine, spark):
    """AddTableChanges/DeployTableChanges: staged source-schema manifest ->
    ALTER ADD COLUMNS on drifted tables; excluded names skipped."""
    from sql_data_warehouse_samples_spark.deploy import SchemaSync

    engine.create_schema("deploytest")
    base = spark.range(3).selectExpr("id AS pk", "CAST(id AS STRING) AS name")
    try:
        engine.create_table_as("deploytest.cust", base, mode="overwrite")
        engine.create_table_as("deploytest.cust_Backup", base, mode="overwrite")

        source_columns = [
            ("cust", "pk", "bigint"),          # already present
            ("cust", "loyalty_tier", "string"),  # new
            ("cust", "signup_date", "date"),     # new
            ("cust_Backup", "ghost", "int"),     # excluded by name filter
            ("missing_tbl", "x", "int"),         # not in target -> skipped
        ]
        sync = SchemaSync(spark, engine.catalog)
        deltas = sync.diff(source_columns, "deploytest")
        assert {(d.table, d.column) for d in deltas} == {
            ("deploytest.cust", "loyalty_tier"),
            ("deploytest.cust", "signup_date"),
        }
        stmts = sync.apply(source_columns, "deploytest", engine)
        assert len(stmts) == 1 and "ADD COLUMNS" in stmts[0]
        cols = {c.name for c in spark.catalog.listColumns("cust", "deploytest")}
        assert {"loyalty_tier", "signup_date"} <= cols
        # idempotent: second run finds nothing
        assert sync.diff(source_columns, "deploytest") == []
    finally:
        engine.catalog.drop_schema("deploytest", cascade=True)


def test_view_sync_detects_and_redeploys_changed_views(engine, spark):
    """AddSPChanges/DeploySPChanges for the view module class: the staged
    sys.sql_modules manifest vs live view text — missing views created,
    drifted definitions recreated, unchanged and excluded names skipped."""
    from sql_data_warehouse_samples_spark.deploy import SchemaSync

    engine.create_schema("viewsync")
    base = spark.range(10).selectExpr("id AS pk", "id * 2 AS amount")
    try:
        engine.create_table_as("viewsync.fact", base, mode="overwrite")
        engine.catalog.create_view(
            "viewsync.v_small", "SELECT pk FROM viewsync.fact WHERE amount < 6"
        )
        engine.catalog.create_view(
            "viewsync.v_total", "SELECT SUM(amount) AS total FROM viewsync.fact"
        )
        manifest = {
            # unchanged (whitespace/case drift only → no redeploy)
            "v_total": "select   SUM(amount) AS total\nFROM viewsync.fact",
            # changed predicate
            "v_small": "SELECT pk FROM viewsync.fact WHERE amount < 12",
            # missing in target
            "v_big": "SELECT pk FROM viewsync.fact WHERE amount >= 12",
            # excluded by the reference's name filters
            "v_source": "SELECT 1 AS x",
        }
        sync = SchemaSync(spark, engine.catalog)
        deltas = sync.diff_views(manifest, "viewsync")
        assert {(n, r) for n, _b, r in deltas} == {
            ("v_small", "changed"),
            ("v_big", "missing"),
        }
        stmts = sync.apply_views(manifest, "viewsync", engine)
        assert len(stmts) == 2
        assert spark.sql("SELECT COUNT(*) AS n FROM viewsync.v_small").first().n == 6
        assert spark.sql("SELECT COUNT(*) AS n FROM viewsync.v_big").first().n == 4
        # idempotent: second diff is clean
        assert sync.diff_views(manifest, "viewsync") == []
    finally:
        engine.catalog.drop_schema("viewsync", cascade=True)


def test_adf_management_pipeline_runs_reference_json(engine):
    """The ADF management-operations pipeline definition
    (samples/adf/management-operations/json/pipeline-managementoperations
    .json) parses verbatim (BOM and all) and drives pause/resume/scale on
    the engine's ladder, honoring the retry policy and quiesce gate."""
    import os

    from sql_data_warehouse_samples_spark.ops import ManagementPipeline

    path = (
        "/root/reference/samples/adf/management-operations/json/"
        "pipeline-managementoperations.json"
    )
    if not os.path.exists(path):
        pytest.skip("reference checkout not present")
    p = ManagementPipeline.from_json(path)
    act = p.activities[0]
    assert act.action_types == ["Pause", "Resume", "Scale"]
    assert act.service_objective == "DW1000"
    assert (act.frequency, act.interval, act.retry) == ("Hour", 1, 3)

    ops = engine.ops
    before = ops.ladder.current
    try:
        assert p.run(ops, action="Scale") == ["Scale Activity: Scale -> DW1000c"]
        assert ops.ladder.current == 1000
        assert p.run(ops, action="Pause") == ["Scale Activity: Pause -> Paused"]
        assert ops.ladder.paused
        assert p.run(ops, action="Resume") == ["Scale Activity: Resume -> Online"]
        assert not ops.ladder.paused
        # quiesce gate propagates: active queries block the scale even
        # after the policy's 3 retries
        with pytest.raises(RuntimeError):
            p.run(ops, action="Scale", active_queries=2)
        # the operation-status DMV saw all three operations
        ops_seen = {r.operation for r in ops.operation_status().collect()}
        assert {"ALTER DATABASE", "PAUSE DATABASE", "RESUME DATABASE"} <= ops_seen
    finally:
        ops.ladder.scale(before)


def test_autoscaler_policy_and_pause_resume():
    """sqlDwAutoScaler policy (timer default, alert step up/down, schedule
    gate, decision log) + pause/resume operation rows."""
    from sql_data_warehouse_samples_spark.wlm import AutoScaler, ScaleLadder

    hour = [12]  # inside the 8-18 schedule
    sl = ScaleLadder(current=200)
    a = AutoScaler(sl, default_dwu=500, clock=lambda: hour[0])

    assert a.ensure_default() == 500          # timer: below default → default
    assert a.ensure_default() == 500          # already there → no-op
    assert a.handle_alert("DW scale up alert") == 600
    # scale down refused inside scheduled hours
    assert a.handle_alert("DW scale down alert") == 600
    assert a.logs[-1]["error"] == "inside scheduled scale up hours"
    hour[0] = 22                              # outside schedule → allowed
    assert a.handle_alert("DW scale down alert") == 500
    # resolved alerts are ignored
    assert a.handle_alert("DW scale up alert", status="Resolved") == 500
    # log carries before/after
    assert a.logs[0] == {
        "alert_name": "timer", "action": "Scale Up",
        "dwu_before": "DW200", "dwu_after": "DW500", "error": None,
    }
    # max-level no-op
    sl2 = ScaleLadder(current=6000)
    a2 = AutoScaler(sl2, clock=lambda: 22)
    assert a2.handle_alert("scale up") == 6000
    assert a2.logs[-1]["error"] == "already at MAX level"

    # pause / resume
    with pytest.raises(RuntimeError):
        sl.pause(active_queries=2)
    sl.pause()
    assert sl.paused
    sl.resume()
    assert not sl.paused
    ops = [h[0] for h in sl.history]
    assert "PAUSE DATABASE" in ops and "RESUME DATABASE" in ops


def test_construct_create_statement(engine):
    """usp_ConstructCreateStatementForTable parity: full T-SQL clone DDL
    with bracketed typed columns, nullability, and the WITH clause."""
    ddl = engine.catalog.construct_create_statement(
        "testfact.lineitem_h", name_appendix="_BKP"
    )
    assert ddl.startswith("CREATE TABLE [testfact].[lineitem_h_BKP]\n(")
    assert "[l_orderkey] [bigint]" in ddl
    assert "[l_quantity] [float]" in ddl or "[l_quantity] [decimal]" in ddl
    assert ddl.rstrip().endswith(")")
    assert "DISTRIBUTION = HASH([l_orderkey])" in ddl
    assert "NULL" in ddl  # nullability rendered per column


def test_view_scripting(engine, spark):
    """View-definition extraction for deployment scripts
    (GetCreateStatement_Function_Proc_View.sql / GenerateScripts.ps1)."""
    engine.create_schema("viewscript")
    try:
        base = spark.range(5).selectExpr("id", "id * 2 AS dbl")
        engine.create_table_as("viewscript.base_t", base, mode="overwrite")
        engine.catalog.create_view(
            "viewscript.v_dbl", "SELECT id, dbl FROM viewscript.base_t WHERE dbl > 2"
        )
        ddl = engine.catalog.show_create_view("viewscript.v_dbl")
        assert "CREATE VIEW" in ddl and "dbl > 2" in ddl
        scripts = engine.catalog.script_schema_views("viewscript")
        assert set(scripts) == {"v_dbl"} and scripts["v_dbl"] == ddl
    finally:
        engine.catalog.drop_schema("viewscript", cascade=True)


def test_impacted_tables_report(engine, spark, monkeypatch):
    """ImpactedTables parity, read from vw_impacted_tables: missing stats
    -> analyzed-healthy -> outdated stats after unanalyzed growth; skew
    classification.  Only the 1M-row floor is lowered to fixture scale
    (like the reference's @minRows literal); table names match
    case-insensitively."""
    import functools

    from sql_data_warehouse_samples_spark import maintenance
    from sql_data_warehouse_samples_spark.catalog import round_robin_layout

    monkeypatch.setattr(
        maintenance, "impacted_rows",
        functools.partial(maintenance.impacted_rows, min_rows=1000),
    )
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    engine.create_table_as(
        "testfact.li_imp", li, round_robin_layout(), mode="overwrite"
    )
    try:
        def report(table="testfact.li_imp"):
            engine.register_monitoring_views([table])
            return engine.spark.table("vw_impacted_tables").collect()

        rep = report()
        assert len(rep) == 1 and rep[0].stat_info == "missing stats"

        engine.stats.create_statistics("testfact.li_imp")
        assert report() == []

        # grow the table ~2x without re-analyzing -> outdated stats
        engine.catalog.insert_into("testfact.li_imp", li)
        rep2 = report("TestFact.Li_Imp")
        assert len(rep2) == 1 and rep2[0].stat_info == "outdated stats"
        assert rep2[0].cmp_row_count == 2 * rep2[0].ctl_row_count
        assert rep2[0].distribution_type == "round_robin"
    finally:
        engine.catalog.drop_table("testfact.li_imp")


def test_reference_slotusage_script_verbatim(engine):
    """The reference's SlotUsage.sql (sqlops/MonitoringScripts/SlotUsage.sql
    :1-12) runs UNMODIFIED through engine.tsql against the meta views."""
    engine.sql("SELECT 1 AS warm3", label="warm3")
    engine.register_monitoring_views()
    script = """-- Total running queries and slots consumed
SELECT
\tSUM(CASE WHEN r.[status] ='Running'   THEN 1 ELSE 0 END)\t\t\t\t\t\t\t[running_queries]
\t, SUM(CASE WHEN r.[status] ='Running'   THEN rw.concurrency_slots_used ELSE 0 END)\t[running_queries_slots]
\t, SUM(CASE WHEN r.[status] ='Suspended' THEN 1 ELSE 0 END)\t\t\t\t\t\t\t[queued_queries]
\t, SUM(CASE WHEN rw.[state] ='Queued'    THEN rw.concurrency_slots_used ELSE 0 END)\t[queued_queries_slots]
FROM
\t[sys].[dm_pdw_exec_requests] r 
\tJOIN [sys].[dm_pdw_resource_waits] rw ON rw.request_id = r.request_id
WHERE
\t( (r.[status] = 'Running' AND r.[resource_class] IS NOT NULL ) OR r.[status] ='Suspended' )
\tAND rw.[type] ='UserConcurrencyResourceType';"""
    rows = engine.tsql(script).collect()
    assert len(rows) == 1
    assert set(rows[0].asDict()) == {
        "running_queries", "running_queries_slots",
        "queued_queries", "queued_queries_slots",
    }


def test_reference_useractivitiesdetails_verbatim(engine):
    """UserActivitiesDetails.sql runs unmodified: sessions DMV mapping +
    SESSION_ID() resolved to the engine's own session."""
    engine.register_monitoring_views()
    rows = engine.tsql(
        """SELECT *
    FROM sys.dm_pdw_exec_sessions 
    WHERE status <> 'Closed' and session_id <> session_id()"""
    ).collect()
    # the only live session IS this engine's session, so it's excluded
    assert rows == []
    rows2 = engine.tsql(
        "SELECT session_id FROM sys.dm_pdw_exec_sessions WHERE status <> 'Closed'"
    ).collect()
    assert len(rows2) == 1


# ---------------------------------------------------------------------------
# MERGE / upsert (Catalog.merge_into, D16)
# ---------------------------------------------------------------------------


def _merge_fixture(engine, spark, name, layout=None):
    from sql_data_warehouse_samples_spark.catalog import TableLayout

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id: long, tag: string, v: double",
    )
    engine.catalog.create_table_as(
        f"testfact.{name}", base, layout or TableLayout(), mode="overwrite"
    )
    return spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "id: long, tag: string, v: double"
    )


def test_merge_into_upsert_semantics(engine, spark):
    src = _merge_fixture(engine, spark, "m_plain")
    engine.catalog.merge_into("testfact.m_plain", src, on="id")
    got = {r["id"]: (r["tag"], r["v"]) for r in engine.table("testfact.m_plain").collect()}
    # 2 updated, 4 inserted, 1/3 untouched
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_into_delete_and_sync_modes(engine, spark):
    src = _merge_fixture(engine, spark, "m_modes")
    engine.catalog.merge_into(
        "testfact.m_modes", src, on="id",
        when_matched="delete", when_not_matched="ignore",
    )
    assert {r["id"] for r in engine.table("testfact.m_modes").collect()} == {1, 3}
    # full sync: table becomes exactly the source
    src2 = _merge_fixture(engine, spark, "m_sync")
    engine.catalog.merge_into(
        "testfact.m_sync", src2, on="id", delete_unmatched_target=True
    )
    assert {r["id"] for r in engine.table("testfact.m_sync").collect()} == {2, 4}
    with pytest.raises(ValueError, match="when_matched"):
        engine.catalog.merge_into("testfact.m_sync", src2, on="id", when_matched="upsert")


def test_merge_into_partitioned_rewrites_only_affected(engine, spark):
    """Partition-pruned copy-on-write: merging rows for day 2 must leave the
    files of day 1's partition physically untouched."""
    import glob
    import os

    from sql_data_warehouse_samples_spark.catalog import TableLayout

    base = spark.createDataFrame(
        [(1, "2024-01-01", 1.0), (2, "2024-01-01", 2.0), (3, "2024-01-02", 3.0)],
        "id: long, day: string, v: double",
    )
    layout = TableLayout(partition_column="day")
    engine.catalog.create_table_as("testfact.m_part", base, layout, mode="overwrite")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    d1 = os.path.join(wh, "testfact.db", "m_part", "day=2024-01-01", "*.parquet")
    before = sorted(glob.glob(d1))
    assert before
    src = spark.createDataFrame(
        [(3, "2024-01-02", 33.0), (4, "2024-01-02", 4.0)],
        "id: long, day: string, v: double",
    )
    engine.catalog.merge_into("testfact.m_part", src, on="id")
    got = {r["id"]: r["v"] for r in engine.table("testfact.m_part").collect()}
    assert got == {1: 1.0, 2: 2.0, 3: 33.0, 4: 4.0}
    assert sorted(glob.glob(d1)) == before  # day 1 files untouched


_LAYOUT_ROWS = [(i, i % 3, float(i)) for i in range(40)]


def _rewrite(engine, spark, op, table):
    """Run one rewrite on ``table`` (rows ``_LAYOUT_ROWS``); return the
    expected rows as {id: (p, v)}."""
    from sql_data_warehouse_samples_spark.maintenance import CompactionService

    rows = {i: (p, v) for i, p, v in _LAYOUT_ROWS}
    if op == "merge":
        src = spark.createDataFrame(
            [(5, 2, -5.0), (100, 1, 100.0)], "id: long, p: int, v: double"
        )
        engine.catalog.merge_into(table, src, on="id")
        rows.update({5: (2, -5.0), 100: (1, 100.0)})
    elif op == "delete":
        r = engine.tsql(f"DELETE FROM {table} WHERE id % 4 = 0").collect()
        assert r[0]["rows_affected"] == 10
        rows = {i: row for i, row in rows.items() if i % 4}
    elif op == "update":
        r = engine.tsql(f"UPDATE {table} SET v = v + 1 WHERE id < 10").collect()
        assert r[0]["rows_affected"] == 10
        rows = {i: (p, v + 1 if i < 10 else v) for i, (p, v) in rows.items()}
    else:
        CompactionService(spark, engine.catalog, engine.meta).rebuild(table)
    return rows


@pytest.mark.parametrize("partitioned", [False, True], ids=["bucketed", "bucketed_partitioned"])
@pytest.mark.parametrize("op", ["merge", "delete", "update", "rebuild"])
def test_rewrite_keeps_physical_layout(engine, spark, op, partitioned):
    """Every rewrite keeps the table's PHYSICAL layout, not only its
    sdw.* properties: the metastore still declares the buckets (and the
    partitioning), a self-join on the bucket column plans no shuffle
    Exchange, and the rows are the rewrite's."""
    from sql_data_warehouse_samples_spark.catalog import hash_layout

    table = f"testfact.lay_{op}_{int(partitioned)}"
    layout = hash_layout(
        "id", buckets=8, partition_column="p" if partitioned else None
    )
    engine.catalog.create_table_as(
        table,
        spark.createDataFrame(_LAYOUT_ROWS, "id: long, p: int, v: double"),
        layout,
        mode="overwrite",
    )
    expected = _rewrite(engine, spark, op, table)

    ddl = spark.sql(f"SHOW CREATE TABLE {table}").collect()[0][0]
    assert "CLUSTERED BY (id)" in ddl and "INTO 8 BUCKETS" in ddl, ddl
    assert ("PARTITIONED BY (p)" in ddl) == partitioned, ddl
    got = engine.catalog.get_layout(table)
    assert got.buckets == 8 and got.distribution_column == "id"
    t = engine.table(table)
    assert {r["id"]: (r["p"], r["v"]) for r in t.collect()} == expected
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = t.alias("a").join(t.alias("b"), "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Exchange" not in plan, plan
        assert joined.count() == len(expected)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    engine.catalog.drop_table(table)


def _table_dir(spark, table):
    schema, name = table.split(".")
    db = spark.catalog.getDatabase(schema).locationUri.removeprefix("file:")
    return os.path.join(db, name)


def test_replace_crash_before_switch_keeps_table(engine, spark, monkeypatch):
    """A rewrite that dies between writing the new generation and the
    LOCATION switch leaves the table readable with the same rows and
    layout; the next rewrite succeeds and reclaims the orphan, leaving a
    single generation on disk."""
    from sql_data_warehouse_samples_spark.catalog import hash_layout

    table = "testfact.crash_m"
    src = _merge_fixture(engine, spark, "crash_m", hash_layout("id", buckets=4))
    before = sorted(engine.table(table).collect())

    def crash(*_a, **_k):
        raise RuntimeError("crash before the switch")

    monkeypatch.setattr(engine.catalog, "_switch_location", crash)
    with pytest.raises(RuntimeError, match="crash before the switch"):
        engine.catalog.merge_into(table, src, on="id")
    monkeypatch.undo()
    assert sorted(engine.table(table).collect()) == before
    ddl = spark.sql(f"SHOW CREATE TABLE {table}").collect()[0][0]
    assert "INTO 4 BUCKETS" in ddl, ddl
    assert len(os.listdir(_table_dir(spark, table))) > 1  # the orphan
    # file stats list what Spark reads: the orphan is not counted
    n_rows = sum(r["row_count"] for r in engine.meta.partition_stats(table).collect())
    assert n_rows == len(before)

    engine.catalog.merge_into(table, src, on="id")
    got = {r["id"]: r["v"] for r in engine.table(table).collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0, 4: 40.0}
    entries = os.listdir(_table_dir(spark, table))
    assert len(entries) == 1 and entries[0].startswith("_g"), entries
    assert not spark.catalog.tableExists(f"{table}__stage")
    engine.catalog.drop_table(table)


def test_concurrent_merges_into_one_table(engine, spark):
    """Two client threads MERGE into the same table at once: the per-table
    write lock serialises them, so both upserts land and one generation
    stays on disk."""
    import threading

    from sql_data_warehouse_samples_spark.catalog import hash_layout

    table = "testfact.conc_m"
    engine.catalog.create_table_as(
        table,
        spark.createDataFrame(_LAYOUT_ROWS, "id: long, p: int, v: double"),
        hash_layout("id", buckets=8),
        mode="overwrite",
    )
    errors = []

    def merge(lo):
        try:
            src = spark.createDataFrame(
                [(i, 0, -1.0) for i in range(lo, lo + 5)],
                "id: long, p: int, v: double",
            )
            engine.catalog.merge_into(table, src, on="id")
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=merge, args=(lo,)) for lo in (0, 100)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    got = {r["id"]: r["v"] for r in engine.table(table).collect()}
    assert len(got) == 45
    assert all(got[i] == -1.0 for i in [*range(5), *range(100, 105)])
    entries = os.listdir(_table_dir(spark, table))
    assert len(entries) == 1 and entries[0].startswith("_g"), entries
    engine.catalog.drop_table(table)


def test_rewrites_never_drop_or_rename_live_table(engine, spark, monkeypatch):
    """MERGE, DELETE, UPDATE and REBUILD commit by switching LOCATION: none
    of the SQL they issue drops or renames the live table, so a reader
    never finds it missing."""
    import re

    from pyspark.sql import SparkSession

    from sql_data_warehouse_samples_spark.catalog import hash_layout

    table = "testfact.nodrop"
    issued = []
    real_sql = SparkSession.sql

    def spy(self, query, *a, **k):
        issued.append(query)
        return real_sql(self, query, *a, **k)

    monkeypatch.setattr(SparkSession, "sql", spy)
    for op in ("merge", "delete", "update", "rebuild"):
        engine.catalog.create_table_as(
            table,
            spark.createDataFrame(_LAYOUT_ROWS, "id: long, p: int, v: double"),
            hash_layout("id", buckets=8),
            mode="overwrite",
        )
        _rewrite(engine, spark, op, table)
    monkeypatch.undo()
    assert any("SET LOCATION" in q for q in issued)
    for q in issued:
        assert not re.search(r"\bRENAME\b", q, re.I), q
        if re.search(r"\bDROP\s+TABLE\b", q, re.I):
            assert "__stage" in q, q
    engine.catalog.drop_table(table)


# ---------------------------------------------------------------------------
# result-set caching (M10, engine.result_cache)
# ---------------------------------------------------------------------------


def test_result_cache_hit_and_invalidation(engine, spark):
    from sql_data_warehouse_samples_spark.catalog import TableLayout

    base = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "id: long, v: double"
    )
    engine.catalog.create_table_as("testfact.rc_t", base, TableLayout(), mode="overwrite")
    engine.result_cache.clear()
    h0, m0 = engine.result_cache.hits, engine.result_cache.misses
    q = "SELECT CAST(SUM(v) AS DOUBLE) AS s FROM testfact.rc_t"
    r1 = engine.sql(q, use_result_cache=True).collect()
    assert engine.result_cache.misses == m0 + 1
    r2 = engine.sql(q, use_result_cache=True).collect()
    assert engine.result_cache.hits == h0 + 1
    assert r1 == r2 and r1[0]["s"] == 30.0
    # a memory-tier hit runs no Spark job: the request's job group (its
    # request id) stays empty through the caller's collect()
    hit_id = engine._requests[-1].request_id
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(hit_id) == []
    # whitespace/case normalization still hits
    engine.sql("select  cast(sum(v) as double)  as s  from testfact.rc_t",
               use_result_cache=True)
    assert engine.result_cache.hits == h0 + 2
    # rewriting the input table changes the file signature -> miss + fresh
    engine.catalog.insert_into(
        "testfact.rc_t", spark.createDataFrame([(3, 30.0)], "id: long, v: double")
    )
    r3 = engine.sql(q, use_result_cache=True).collect()
    assert engine.result_cache.misses == m0 + 2
    assert r3[0]["s"] == 60.0


def test_result_cache_miss_records_query_steps(engine, spark):
    """A miss's step rows describe the query, not a scan of the cached
    result it returns."""
    from sql_data_warehouse_samples_spark.catalog import TableLayout

    engine.catalog.create_table_as(
        "testfact.rc_steps",
        spark.createDataFrame([(1, 1.0), (1, 2.0), (2, 3.0)], "id: long, v: double"),
        TableLayout(),
        mode="overwrite",
    )
    engine.result_cache.clear()
    m0 = engine.result_cache.misses
    engine.sql(
        "SELECT id, SUM(v) AS s FROM testfact.rc_steps GROUP BY id",
        use_result_cache=True,
    ).collect()
    assert engine.result_cache.misses == m0 + 1
    rid = engine._requests[-1].request_id
    ops = [
        r["operation_type"]
        for r in engine.request_steps().filter(F.col("request_id") == rid).collect()
    ]
    assert "Aggregate" in ops, ops


def test_result_cache_memory_tier_round_trips_types(spark, tmp_path):
    """Decimal, date, timestamp, NULL string and array columns come back
    from the memory tier with the query's schema and rows, on the miss's
    frame and on a hit."""
    from sql_data_warehouse_samples_spark.result_cache import ResultCache

    df = spark.sql(
        "SELECT CAST(id AS DECIMAL(18,4)) AS d,"
        " date_add(DATE'2020-02-28', CAST(id AS INT)) AS dt,"
        " timestamp_micros(1582848000000001 + id) AS ts,"
        " CASE WHEN id % 2 = 0 THEN NULL ELSE CAST(id AS STRING) END AS s,"
        " array(id, id * 2) AS a"
        " FROM range(5)"
    )
    want = sorted(df.collect())
    rc = ResultCache(spark, str(tmp_path / "rc"))
    served = rc.store("k", df)
    hit = rc.lookup("k")
    assert rc.stats()["memory_entries"] == 1 and rc.hits == 1
    for got in (served, hit):
        assert got.schema == df.schema
        assert sorted(got.collect()) == want
    # the parquet copy is gone once the result is held in memory
    assert os.listdir(rc.dir) == []
    # an empty result is cached too
    empty = spark.sql("SELECT id FROM range(3) WHERE id < 0")
    rc.store("e", empty)
    assert rc.lookup("e").collect() == []
    # a non-null nested field comes back from parquet as nullable; the
    # entry keeps the parquet schema and the same rows
    nested = spark.sql("SELECT named_struct('f', id) AS st FROM range(3)")
    rc.store("n", nested)
    assert sorted(rc.lookup("n").collect()) == sorted(nested.collect())
    assert rc.stats()["memory_entries"] == 3
    # a type without an Arrow form keeps the parquet tier
    ym = spark.sql("SELECT id, make_ym_interval(1, CAST(id AS INT)) AS i FROM range(3)")
    rc.store("y", ym)
    as_text = "id", "CAST(i AS STRING) AS i"  # no Python form to collect
    assert sorted(rc.lookup("y").selectExpr(*as_text).collect()) == sorted(
        ym.selectExpr(*as_text).collect()
    )
    assert rc.stats()["memory_entries"] == 3 and os.listdir(rc.dir) == ["y"]


def test_result_cache_memory_budget_evicts_oldest(spark, tmp_path, monkeypatch):
    """The memory tier is LRU by bytes: over the budget the least recently
    used entry goes, and stats() reports the bytes held."""
    from sql_data_warehouse_samples_spark import result_cache
    from sql_data_warehouse_samples_spark.result_cache import ResultCache

    rc = ResultCache(spark, str(tmp_path / "rc"))

    def frame(n):
        # wide repeated strings: Arrow bytes (what the budget counts) far
        # above the dictionary-encoded parquet files
        return spark.sql(f"SELECT id, repeat('{n}', 1000) AS v FROM range(100)")

    rc.store("a", frame(1))
    one = rc.stats()["memory_bytes"]
    assert one > 0
    monkeypatch.setattr(result_cache, "MEMORY_BUDGET_BYTES", 2 * one + one // 2)
    rc.store("b", frame(2))
    assert rc.lookup("a") is not None  # a is now the most recent
    rc.store("c", frame(3))
    st = rc.stats()
    assert st["memory_entries"] == 2 and st["memory_bytes"] == 2 * one
    assert rc.lookup("b") is None  # b was least recently used
    assert rc.lookup("a").count() == 100 and rc.lookup("c").count() == 100


def test_result_cache_above_cap_served_from_parquet(spark, tmp_path, monkeypatch):
    """A result over the per-entry cap keeps the parquet tier and still
    hits with the same rows."""
    from sql_data_warehouse_samples_spark.result_cache import ResultCache

    monkeypatch.setattr(ResultCache, "_entry_cap", lambda self: 0)
    rc = ResultCache(spark, str(tmp_path / "rc"))
    df = spark.sql("SELECT id, CAST(id AS STRING) AS s FROM range(10)")
    rc.store("big", df)
    st = rc.stats()
    assert st["memory_entries"] == 0 and st["memory_bytes"] == 0
    assert st["entries"] == 1 and os.listdir(rc.dir) == ["big"]
    hit = rc.lookup("big")
    assert rc.hits == 1
    assert sorted(hit.collect()) == sorted(df.collect())


@pytest.mark.parametrize("tier", ["memory", "parquet"])
def test_result_cache_concurrent_same_query(engine, spark, monkeypatch, tier):
    """Four threads send one cacheable query at once: every thread gets
    the uncached rows, and each request counts exactly one hit or miss."""
    import sys
    import threading

    from sql_data_warehouse_samples_spark.catalog import TableLayout
    from sql_data_warehouse_samples_spark.result_cache import ResultCache

    if tier == "parquet":
        monkeypatch.setattr(ResultCache, "_entry_cap", lambda self: 0)
    engine.catalog.create_table_as(
        "testfact.rc_conc",
        spark.createDataFrame(
            [(i % 3, float(i)) for i in range(30)], "id: long, v: double"
        ),
        TableLayout(),
        mode="overwrite",
    )
    q = "SELECT id, SUM(v) AS s FROM testfact.rc_conc GROUP BY id"
    want = sorted(engine.sql(q).collect())
    engine.result_cache.clear()
    h0, m0 = engine.result_cache.hits, engine.result_cache.misses
    got, errors = [], []

    def client():
        try:
            got.append(sorted(engine.sql(q, use_result_cache=True).collect()))
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=client) for _ in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert got == [want] * 4
    rc = engine.result_cache
    assert (rc.hits - h0) + (rc.misses - m0) == 4
    assert rc.stats()["entries"] == 1
    assert not [d for d in os.listdir(rc.dir) if d.endswith(".staged")]


def test_result_cache_bypasses_nondeterministic(engine):
    engine.result_cache.clear()
    b0 = engine.result_cache.bypasses
    engine.sql("SELECT rand() AS r", use_result_cache=True)
    assert engine.result_cache.bypasses == b0 + 1
    assert engine.result_cache.stats()["entries"] == 0
    # session default flag: set_result_caching(True) caches without the
    # per-call override
    engine.set_result_caching(True)
    try:
        engine.sql("SELECT COUNT(*) AS n FROM testfact.rc_t").collect()
        engine.sql("SELECT COUNT(*) AS n FROM testfact.rc_t").collect()
        assert engine.result_cache.hits >= 1
    finally:
        engine.set_result_caching(False)

# ---------------------------------------------------------------------------
# SCD Type-2 dimension merge (operators/scd.py)
# ---------------------------------------------------------------------------


def _scd2_fixture(engine, spark, name, layout):
    from sql_data_warehouse_samples_spark.catalog import TableLayout  # noqa: F401

    dim = spark.createDataFrame(
        [
            # key 1: one closed version + one open (city changed once before)
            (1, "alice", "london", "2023-01-01 00:00:00", "2023-06-01 00:00:00", False),
            (1, "alice", "paris", "2023-06-01 00:00:00", None, True),
            # key 2: single open version
            (2, "bob", "berlin", "2023-01-01 00:00:00", None, True),
            # key 3: single open version (will disappear from the snapshot)
            (3, "carol", "rome", "2023-01-01 00:00:00", None, True),
        ],
        "cust_id: long, name: string, city: string, valid_from: string, valid_to: string, is_current: boolean",
    ).selectExpr(
        "cust_id",
        "name",
        "city",
        "CAST(valid_from AS TIMESTAMP) AS valid_from",
        "CAST(valid_to AS TIMESTAMP) AS valid_to",
        "is_current",
    )
    engine.catalog.create_table_as(f"testfact.{name}", dim, layout, mode="overwrite")
    # snapshot: key 1 changed city, key 2 unchanged, key 4 is new, key 3 absent
    return spark.createDataFrame(
        [(1, "alice", "tokyo"), (2, "bob", "berlin"), (4, "dave", "madrid")],
        "cust_id: long, name: string, city: string",
    )


def test_scd2_apply_row_classes(engine, spark):
    from sql_data_warehouse_samples_spark.catalog import TableLayout
    from sql_data_warehouse_samples_spark.operators.scd import scd2_apply

    src = _scd2_fixture(engine, spark, "scd_plain", TableLayout())
    dim = engine.table("testfact.scd_plain")
    out = scd2_apply(dim, src, "cust_id", as_of="2024-01-01 00:00:00").collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r["cust_id"], []).append(r)
    # key 1: old history row + closed paris row + new open tokyo row
    k1 = sorted(by_key[1], key=lambda r: (r["valid_from"], str(r["valid_to"])))
    assert len(k1) == 3
    assert [r["city"] for r in k1] == ["london", "paris", "tokyo"]
    assert k1[1]["is_current"] is False
    assert str(k1[1]["valid_to"]).startswith("2024-01-01")
    assert k1[2]["is_current"] is True and k1[2]["valid_to"] is None
    # key 2 unchanged: exactly the original open row
    assert len(by_key[2]) == 1 and by_key[2][0]["is_current"] is True
    assert str(by_key[2][0]["valid_from"]).startswith("2023-01-01")
    # key 3 absent from snapshot, close_missing=False: stays open
    assert len(by_key[3]) == 1 and by_key[3][0]["is_current"] is True
    # key 4: brand-new open version
    assert len(by_key[4]) == 1
    assert by_key[4][0]["is_current"] is True
    assert str(by_key[4][0]["valid_from"]).startswith("2024-01-01")


def test_scd2_apply_close_missing(engine, spark):
    from sql_data_warehouse_samples_spark.catalog import TableLayout
    from sql_data_warehouse_samples_spark.operators.scd import scd2_apply

    src = _scd2_fixture(engine, spark, "scd_cm", TableLayout())
    dim = engine.table("testfact.scd_cm")
    out = scd2_apply(
        dim, src, "cust_id", as_of="2024-01-01 00:00:00", close_missing=True
    ).collect()
    k3 = [r for r in out if r["cust_id"] == 3]
    assert len(k3) == 1 and k3[0]["is_current"] is False
    assert str(k3[0]["valid_to"]).startswith("2024-01-01")


def test_scd2_merge_history_partition_untouched(engine, spark):
    """With the dimension partitioned on is_current, a merge appends closed
    versions to the history partition and replaces only the current
    partition — history's existing files stay byte-identical."""
    import glob
    import os

    from sql_data_warehouse_samples_spark.catalog import TableLayout
    from sql_data_warehouse_samples_spark.operators.scd import scd2_merge

    layout = TableLayout(partition_column="is_current")
    src = _scd2_fixture(engine, spark, "scd_part", layout)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    hist = os.path.join(wh, "testfact.db", "scd_part", "is_current=false", "*.parquet")
    before = {p: os.path.getmtime(p) for p in glob.glob(hist)}
    assert before
    scd2_merge(engine.catalog, "testfact.scd_part", src, "cust_id",
               as_of="2024-01-01 00:00:00")
    after = {p: os.path.getmtime(p) for p in glob.glob(hist)}
    # original history files still present, unmodified; closed rows appended
    for p, m in before.items():
        assert after[p] == m
    assert len(after) > len(before)
    rows = engine.table("testfact.scd_part").collect()
    cur = {r["cust_id"]: r["city"] for r in rows if r["is_current"]}
    assert cur == {1: "tokyo", 2: "berlin", 3: "rome", 4: "madrid"}
    closed = [r for r in rows if not r["is_current"] and r["cust_id"] == 1]
    assert {r["city"] for r in closed} == {"london", "paris"}
    assert len(rows) == 6


def test_scd2_merge_same_as_of_replay_is_idempotent(engine, spark):
    """Crash-retry contract: re-running the incremental merge with the SAME
    as_of (or two merges in one day) must not re-append rows the first run
    closed — new_closed comes from this run's applied delta, not from
    re-filtering the full state for valid_to == as_of."""
    from sql_data_warehouse_samples_spark.catalog import TableLayout
    from sql_data_warehouse_samples_spark.operators.scd import scd2_merge

    layout = TableLayout(partition_column="is_current")
    src = _scd2_fixture(engine, spark, "scd_replay", layout)
    scd2_merge(engine.catalog, "testfact.scd_replay", src, "cust_id",
               as_of="2024-01-01 00:00:00")
    first = sorted(
        (r["cust_id"], r["city"], str(r["valid_from"]), str(r["valid_to"]),
         r["is_current"])
        for r in engine.table("testfact.scd_replay").collect()
    )
    # exact replay: identical state, nothing duplicated
    scd2_merge(engine.catalog, "testfact.scd_replay", src, "cust_id",
               as_of="2024-01-01 00:00:00")
    second = sorted(
        (r["cust_id"], r["city"], str(r["valid_from"]), str(r["valid_to"]),
         r["is_current"])
        for r in engine.table("testfact.scd_replay").collect()
    )
    assert second == first
    # second merge same day with a real change: exactly ONE new closed row
    # (key 1's tokyo version), no duplicates of the first run's closes
    src2 = spark.createDataFrame(
        [(1, "alice", "oslo"), (2, "bob", "berlin"), (4, "dave", "madrid")],
        "cust_id: long, name: string, city: string",
    )
    scd2_merge(engine.catalog, "testfact.scd_replay", src2, "cust_id",
               as_of="2024-01-01 00:00:00")
    rows = engine.table("testfact.scd_replay").collect()
    k1 = sorted(
        [r for r in rows if r["cust_id"] == 1],
        key=lambda r: (str(r["valid_from"]), str(r["valid_to"])),
    )
    assert [r["city"] for r in k1] == ["london", "paris", "tokyo", "oslo"]
    assert [r["is_current"] for r in k1] == [False, False, False, True]
    assert len(rows) == len(first) + 1


def test_scd2_merge_fact_join_as_of(engine, spark):
    """The point of SCD2: a fact row joins to the attribute version valid at
    its transaction time (via the asof operator over valid_from)."""
    from sql_data_warehouse_samples_spark.catalog import TableLayout
    from sql_data_warehouse_samples_spark.operators.asof import asof_join
    from sql_data_warehouse_samples_spark.operators.scd import scd2_merge

    src = _scd2_fixture(engine, spark, "scd_fact", TableLayout())
    scd2_merge(engine.catalog, "testfact.scd_fact", src, "cust_id",
               as_of="2024-01-01 00:00:00")
    facts = spark.createDataFrame(
        [(1, "2023-03-01 00:00:00", 10.0), (1, "2023-08-01 00:00:00", 20.0),
         (1, "2024-02-01 00:00:00", 30.0)],
        "cust_id: long, txn_ts: string, amount: double",
    ).selectExpr("cust_id", "CAST(txn_ts AS TIMESTAMP) AS txn_ts", "amount")
    dim = engine.table("testfact.scd_fact").selectExpr(
        "cust_id", "city", "valid_from"
    )
    joined = asof_join(
        facts, dim, on="cust_id", left_ts="txn_ts", right_ts="valid_from"
    )
    got = {r["amount"]: r["city"] for r in joined.collect()}
    assert got == {10.0: "london", 20.0: "paris", 30.0: "tokyo"}


def test_ctas_zorder_layout_roundtrip_and_clustering(engine, spark):
    """CTAS with zorder_columns: layout round-trips through table
    properties and the written files tile BOTH clustered columns."""
    import glob
    import os

    import pyarrow.parquet as pq
    import pytest as _pytest

    from sql_data_warehouse_samples_spark.catalog import TableLayout

    o = spark.read.parquet("/root/testdata/sf0.01/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    layout = TableLayout(zorder_columns=["o_custkey", "o_totalprice"])
    engine.catalog.create_table_as("testfact.z_orders", o, layout, mode="overwrite")
    got = engine.catalog.get_layout("testfact.z_orders")
    assert got.zorder_columns == ["o_custkey", "o_totalprice"]
    assert engine.table("testfact.z_orders").count() == o.count()

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    files = glob.glob(os.path.join(wh, "testfact.db", "z_orders", "*.parquet"))
    assert len(files) > 4
    spans, lo, hi = [], None, None
    for f in files:
        md = pq.ParquetFile(f).metadata
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for c in range(rg.num_columns):
                cc = rg.column(c)
                if cc.path_in_schema == "o_totalprice":
                    st = cc.statistics
                    spans.append(float(st.max) - float(st.min))
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
    coverage = sum(spans) / ((hi - lo) * len(spans))
    assert coverage < 0.6, coverage

    # physical-exclusivity validation
    with _pytest.raises(ValueError):
        TableLayout(zorder_columns=["a"], sort_columns=["b"])


def test_tsql_set_result_set_caching_statement(engine, spark):
    """The platform's `SET RESULT_SET_CACHING ON|OFF` statement form toggles
    the session default through the T-SQL surface."""
    from sql_data_warehouse_samples_spark.catalog import TableLayout

    engine.catalog.create_table_as(
        "testfact.rc_stmt",
        spark.createDataFrame([(1, 5.0)], "id: long, v: double"),
        TableLayout(),
        mode="overwrite",
    )
    engine.result_cache.clear()
    engine.tsql("SET RESULT_SET_CACHING ON")
    try:
        assert engine._result_caching is True
        engine.sql("SELECT COUNT(*) AS n FROM testfact.rc_stmt").collect()
        engine.sql("SELECT COUNT(*) AS n FROM testfact.rc_stmt").collect()
        assert engine.result_cache.hits >= 1
    finally:
        engine.tsql("SET RESULT_SET_CACHING OFF;")
    assert engine._result_caching is False


# ---------------------------------------------------------------------------
# predicate DML: DELETE WHERE / UPDATE WHERE (catalog._rewrite_where)
# ---------------------------------------------------------------------------


def test_delete_where_partition_pruned(engine, spark):
    """DELETE rewrites only partitions containing matches; NULL-predicate
    rows are kept (SQL three-valued semantics); returns the row count."""
    import glob
    import os

    from sql_data_warehouse_samples_spark.catalog import TableLayout

    base = spark.createDataFrame(
        [
            (1, "2024-01-01", 5.0),
            (2, "2024-01-01", 15.0),
            (3, "2024-01-02", 25.0),
            (4, "2024-01-02", None),
        ],
        "id: long, day: string, v: double",
    )
    engine.catalog.create_table_as(
        "testfact.del_t", base, TableLayout(partition_column="day"), mode="overwrite"
    )
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    d1 = os.path.join(wh, "testfact.db", "del_t", "day=2024-01-01", "*.parquet")
    before = sorted(glob.glob(d1))
    n = engine.catalog.delete_where("testfact.del_t", "v > 20")
    assert n == 1
    got = {r["id"] for r in engine.table("testfact.del_t").collect()}
    assert got == {1, 2, 4}  # id=4 has NULL v -> kept
    assert sorted(glob.glob(d1)) == before  # day-1 partition untouched
    assert engine.catalog.delete_where("testfact.del_t", "v > 1000") == 0


def test_update_where_swap_semantics(engine, spark):
    """SET expressions evaluate against the PRE-update row (SQL UPDATE), so
    column swaps work; unknown SET columns are rejected."""
    import pytest as _pytest

    from sql_data_warehouse_samples_spark.catalog import TableLayout

    base = spark.createDataFrame(
        [(1, 10.0, 100.0), (2, 20.0, 200.0)], "id: long, a: double, b: double"
    )
    engine.catalog.create_table_as("testfact.upd_t", base, TableLayout(), mode="overwrite")
    n = engine.catalog.update_where(
        "testfact.upd_t", {"a": "b", "b": "a"}, "id = 2"
    )
    assert n == 1
    got = {r["id"]: (r["a"], r["b"]) for r in engine.table("testfact.upd_t").collect()}
    assert got == {1: (10.0, 100.0), 2: (200.0, 20.0)}
    with _pytest.raises(ValueError):
        engine.catalog.update_where("testfact.upd_t", {"zz": "1"}, "id = 1")


def test_dml_clears_emptied_and_null_partitions(engine, spark):
    """Dynamic partition overwrite only replaces partitions PRESENT in the
    rewritten frame — a DELETE emptying a whole partition, an UPDATE moving
    every row out of one, or a MERGE when_matched='delete' must still clear
    the old files; and rows in the null partition must be in rewrite scope
    (isin() is never true for NULL)."""
    from sql_data_warehouse_samples_spark.catalog import TableLayout

    base = spark.createDataFrame(
        [
            (1, "2024-01-01"),
            (2, "2024-01-01"),
            (3, "2024-01-02"),
            (4, "2024-01-02"),
            (5, None),
        ],
        "id: long, day: string",
    )
    engine.catalog.create_table_as(
        "testfact.del_ep", base, TableLayout(partition_column="day"), mode="overwrite"
    )
    # full-partition DELETE: day-2 files must not survive on disk
    assert engine.catalog.delete_where("testfact.del_ep", "day = '2024-01-02'") == 2
    got = {(r["id"], r["day"]) for r in engine.table("testfact.del_ep").collect()}
    assert got == {(1, "2024-01-01"), (2, "2024-01-01"), (5, None)}
    # null-partition DELETE: the discovery scan counts the row AND the
    # rewrite scope includes it
    assert engine.catalog.delete_where("testfact.del_ep", "id = 5") == 1
    got = {(r["id"], r["day"]) for r in engine.table("testfact.del_ep").collect()}
    assert got == {(1, "2024-01-01"), (2, "2024-01-01")}
    # UPDATE moving every row out of its partition empties the old one
    n = engine.catalog.update_where(
        "testfact.del_ep", {"day": "'2024-03-01'"}, "day = '2024-01-01'"
    )
    assert n == 2
    got = {(r["id"], r["day"]) for r in engine.table("testfact.del_ep").collect()}
    assert got == {(1, "2024-03-01"), (2, "2024-03-01")}
    # MERGE when_matched='delete' that empties the partition
    src = spark.createDataFrame(
        [(1, "2024-03-01"), (2, "2024-03-01")], "id: long, day: string"
    )
    engine.catalog.merge_into(
        "testfact.del_ep", src, on="id",
        when_matched="delete", when_not_matched="ignore",
    )
    assert engine.table("testfact.del_ep").count() == 0


def test_tsql_delete_and_update_statements(engine, spark):
    """T-SQL DML statement forms route through the catalog's predicate DML
    and return @@ROWCOUNT-style results."""
    from sql_data_warehouse_samples_spark.catalog import TableLayout

    base = spark.createDataFrame(
        [(1, 5.0), (2, 15.0), (3, 25.0)], "id: long, v: double"
    )
    engine.catalog.create_table_as("testfact.dml_t", base, TableLayout(), mode="overwrite")
    r = engine.tsql("DELETE FROM testfact.dml_t WHERE [v] > 20").collect()
    assert r[0]["rows_affected"] == 1
    r = engine.tsql(
        "UPDATE testfact.dml_t SET [v] = v * 2, id = id + 10 WHERE v >= 15"
    ).collect()
    assert r[0]["rows_affected"] == 1
    got = {r["id"]: r["v"] for r in engine.table("testfact.dml_t").collect()}
    assert got == {1: 5.0, 12: 30.0}


def test_tsql_update_parser_is_string_literal_aware(engine, spark):
    """Commas and the word WHERE inside '...' literals must not split the
    SET clause or the statement (valid T-SQL was previously rejected)."""
    from sql_data_warehouse_samples_spark.catalog import TableLayout

    base = spark.createDataFrame(
        [(1, "x", "y"), (2, "x", "y")], "id: long, name: string, note: string"
    )
    engine.catalog.create_table_as(
        "testfact.dml_q", base, TableLayout(), mode="overwrite"
    )
    r = engine.tsql(
        "UPDATE testfact.dml_q SET name = 'a, b', note = 'find WHERE it hides' "
        "WHERE id = 1"
    ).collect()
    assert r[0]["rows_affected"] == 1
    got = {r["id"]: (r["name"], r["note"]) for r in engine.table("testfact.dml_q").collect()}
    assert got == {1: ("a, b", "find WHERE it hides"), 2: ("x", "y")}
    # escaped quote inside the literal, no WHERE clause at all
    r = engine.tsql(
        "UPDATE testfact.dml_q SET note = 'it''s, fine'"
    ).collect()
    assert r[0]["rows_affected"] == 2
    notes = {r["note"] for r in engine.table("testfact.dml_q").collect()}
    assert notes == {"it's, fine"}


def test_tsql_dml_lands_in_request_log(engine, spark):
    from sql_data_warehouse_samples_spark.catalog import TableLayout

    engine.catalog.create_table_as(
        "testfact.dml_log",
        spark.createDataFrame([(1, 1.0)], "id: long, v: double"),
        TableLayout(),
        mode="overwrite",
    )
    n_before = len(engine._requests)
    engine.tsql("DELETE FROM testfact.dml_log WHERE id = 1")
    recs = list(engine._requests)[n_before:]
    assert len(recs) == 1
    assert recs[0].status == "Completed"
    assert "DELETE FROM testfact.dml_log" in recs[0].command
    assert recs[0].total_elapsed_ms is not None


def test_tsql_dml_jobs_run_under_its_own_request(engine, spark):
    """The Spark job group is sticky per thread: a DML request must set its
    own, or its jobs are counted under whichever request last ran
    ``Engine.sql`` on the thread.  A failed DML still records its elapsed
    time."""
    from sql_data_warehouse_samples_spark.catalog import TableLayout

    engine.catalog.create_table_as(
        "testfact.dml_jobs",
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id: long, v: double"),
        TableLayout(),
        mode="overwrite",
    )
    engine.sql("SELECT COUNT(*) FROM testfact.dml_jobs").collect()
    sel_id = engine._requests[-1].request_id
    tracker = spark.sparkContext.statusTracker()
    sel_jobs = set(tracker.getJobIdsForGroup(sel_id))
    engine.tsql("DELETE FROM testfact.dml_jobs WHERE id = 1").collect()
    del_id = engine._requests[-1].request_id
    assert set(tracker.getJobIdsForGroup(sel_id)) == sel_jobs
    stages = engine.task_requests().filter(F.col("request_id") == del_id)
    assert stages.count() > 0

    with pytest.raises(Exception):
        engine.tsql("DELETE FROM testfact.dml_jobs WHERE no_such_col = 1")
    failed = engine._requests[-1]
    assert failed.status == "Failed"
    assert failed.total_elapsed_ms is not None and failed.end_time is not None


def test_tsql_dml_without_where_touches_all_rows(engine, spark):
    from sql_data_warehouse_samples_spark.catalog import TableLayout

    engine.catalog.create_table_as(
        "testfact.dml_all",
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "id: long, v: double"),
        TableLayout(),
        mode="overwrite",
    )
    r = engine.tsql("UPDATE testfact.dml_all SET v = v + 1").collect()
    assert r[0]["rows_affected"] == 2
    assert {x["v"] for x in engine.table("testfact.dml_all").collect()} == {2.0, 3.0}
    r = engine.tsql("DELETE FROM testfact.dml_all").collect()
    assert r[0]["rows_affected"] == 2
    assert engine.table("testfact.dml_all").count() == 0


# ---------------------------------------------------------------------------
# hub-and-spoke datamart sharing (datamart.py;
# arm-templates/sqlDwSpokeDbTemplate/AddSpokeDbsWithET.ps1)
# ---------------------------------------------------------------------------


def test_datamart_hub_and_spoke_end_to_end(engine, spark):
    """Hub control table drives per-spoke external tables: spoke reads hit
    the live hub tables through views (across hub rewrites), grants scope
    what each spoke sees, DDL text keeps the reference's external-table
    shape."""
    from sql_data_warehouse_samples_spark.catalog import TableLayout
    from sql_data_warehouse_samples_spark.datamart import (
        CONTROL_TABLE,
        DatamartHub,
        SpokeDb,
    )

    engine.catalog.create_schema("hub_dim")
    engine.catalog.create_schema("hub_fact")
    try:
        dim = spark.createDataFrame(
            [(1, "uk"), (2, "fr")], "city_key: long, city: string"
        )
        engine.catalog.create_table_as(
            "hub_dim.city", dim, TableLayout(), mode="overwrite"
        )
        sale = spark.createDataFrame(
            [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0), (1, "2024-01-02", 5.0)],
            "city_key: long, day: string, amount: double",
        )
        engine.catalog.create_table_as(
            "hub_fact.sale", sale, TableLayout(partition_column="day"),
            mode="overwrite",
        )

        hub = DatamartHub(engine)
        # spoke0: only the dimension schema; spoke1: one specific table
        assert hub.add_objects_for_user("spoke_dm0", "hubdw", schema="hub_dim") == 1
        assert hub.add_objects_for_user("spoke_dm1", "hubdw", table="hub_fact.sale") == 1
        assert hub.add_objects_for_user("spoke_dm1", "hubdw", schema="hub_dim") == 1
        # NOT-EXISTS upsert: re-grant adds nothing, control keeps 3 rows
        assert hub.add_objects_for_user("spoke_dm1", "hubdw", schema="hub_dim") == 0
        assert spark.table(CONTROL_TABLE).filter(
            "datamart_user like 'spoke_dm%'"
        ).count() == 3

        assert hub.generate_definitions() >= 2
        # reference DDL shape (CreateExternalTableFromDw, ps1:132-196)
        ddl = {
            (r["schema_name"], r["table_name"]): r["ddl"]
            for r in hub.remote_table_definitions("spoke_dm1").collect()
        }
        sale_ddl = ddl[("hub_fact", "sale")]
        assert "CREATE EXTERNAL TABLE [hubdw].[hub_fact_sale]" in sale_ddl
        assert "DATA_SOURCE = hubdw" in sale_ddl
        assert "SCHEMA_NAME  = N'hub_fact'" in sale_ddl
        assert "OBJECT_NAME  = N'sale'" in sale_ddl
        assert "[city_key] [bigint]" in sale_ddl

        s0 = SpokeDb(engine, "spoke_dm0")
        s0.create_external_data_source("hubdw", "hub warehouse", "spoke_dm0")
        s1 = SpokeDb(engine, "spoke_dm1")
        made0 = s0.setup_external_tables(hub)
        made1 = s1.setup_external_tables(hub)
        # grants scope the spokes: spoke0 never sees the fact table
        assert made0 == ["spoke_dm0.hub_dim_city"]
        assert sorted(made1) == [
            "spoke_dm1.hub_dim_city", "spoke_dm1.hub_fact_sale"
        ]
        got = {
            (r["city_key"], r["city"])
            for r in spark.table("spoke_dm0.hub_dim_city").collect()
        }
        assert got == {(1, "uk"), (2, "fr")}
        # partitioned hub table reads through with its partition column
        # (hive partition-type inference may type it date — value parity
        # is what matters)
        fact = spark.table("spoke_dm1.hub_fact_sale")
        assert fact.count() == 3
        assert {
            str(r["day"]) for r in fact.select("day").distinct().collect()
        } == {"2024-01-01", "2024-01-02"}
        # spoke sees hub WRITES with no re-setup: appends, and rewrites
        # that commit a new generation directory (twice, so the first
        # generation is gone too)
        engine.catalog.insert_into(
            "hub_dim.city",
            spark.createDataFrame([(3, "de")], "city_key: long, city: string"),
        )
        s0.refresh()
        assert spark.table("spoke_dm0.hub_dim_city").count() == 3
        engine.tsql("DELETE FROM hub_dim.city WHERE city_key = 1").collect()
        s0.refresh()
        assert spark.table("spoke_dm0.hub_dim_city").count() == 2
        engine.tsql("UPDATE hub_dim.city SET city = 'es' WHERE city_key = 2").collect()
        s0.refresh()
        got = {
            (r["city_key"], r["city"])
            for r in spark.table("spoke_dm0.hub_dim_city").collect()
        }
        assert got == {(2, "es"), (3, "de")}
        assert got == {
            (r["city_key"], r["city"])
            for r in spark.table("hub_dim.city").collect()
        }
        engine.tsql("DELETE FROM hub_fact.sale WHERE day = '2024-01-01'").collect()
        assert spark.table("spoke_dm1.hub_fact_sale").count() == 2
        # idempotent re-setup
        assert s1.setup_external_tables(hub) == made1
    finally:
        for db in ("spoke_dm0", "spoke_dm1", "hub_dim", "hub_fact"):
            engine.catalog.drop_schema(db, cascade=True)
        spark.sql(f"DROP TABLE IF EXISTS {CONTROL_TABLE}")
        spark.sql(
            "DROP TABLE IF EXISTS meta.datamart_external_table_definitions"
        )


def test_fleet_auto_pause_resume_tag_driven():
    """ScheduledAutoPauseResumeDWFleet.json semantics: only tagged
    warehouses are orchestrated; pause waits for zero active queries
    (Until_ZeroActiveQueries) and retries next tick; resume fires when
    the window ends; every decision is logged."""
    from sql_data_warehouse_samples_spark.wlm import (
        FleetAutoPause,
        ScaleLadder,
    )

    fleet = FleetAutoPause(pause_hours=(20, 6))
    busy = [2]
    a, b, c = ScaleLadder(), ScaleLadder(), ScaleLadder()
    fleet.register("dw-a", a, tags={"AutoPauseEnabled"},
                   active_queries=lambda: busy[0])
    fleet.register("dw-b", b, tags={"AutoPauseEnabled"})
    fleet.register("dw-untagged", c)

    # 22:00, inside the wrap-midnight window: b pauses, a waits (busy)
    d1 = {r["warehouse"]: r for r in fleet.tick(hour=22)}
    assert d1["dw-a"]["action"] == "waiting" and "2 active" in d1["dw-a"]["detail"]
    assert d1["dw-b"]["action"] == "pause" and b.paused
    assert "dw-untagged" not in d1 and not c.paused
    # queries drain -> the recurrence retry pauses a (2:00 also in window)
    busy[0] = 0
    d2 = {r["warehouse"]: r for r in fleet.tick(hour=2)}
    assert d2["dw-a"]["action"] == "pause" and a.paused
    assert d2["dw-b"]["action"] == "none"
    # 9:00, outside the window: both resume; untagged still untouched
    d3 = {r["warehouse"]: r for r in fleet.tick(hour=9)}
    assert d3["dw-a"]["action"] == "resume" and not a.paused
    assert d3["dw-b"]["action"] == "resume" and not b.paused
    assert not c.paused
    # operation-status parity rows recorded on the members
    assert [h[0] for h in a.history] == ["PAUSE DATABASE", "RESUME DATABASE"]


def test_fleet_auto_scale_tagged_schedule_windows():
    """ScheduledAutoScaleDWFleet.json semantics: per-warehouse tags name
    the scale times and target SLOs; the recurrence acts only inside the
    [T-5min, T+11min) tolerance window, skips paused members, jumps
    straight to the tagged DWU, and retries on the quiesce gate."""
    from sql_data_warehouse_samples_spark.wlm import FleetAutoScale, ScaleLadder

    fleet = FleetAutoScale()
    busy = [3]
    a, b = ScaleLadder(current=500), ScaleLadder(current=500)
    tags = {
        "AutoScheduleScaleUpTime": 8 * 60,       # 8:00 AM (template default)
        "AutoScheduleScaleUpSLO": "DW1000c",
        "AutoScheduleScaleDownTime": 20 * 60,    # 8:00 PM
        "AutoScheduleScaleDownSLO": "DW500c",
    }
    fleet.register("dw-a", a, tags, active_queries=lambda: busy[0])
    fleet.register("dw-b", b, tags)
    fleet.register("dw-untagged", ScaleLadder(current=500), {})

    # 7:30 — outside every window: nothing happens
    assert fleet.tick(now_min=7 * 60 + 30) == []
    # 7:57 — inside [7:55, 8:11): b scales to DW1000, a hits the quiesce
    # gate and logs waiting
    d1 = {r["warehouse"]: r for r in fleet.tick(now_min=7 * 60 + 57)}
    assert b.current == 1000 and d1["dw-b"]["action"] == "scale_up"
    assert a.current == 500 and d1["dw-a"]["action"] == "waiting"
    # queries drain before the window closes: the 15-min recurrence's
    # next firing at 8:10 still lands inside and retries
    busy[0] = 0
    d2 = {r["warehouse"]: r for r in fleet.tick(now_min=8 * 60 + 10)}
    assert a.current == 1000 and d2["dw-a"]["action"] == "scale_up"
    assert d2["dw-b"]["detail"] == "already at DW1000"
    # paused member is skipped ("not Online")
    b.pause()
    d3 = {r["warehouse"]: r for r in fleet.tick(now_min=20 * 60)}
    assert d3["dw-b"]["action"] == "none" and b.current == 1000
    assert a.current == 500 and d3["dw-a"]["action"] == "scale_down"


def test_export_training_shards_end_to_end(engine, tmp_path):
    """Engine-level shard export: CTAS a table, export it as verified
    shards, see the request logged and the audit green."""
    spark = engine.spark
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    engine.create_schema("exp")
    engine.create_table_as("exp.docs", d)
    out = engine.export_training_shards(
        "exp.docs", str(tmp_path / "shards"), "doc_id", 4, seed="ep0"
    )
    assert out["verified"] and out["n_rows"] == d.count()
    back = spark.read.parquet(str(tmp_path / "shards"))
    assert back.select("shard_id").distinct().count() == 4
    # the export shows up in request monitoring like any statement
    reqs = [r.command for r in spark.sql(
        "SELECT command FROM vw_active_requests"
    ).collect()] if spark.catalog.tableExists("vw_active_requests") else None
    engine.catalog.drop_schema("exp", cascade=True)
