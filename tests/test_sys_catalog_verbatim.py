"""The reference's sqlops monitoring scripts running VERBATIM.

Each test reads the actual file from the reference checkout and feeds the
UNMODIFIED text through ``Engine.tsql`` — proving the raw ``sys.*`` PDW
catalog layer (pdw_catalog.py) + the T-SQL rewriter serve the exact
relations, column names, and join keys the reference scripts use.
"""

from __future__ import annotations

import os

import pytest

REF = "/root/reference/samples"

#: on every test that opens a reference file; the rest run without it
needs_ref = pytest.mark.skipif(
    not os.path.isdir(REF), reason="reference checkout not present"
)


@pytest.fixture(scope="module")
def sysengine(spark, tmp_path_factory):
    """Engine with a hash-distributed table, stats, a backup, and request
    history — enough state that every monitoring script has rows to see."""
    from sql_data_warehouse_samples_spark.catalog import hash_layout
    from sql_data_warehouse_samples_spark.engine import Engine

    eng = Engine(spark)
    eng.catalog.create_schema("sysfact")
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").limit(5000)
    eng.create_table_as("sysfact.li", li, hash_layout("l_orderkey"))
    eng.stats.create_statistics("sysfact.li", ["l_orderkey", "l_shipdate"])
    eng.ops.backup(["sysfact.li"], str(tmp_path_factory.mktemp("bak")))
    eng.sql("SELECT COUNT(*) AS n FROM sysfact.li", label="warm").collect()
    eng.register_monitoring_views(["sysfact.li"])
    yield eng
    eng.catalog.drop_schema("sysfact", cascade=True)


def _run(eng, relpath: str):
    with open(os.path.join(REF, relpath)) as f:
        return eng.tsql(f.read())


# (script, expected column subset, min rows)
SQLOPS = "sqlops/MonitoringScripts"
SCRIPTS = [
    (f"{SQLOPS}/TempdbConsumption.sql",
     {"pdw_node_id", "Tempdb_Space_Allocated_KB"}, 1),
    (f"{SQLOPS}/SkewDetection.sql", {"distribution_id", "Data_Size_GB"}, 2),
    (f"{SQLOPS}/StorageSize.sql", {"data_space_GB"}, 3),
    (f"{SQLOPS}/TableHealthCount.sql",
     {"Poor_Quality_Segments", "Stale_Stats_7_Days"}, 1),
    (f"{SQLOPS}/MemoryGrant.sql", {"Table_name", "est_mem_grant_MiB"}, 1),
    (f"{SQLOPS}/MemoryConsumption.sql",
     {"pdw_node_id", "Memory_Utilization_Percentage"}, 2),
    (f"{SQLOPS}/UserActivities.sql",
     {"Active_Sessions", "Active_Queries", "Queued_Queries", "Loads"}, 1),
    (f"{SQLOPS}/Documentation.sql", {"Data_Skew", "Github"}, 1),
    (f"{SQLOPS}/LatestBackup.sql",
     {"start_time", "end_time", "progress_percent", "duration_seconds"}, 1),
    (f"{SQLOPS}/Rowgroups.sql",
     {"Memory_Limitation", "Bulkload", "Dictionary_Size"}, 1),
    (f"{SQLOPS}/RowgroupDetails.sql",
     {"logical_table_name", "state_desc", "total_rows", "trim_reason_desc"}, 1),
    ("scripts/monitor/concurrency/queued_queries.sql",
     {"request_id", "state", "queued_sec"}, 0),
    ("scripts/monitor/concurrency/running_queued_queries_slots.sql",
     {"running_queries", "queued_queries_slots"}, 1),
    ("scripts/monitor/transparent_data_encryption/"
     "transparent_data_encryption_status.sql", {"name", "Encrypted"}, 1),
    ("scripts/queries/query_memory_usage.sql",
     {"request_id", "granted_memory_kb", "requested_memory_gap"}, 1),
    # multi-statement DECLARE-threshold script: the @minRows=1,000,000 filter
    # exceeds the fixture's 5k rows, so verbatim success = correct columns,
    # zero findings (the semantics fire in test_impacted_tables_* below)
    (f"{SQLOPS}/ImpactedTables",
     {"sch_name", "table_name", "cmp_row_count", "ctl_row_count",
      "skew_percent", "stat_info", "skew_info"}, 0),
]


@needs_ref
@pytest.mark.parametrize(
    "relpath,cols,min_rows", SCRIPTS, ids=[s[0].rsplit("/", 1)[1] for s in SCRIPTS]
)
def test_reference_script_verbatim(sysengine, relpath, cols, min_rows):
    df = _run(sysengine, relpath)
    assert cols <= set(df.columns)
    assert df.count() >= min_rows


@needs_ref
def test_impacted_tables_detectors_fire(sysengine):
    """ImpactedTables' detection CTEs produce findings when thresholds
    permit: a stats-free table reports the PDW 1000-row control-node
    sentinel → 'missing stats'.  Only the DECLARE literals are lowered to
    fixture scale; the query body runs untouched."""
    spark = sysengine.spark
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").limit(500)
    sysengine.create_table_as("sysfact.nostats", li)
    sysengine.register_monitoring_views(["sysfact.li", "sysfact.nostats"])
    try:
        with open(os.path.join(REF, f"{SQLOPS}/ImpactedTables")) as f:
            text = f.read().replace("@minRows int=1000000", "@minRows int=10")
        rows = {r.table_name: r for r in sysengine.tsql(text).collect()}
        assert rows["nostats"].stat_info == "missing stats"
        assert rows["nostats"].ctl_row_count == 1000
        assert rows["nostats"].cmp_row_count == 500
        # sysfact.li has fresh stats and balanced hash layout → no finding
        assert "li" not in rows
    finally:
        sysengine.catalog.drop_table("sysfact.nostats")
        sysengine.register_monitoring_views(["sysfact.li"])


@needs_ref
def test_reference_slo_status_first_statement_verbatim(sysengine):
    """slo_status.sql's SELECT runs verbatim (its WHILE poll loop is
    procedural T-SQL — Engine.ops.wait_for_scale is that loop's API)."""
    with open(
        os.path.join(REF, "scripts/monitor/service_level_objective/slo_status.sql")
    ) as f:
        first = f.read().split(";", 1)[0]
    rows = sysengine.tsql(first).collect()
    assert len(rows) == 1
    assert rows[0].Edition == "DataWarehouse"
    assert rows[0].ServiceObject.startswith("DW")


@needs_ref
def test_skew_detection_accounts_every_distribution(sysengine):
    """SkewDetection aggregates per-distribution reserved GB; the hash table
    was written with the 60-way layout so all 60 distributions report."""
    rows = _run(sysengine, f"{SQLOPS}/SkewDetection.sql").collect()
    assert rows and len(rows) == len({r.distribution_id for r in rows})
    assert all(r.Data_Size_GB > 0 for r in rows)


@needs_ref
def test_generate_rebuild_all_verbatim(sysengine):
    """samples/scripts/indexes/generate_rebuild_all.sql (the statement-
    generator the index-maintenance loop consumes) runs verbatim over the
    raw rowgroup/mapping catalog and emits one REBUILD per table."""
    df = _run(sysengine, "scripts/indexes/generate_rebuild_all.sql")
    rows = df.collect()
    stmts = [r[0] for r in rows]
    assert "ALTER INDEX ALL ON sysfact.li REBUILD;" in stmts
    # the generated statements run through the maintenance dispatcher
    sysengine.run_script(
        [
            "REBUILD TABLE "
            + s.removeprefix("ALTER INDEX ALL ON ").removesuffix(" REBUILD;")
            for s in stmts
            if "sysfact.li" in s
        ]
    )


WWI = "/root/reference/samples/databases/wide-world-importers/tables"


@needs_ref
def test_wwi_schema_ddl_deploys_verbatim(spark, tmp_path_factory):
    """The entire Wide World Importers physical schema (15 CREATE TABLE
    scripts: bracketed space-named columns, NVARCHAR/DECIMAL/BIT/
    VARBINARY(MAX)/DATETIME2 types, IDENTITY keys, HASH/ROUND_ROBIN/
    REPLICATE distributions, CLUSTERED [COLUMNSTORE] INDEX, RANGE
    partitioning) deploys verbatim through Engine.tsql_script."""
    import glob

    from sql_data_warehouse_samples_spark.engine import Engine

    eng = Engine(spark)
    # the schema scripts deploy verbatim too (security/schemas/*.sql)
    for path in sorted(glob.glob(os.path.join(WWI, "../security/schemas/*.sql"))):
        with open(path, encoding="utf-8-sig") as f:
            eng.tsql_script(f.read())
    try:
        for path in sorted(glob.glob(os.path.join(WWI, "*.sql"))):
            with open(path, encoding="utf-8-sig") as f:
                eng.tsql_script(f.read())
        tables = {
            f"{db}.{t.name}"
            for db in ("dimension", "fact", "seed")
            for t in spark.catalog.listTables(db)
            if not t.isTemporary
        }
        assert len(tables) == 15
        sale = eng.catalog.get_layout("fact.sale")
        assert sale.distribution == "hash"
        assert sale.distribution_column == "WWI Invoice ID"
        assert sale.partition_column == "Invoice Date Key"
        assert sale.identity_column == "Sale Key"
        date_dim = eng.catalog.get_layout("dimension.date")
        assert date_dim.index_type == "clustered"
        assert date_dim.sort_columns == ["Date"]
        # typed columns survive: DECIMAL scale, DATE, BINARY photo blob
        f_sale = {f.name: f.dataType.simpleString()
                  for f in spark.table("fact.sale").schema.fields}
        assert f_sale["Unit Price"] == "decimal(18,2)"
        assert f_sale["Invoice Date Key"] == "date"
        emp = {f.name: f.dataType.simpleString()
               for f in spark.table("dimension.employee").schema.fields}
        assert emp["Photo"] == "binary" and emp["Is Salesperson"] == "boolean"
        # the deployed table is writable and readable
        spark.sql(
            "INSERT INTO dimension.transaction_type VALUES (1, 1, 'Invoice',"
            " TIMESTAMP'2016-01-01 00:00:00', TIMESTAMP'9999-12-31 23:59:59', 1)"
        )
        assert spark.table("dimension.transaction_type").count() == 1
    finally:
        for sch in ("dimension", "fact", "seed"):
            eng.catalog.drop_schema(sch, cascade=True)


MONSOL = "/root/reference/solutions/monitoring/scripts"

#: deployment order: base views before the rollups that select from them
MONITORING_DEPLOY = [
    "schema/microsoft.sql",
    "views/microsoft.vw_active_queries.sql",
    "views/microsoft.vw_query_queue.sql",
    "views/microsoft.vw_query_slots.sql",
    "views/microsoft.vw_query_steps.sql",
    "views/microsoft.vw_query_step_details.sql",
    "views/microsoft.vw_sql_requests.sql",
    "views/microsoft.vw_security_role_members.sql",
    "views/microsoft.vw_statistics_age.sql",
    "views/microsoft.vw_table_sizes.sql",
    "views/microsoft.vw_table_space_summary.sql",
    "views/microsoft.vw_table_space_by_distribution.sql",
    "views/microsoft.vw_table_space_by_distribution_type.sql",
    "views/microsoft.vw_table_space_by_index_type.sql",
    "views/microsoft.vw_tables_with_skew.sql",
]


@needs_ref
def test_monitoring_solution_deploys_verbatim(sysengine):
    """The ENTIRE monitoring solution deploys byte-for-byte: the schema
    script, all 14 view-definition scripts (PRINT/GO batches included),
    then clean.sql tears it down — and every deployed view answers
    queries with the reference's rows/columns."""
    spark = sysengine.spark
    for rel in MONITORING_DEPLOY:
        with open(os.path.join(MONSOL, rel)) as f:
            sysengine.tsql_script(f.read())
    # the full-fidelity space-accounting view: one row per distribution,
    # reserved = unused + data + index, reference column names intact
    sizes = spark.table("microsoft_vw_table_sizes")
    li_rows = [r for r in sizes.collect() if r.table_name == "li"]
    assert len(li_rows) == 60  # 60-way hash layout → 60 distributions
    for r in li_rows:
        assert r.reserved_space_page_count == (
            r.unused_space_page_count
            + r.data_space_page_count
            + r.index_space_page_count
        )
        assert r.two_part_name == "[sysfact].[li]"
    assert (
        spark.table("microsoft_vw_table_space_summary")
        .filter("table_name = 'li'")
        .collect()[0]
        .table_row_count
        == spark.table("sysfact.li").count()
    )
    # queue/steps/security/statistics views all resolve
    for vw, min_rows in [
        ("microsoft_vw_active_queries", 0),
        ("microsoft_vw_query_queue", 0),
        ("microsoft_vw_query_slots", 1),
        ("microsoft_vw_query_steps", 1),
        ("microsoft_vw_query_step_details", 1),
        ("microsoft_vw_sql_requests", 1),
        ("microsoft_vw_security_role_members", 1),
        ("microsoft_vw_statistics_age", 2),
        ("microsoft_vw_tables_with_skew", 1),
        ("microsoft_vw_table_space_by_distribution", 60),
        ("microsoft_vw_table_space_by_distribution_type", 1),
        ("microsoft_vw_table_space_by_index_type", 1),
    ]:
        assert spark.table(vw).count() >= min_rows, vw
    # teardown script runs verbatim too
    with open(os.path.join(MONSOL, "clean.sql")) as f:
        sysengine.tsql_script(f.read())
    assert "microsoft_vw_table_sizes" not in [
        t.name for t in spark.catalog.listTables()
    ]


def test_sys_catalog_join_spine_consistency(sysengine):
    """The emitted sys.* relations agree on join keys: tables ⋈ mappings ⋈
    nodes_tables ⋈ partition_stats resolves every distribution, and the
    partition-stats row total equals the table's actual count."""
    spark = sysengine.spark
    total = spark.sql(
        """
        SELECT SUM(ps.row_count) AS n
        FROM pdw_sys_tables t
        JOIN pdw_sys_pdw_table_mappings mp ON t.object_id = mp.object_id
        JOIN pdw_sys_pdw_nodes_tables nt ON mp.physical_name = nt.name
        JOIN pdw_sys_dm_pdw_nodes_db_partition_stats ps
          ON nt.object_id = ps.object_id
         AND nt.pdw_node_id = ps.pdw_node_id
         AND nt.distribution_id = ps.distribution_id
        WHERE t.name = 'li'
        """
    ).collect()[0].n
    assert total == spark.table("sysfact.li").count()
    # every nodes_tables row resolves to a node and a distribution
    dangling = spark.sql(
        """
        SELECT COUNT(*) AS n FROM pdw_sys_pdw_nodes_tables nt
        LEFT JOIN pdw_sys_dm_pdw_nodes pn ON nt.pdw_node_id = pn.pdw_node_id
        LEFT JOIN pdw_sys_pdw_distributions di
          ON nt.distribution_id = di.distribution_id
        WHERE pn.pdw_node_id IS NULL OR di.distribution_id IS NULL
        """
    ).collect()[0].n
    assert dangling == 0


@needs_ref
def test_sqlops_dashboard_manifest_runs_every_widget(sysengine):
    """samples/sqlops/package.json (the Azure Data Studio extension
    manifest) parsed from the reference and executed: every insight
    widget's query renders rows through the engine — the full dashboard,
    not just the individual scripts."""
    from sql_data_warehouse_samples_spark.pdw_catalog import (
        dashboard_manifest,
        run_dashboard,
    )

    manifest = dashboard_manifest(os.path.join(REF, "sqlops/package.json"))
    assert len(manifest) == 8
    by_name = {m["widget_name"]: m for m in manifest}
    assert by_name["Storage Size"]["chart_type"] == "pie"
    assert by_name["Data Distribution"]["chart_type"] == "bar"
    assert {m["chart_type"] for m in manifest} == {
        "count", "pie", "bar", "table", "horizontalBar"
    }
    frames = run_dashboard(sysengine, os.path.join(REF, "sqlops"))
    assert set(frames) == {m["insight_id"] for m in manifest}
    for iid, df in frames.items():
        assert df.count() >= 1, iid
