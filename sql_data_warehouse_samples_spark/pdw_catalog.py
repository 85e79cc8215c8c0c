"""Raw ``sys.*`` PDW catalog layer (SURVEY.md §2.10 depth).

The reference's sqlops monitoring scripts do NOT query friendly views —
they join the raw SQL DW system catalog: ``sys.schemas`` × ``sys.tables``
× ``sys.pdw_table_mappings`` × ``sys.pdw_nodes_tables`` ×
``sys.dm_pdw_nodes_db_partition_stats`` and friends
(samples/sqlops/MonitoringScripts/StorageSize.sql:8-99,
SkewDetection.sql:1-103, TableHealthCount.sql:1-75, MemoryGrant.sql:1-58,
Rowgroups.sql:1-30, RowgroupDetails.sql:1-24, TempdbConsumption.sql:1-7,
MemoryConsumption.sql:23-35, UserActivities.sql:1-31,
scripts/queries/query_memory_usage.sql:22-42).

This module serves those exact relations — PDW column names, PDW join
keys — so the reference scripts run VERBATIM through ``Engine.tsql``.  It
reads no source of its own: each relation reshapes a view that
``Engine.register_monitoring_views`` has just registered, or one of the
engine's in-memory ledgers:

* catalog and layout → ``meta_tables`` / ``meta_columns`` (meta.py);
  ``sys.partitions`` row beliefs and ``sys.stats`` → the statistics ledger;
* physical layout → ``meta_partition_stats`` / ``meta_rowgroups``
  (meta.py), one parquet file = one distribution;
* nodes and memory counters → ``meta_nodes`` (metrics.py), with the driver
  JVM's heap as the fallback.  On ``local[*]`` the single JVM serves both
  roles, so the node DMV shows the driver as the CONTROL node (id 1) and a
  COMPUTE node (id 2) backed by the same process;
* DMS workers and tempdb session space → ``meta_task_requests``
  (metrics.py), which holds this engine session's requests only.

Identity model: ``object_id``/``schema_id`` are stable CRC32s of the
qualified name (re-registration keeps ids), distributions are numbered by
file index, and every emitted relation agrees on those keys, so the
reference's N-way catalog joins resolve.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession

# Spark type → (system_type_id, T-SQL name, max_length) — the id space the
# reference's MemoryGrant.sql:30-36 string-size CASE tests (167/175/231/239
# are the char/varchar/nchar/nvarchar family).
_SYSTYPES = {
    "string": (231, "nvarchar", 8000),
    "int": (56, "int", 4),
    "bigint": (127, "bigint", 8),
    "smallint": (52, "smallint", 2),
    "tinyint": (48, "tinyint", 1),
    "double": (62, "float", 8),
    "float": (59, "real", 4),
    "decimal": (106, "decimal", 17),
    "date": (40, "date", 3),
    "timestamp": (61, "datetime", 8),
    "timestamp_ntz": (61, "datetime", 8),
    "boolean": (104, "bit", 1),
    "binary": (165, "varbinary", 8000),
    "array": (240, "udt", 8000),
}

#: node ids — CONTROL first, like a PDW appliance map
CONTROL_NODE_ID = 1
_FIRST_COMPUTE_ID = 2



def _oid(p: str = "") -> str:
    """SQL form of ``object_id`` over a meta_* row (``p``: table alias)."""
    return f"(crc32(concat({p}schema_name, '.', {p}table_name)) & 2147483647)"


def _node_of(d: str) -> str:
    """SQL form of the COMPUTE node of distribution ``d``: compute ids are
    contiguous from _FIRST_COMPUTE_ID and distributions are dealt
    round-robin over them."""
    return (
        f"CAST({_FIRST_COMPUTE_ID} + {d} % (SELECT COUNT(*) FROM"
        " pdw_sys_dm_pdw_nodes WHERE type = 'COMPUTE') AS INT)"
    )


def object_id(qualified: str) -> int:
    """Stable positive object id for a ``schema.table`` name."""
    return zlib.crc32(qualified.encode()) & 0x7FFFFFFF


def _schema_id(name: str) -> int:
    return zlib.crc32(name.encode()) & 0xFFFFF


class PdwSysCatalog:
    """Registers the raw ``sys.*`` relations as temp views
    (``pdw_sys_<name>``); ``functions/rewriter.py`` maps the ``sys.``
    names in verbatim scripts onto them."""

    def __init__(self, engine) -> None:
        self.engine = engine
        self.spark: SparkSession = engine.spark

    def _view(self, name: str, sql: str) -> None:
        self.spark.sql(sql).createOrReplaceTempView(f"pdw_sys_{name}")

    def _df(self, rows, schema) -> DataFrame:
        if not rows:
            n = len(schema.split(","))
            return self.spark.createDataFrame([(None,) * n], schema).limit(0)
        return self.spark.createDataFrame(rows, schema)

    def register(self, schemas: list[str]) -> None:
        """Register every raw relation as a ``pdw_sys_*`` temp view over the
        ``meta_*`` views registered just before; ``schemas`` are the
        database names of that registration's catalog walk."""
        self._register_catalog(schemas)
        self._register_layout()
        self._register_stats()
        self._register_nodes()
        self._register_physical()
        self._register_runtime(schemas)

    # ---- logical catalog -------------------------------------------------

    def _register_catalog(self, schemas: list[str]) -> None:
        from pyspark.sql import types as T

        ids = {name: _schema_id(name) for name in schemas}
        self._df(
            list(ids.items()), "name string, schema_id long"
        ).createOrReplaceTempView("pdw_sys_schemas")
        name_of = {sid: name for name, sid in ids.items()}
        # SCHEMA_NAME(schema_id) (clean.sql:5 existence guards)
        self.spark.udf.register(
            "SCHEMA_NAME", lambda sid: name_of.get(sid), T.StringType()
        )
        objects = f"""
            SELECT table_name AS name, {_oid()} AS object_id,
                   (crc32(schema_name) & 1048575) AS schema_id,
                   IF(is_view, 'V', 'U') AS type,
                   IF(is_view, 'VIEW', 'USER_TABLE') AS type_desc
            FROM meta_tables"""
        self._view("objects", objects)
        self._view("tables", objects + " WHERE NOT is_view")
        self._view(
            "views",
            "SELECT name, object_id, schema_id FROM pdw_sys_objects"
            " WHERE type = 'V'",
        )
        types = ", ".join(
            f"('{base}', {tid}, {maxlen})"
            for base, (tid, _name, maxlen) in _SYSTYPES.items()
        )
        self._view(
            "columns",
            f"""
            SELECT {_oid()} AS object_id, ordinal + 1 AS column_id,
                   column_name AS name,
                   COALESCE(t.tid, 231) AS system_type_id,
                   COALESCE(t.tid, 231) AS user_type_id,
                   COALESCE(t.maxlen, 8000) AS max_length,
                   is_nullable
            FROM meta_columns c
            LEFT JOIN (VALUES {types}) AS t(base, tid, maxlen)
              ON regexp_extract(COALESCE(c.data_type, 'string'),
                                '^[A-Za-z0-9_]+', 0) = t.base
            """,
        )
        self._df(
            sorted({(tid, tid, name) for tid, name, _len in _SYSTYPES.values()}),
            "user_type_id int, system_type_id int, name string",
        ).createOrReplaceTempView("pdw_sys_types")
        self._df(
            [], "name string, object_id long, schema_id long"
        ).createOrReplaceTempView("pdw_sys_procedures")

    # ---- physical layout (distribution metadata) -------------------------

    def _register_layout(self) -> None:
        """indexes / distribution properties / column distribution ordinal /
        table mappings — from the declared layouts in meta_tables
        (StorageSize.sql:76-97's join spine).

        sys.partitions: the CONTROL node's row-count belief comes from
        optimizer statistics, so a never-analyzed table reports the PDW
        default estimate of 1000 rows — exactly the sentinel ImpactedTables:6
        tests (@missingStatCtlRowCount int=1000).  The belief is the row
        count the StatisticsService ledger recorded at the last ANALYZE."""
        self._view(
            "indexes",
            f"""
            SELECT {_oid()} AS object_id,
                   IF(itype = 0, 0, 1) AS index_id, itype AS type,
                   CASE itype WHEN 5 THEN 'CLUSTERED COLUMNSTORE'
                              WHEN 0 THEN 'HEAP' ELSE 'CLUSTERED' END
                     AS type_desc
            FROM (
              SELECT *, CASE COALESCE(index_type, 'CCI') WHEN 'CCI' THEN 5
                          WHEN 'heap' THEN 0 ELSE 1 END AS itype
              FROM meta_tables WHERE NOT is_view
            )
            """,
        )
        self._view(
            "pdw_table_distribution_properties",
            f"""
            SELECT {_oid()} AS object_id,
                   CASE distribution_policy WHEN 'hash' THEN 2
                     WHEN 'replicate' THEN 3 ELSE 4 END AS distribution_policy,
                   CASE distribution_policy WHEN 'hash' THEN 'HASH'
                     WHEN 'replicate' THEN 'REPLICATE' ELSE 'ROUND_ROBIN' END
                     AS distribution_policy_desc
            FROM meta_tables WHERE NOT is_view
            """,
        )
        self._view(
            "pdw_column_distribution_properties",
            f"""
            SELECT {_oid("c.")} AS object_id, c.ordinal + 1 AS column_id,
                   1 AS distribution_ordinal
            FROM meta_tables t
            JOIN meta_columns c
              ON t.schema_name = c.schema_name AND t.table_name = c.table_name
             AND t.distribution_column = c.column_name
            WHERE NOT t.is_view
            """,
        )
        self._view(
            "pdw_table_mappings",
            f"""
            SELECT {_oid()} AS object_id,
                   concat('Table_', {_oid()}) AS physical_name
            FROM meta_tables WHERE NOT is_view
            """,
        )
        beliefs = {
            object_id(t): n
            for t in {e["table"] for e in self.engine.stats._ledger}
            if (n := self.engine.stats.last_analyzed_rows(t)) is not None
        }
        self.spark.table("pdw_sys_indexes").join(
            self._df(list(beliefs.items()), "object_id long, rows long"),
            "object_id",
            "left",
        ).selectExpr(
            "object_id", "index_id", "1 AS partition_number",
            "COALESCE(rows, 1000) AS rows",
        ).createOrReplaceTempView("pdw_sys_partitions")

    def _register_stats(self) -> None:
        """sys.stats / sys.stats_columns + the STATS_DATE() lookup — from the
        StatisticsService ledger (TableHealthCount.sql:55-75's staleness
        count)."""
        import datetime as dt

        from pyspark.sql import types as T

        stats, stats_cols, dates = [], [], {}
        per_table: dict[str, int] = {}
        for e in self.engine.stats._ledger:
            oid = object_id(e["table"])
            for c in e["columns"]:
                sid = per_table.get(e["table"], 0) + 1
                per_table[e["table"]] = sid
                stats.append((oid, sid, f"stat_{c}", 1))
                stats_cols.append((oid, sid, c))
                dates[(oid, sid)] = dt.datetime.fromtimestamp(e["analyzed_at"])
        self._df(
            stats, "object_id long, stats_id int, name string, user_created int"
        ).createOrReplaceTempView("pdw_sys_stats")
        self._df(stats_cols, "object_id long, stats_id int, name string").join(
            self.spark.table("pdw_sys_columns"), ["object_id", "name"]
        ).select("object_id", "stats_id", "column_id").createOrReplaceTempView(
            "pdw_sys_stats_columns"
        )
        self.spark.udf.register(
            "STATS_DATE",
            lambda oid, sid: dates.get((oid, sid)),
            T.TimestampType(),
        )

    # ---- physical stats (parquet footers) --------------------------------

    def _register_physical(self) -> None:
        """Per-distribution partition stats + columnstore rowgroup DMVs.
        One parquet file = one distribution (meta.py's mapping); pages are
        8 KB like the reference's ``* 8.0`` KB math (StorageSize.sql:28)."""
        node = _node_of("distribution_id")
        self._view(
            "pdw_nodes_tables",
            f"""
            SELECT concat('Table_', {_oid()}) AS name, {_oid()} AS object_id,
                   {node} AS pdw_node_id, distribution_id
            FROM meta_partition_stats
            """,
        )
        self._view(
            "dm_pdw_nodes_db_partition_stats",
            f"""
            SELECT p.object_id, p.pdw_node_id, p.distribution_id,
                   COALESCE(i.index_id, 1) AS index_id, 1 AS partition_number,
                   p.reserved AS reserved_page_count,
                   p.reserved AS used_page_count,
                   p.data AS in_row_data_page_count,
                   CAST(0 AS LONG) AS row_overflow_used_page_count,
                   CAST(0 AS LONG) AS lob_used_page_count, p.row_count
            FROM (
              SELECT {_oid()} AS object_id, {node} AS pdw_node_id,
                     distribution_id, row_count,
                     (used_bytes + 8191) DIV 8192 AS reserved,
                     (data_bytes + 8191) DIV 8192 AS data
              FROM meta_partition_stats
            ) p
            LEFT JOIN pdw_sys_indexes i ON p.object_id = i.object_id
            """,
        )
        dist = "COALESCE(p.distribution_id, 0)"
        self._view(
            "pdw_nodes_column_store_row_groups",
            f"""
            SELECT {_oid("g.")} AS object_id, {_node_of(dist)} AS pdw_node_id,
                   {dist} AS distribution_id, 1 AS partition_number,
                   g.row_group_id, 3 AS state, g.state_desc, g.total_rows,
                   CAST(0 AS LONG) AS deleted_rows, g.size_in_bytes,
                   g.trim_reason_desc,
                   'NOT_APPLICABLE' AS transition_to_compressed_state_desc,
                   false AS has_vertipaq_optimization,
                   CAST(NULL AS TIMESTAMP) AS created_time,
                   CAST(NULL AS TIMESTAMP) AS closed_time, 1 AS generation
            FROM meta_rowgroups g
            LEFT JOIN meta_partition_stats p
              ON g.schema_name = p.schema_name
             AND g.table_name = p.table_name AND g.file_path = p.file_path
            """,
        )
        # the physical-stats DMV carries the same rows + delta-store id
        # (RowgroupDetails.sql:6-16)
        self._view(
            "dm_pdw_nodes_db_column_store_row_group_physical_stats",
            "SELECT *, CAST(NULL AS LONG) AS delta_store_hobt_id"
            " FROM pdw_sys_pdw_nodes_column_store_row_groups",
        )
        self._view(
            "pdw_distributions",
            f"""
            SELECT distribution_id, {_node_of("distribution_id")} AS pdw_node_id,
                   concat('Distribution_', distribution_id + 1) AS name,
                   distribution_id + 1 AS position
            FROM (SELECT DISTINCT distribution_id FROM pdw_sys_pdw_nodes_tables)
            """,
        )

    # ---- runtime DMVs (nodes, memory, tempdb, waits, loads, backups) -----

    def _register_nodes(self) -> None:
        """sys.dm_pdw_nodes from meta_nodes: driver = CONTROL; executors =
        COMPUTE (ids in executor-id order); on local[*] the driver doubles
        as the only COMPUTE node."""
        self._view(
            "dm_pdw_nodes",
            f"""
            SELECT pdw_node_id, type, name, name AS address,
                   false AS is_passive
            FROM (
              SELECT {CONTROL_NODE_ID} AS pdw_node_id, 'CONTROL' AS type,
                     'driver' AS name
              UNION ALL
              SELECT CAST({_FIRST_COMPUTE_ID - 1} + row_number() OVER (
                       ORDER BY TRY_CAST(node_id AS INT), node_id) AS INT),
                     'COMPUTE', COALESCE(NULLIF(host_port, ''), node_id)
              FROM meta_nodes WHERE node_type = 'COMPUTE'
              UNION ALL
              SELECT {_FIRST_COMPUTE_ID}, 'COMPUTE', 'localhost'
              WHERE NOT EXISTS (
                SELECT 1 FROM meta_nodes WHERE node_type = 'COMPUTE')
            )
            """,
        )

    def _register_runtime(self, schemas: list[str]) -> None:
        import datetime as dt

        from .metrics import jvm_memory
        from .wlm import TOTAL_SLOTS

        committed, maxmem = jvm_memory(self.spark)
        # OS performance counters (MemoryConsumption.sql:23-35): current and
        # target server memory per node, in KB
        self._view(
            "dm_pdw_nodes_os_performance_counters",
            f"""
            SELECT n.pdw_node_id, 'SQLServer:Memory Manager' AS object_name,
                   stack(2,
                     'Total Server Memory (KB)',
                     COALESCE(NULLIF(e.memory_used_bytes, 0), {committed}) DIV 1024,
                     'Target Server Memory (KB)',
                     COALESCE(NULLIF(e.max_memory_bytes, 0), {maxmem}) DIV 1024)
                   AS (counter_name, cntr_value)
            FROM pdw_sys_dm_pdw_nodes n
            LEFT JOIN meta_nodes e
              ON e.node_type = 'COMPUTE' AND e.host_port = n.name
            """,
        )

        # tempdb session space (TempdbConsumption.sql:2-7): this session's
        # spill bytes are its tempdb allocation; database_id 2 IS tempdb
        # (DB_NAME() UDF)
        sid = self.engine._session["session_id"]
        self._view(
            "dm_pdw_nodes_db_session_space_usage",
            f"""
            SELECT '{sid}' AS session_id, 2 AS database_id,
                   {_FIRST_COMPUTE_ID} AS pdw_node_id,
                   COALESCE(SUM(disk_spill_bytes), 0) DIV 8192
                     AS user_objects_alloc_page_count,
                   COALESCE(SUM(memory_spill_bytes), 0) DIV 8192
                     AS internal_objects_alloc_page_count
            FROM meta_task_requests
            """,
        )

        # waits (UserActivities.sql:16-22): admission-control queue states
        waits = [
            (i, sid, rid, "UserConcurrencyResourceType",
             "AcquireResources" if state == "Queued" else "Granted")
            for i, (rid, _rc, state, _sec, slots) in enumerate(
                self.engine.wlm.waits_log()
            )
            if slots >= 0
        ]
        self._df(
            waits,
            "wait_id int, session_id string, request_id string, type string,"
            " state string",
        ).createOrReplaceTempView("pdw_sys_dm_pdw_waits")

        # DMS external work (UserActivities.sql:25-29): one row per external
        # (CSV) load the engine ran
        loads = [
            (e.get("request_id", ""), 0, "FILE SPLIT", e["path"])
            for e in self.engine._load_log
        ]
        self._df(
            loads,
            "request_id string, step_index int, type string, input_name string",
        ).createOrReplaceTempView("pdw_sys_dm_pdw_dms_external_work")

        # per-distribution SQL requests + memory grants
        # (query_memory_usage.sql:24-42: pr ⋈ psqlr on request_id,
        #  psqlr.spid ⋈ mem.session_id)
        slot_kb = maxmem // TOTAL_SLOTS // 1024
        grants, sqlreqs = [], []
        for r in self.engine._requests:
            spid = object_id(r.request_id) % 100000
            sqlreqs.append(
                (r.request_id, 0, _FIRST_COMPUTE_ID, -1, r.status, None,
                 dt.datetime.fromtimestamp(r.start_time or r.submit_time),
                 dt.datetime.fromtimestamp(r.end_time) if r.end_time else None,
                 r.total_elapsed_ms, None, spid, r.command)
            )
            if r.resource_class:
                # grant = the class's slot share of executor memory — the
                # reference's slots-to-memory model (M2/M3, wlm.py)
                grant_kb = self.engine.wlm.slots_for(r.resource_class) * slot_kb
                grants.append(
                    (_FIRST_COMPUTE_ID, spid, grant_kb, grant_kb, grant_kb)
                )
        self._df(
            sqlreqs,
            "request_id string, step_index int, pdw_node_id int,"
            " distribution_id int, status string, error_id string,"
            " start_time timestamp, end_time timestamp,"
            " total_elapsed_time long, row_count long, spid int,"
            " command string",
        ).createOrReplaceTempView("pdw_sys_dm_pdw_sql_requests")
        self._df(
            grants,
            "pdw_node_id int, session_id int, requested_memory_kb long,"
            " granted_memory_kb long, ideal_memory_kb long",
        ).createOrReplaceTempView("pdw_sys_dm_pdw_nodes_exec_query_memory_grants")

        # DMS workers (vw_query_step_details.sql:24-33): our data-movement
        # worker = a stage, with its shuffle bytes/rows
        self._view(
            "dm_pdw_dms_workers",
            """
            SELECT request_id, 0 AS step_index, stage_id AS dms_step_index,
                   'Complete' AS status,
                   moved * 1000 DIV elapsed AS bytes_per_sec,
                   moved AS bytes_processed, rows_moved AS rows_processed,
                   elapsed AS total_elapsed_time
            FROM (
              SELECT request_id, stage_id,
                     shuffle_read_bytes + shuffle_write_bytes AS moved,
                     shuffle_read_rows + shuffle_write_rows AS rows_moved,
                     GREATEST(executor_run_ms, 1) AS elapsed
              FROM meta_task_requests
            )
            """,
        )

        # principals + role membership (vw_security_role_members.sql:8-16)
        roles = sorted({r for r, _m in self.engine._role_members})
        members = sorted({m for _r, m in self.engine._role_members})
        pid = {name: i + 1 for i, name in enumerate(roles + members)}
        self._df(
            [(pid[r], r, "DATABASE_ROLE") for r in roles]
            + [(pid[m], m, "SQL_USER") for m in members],
            "principal_id int, name string, type_desc string",
        ).createOrReplaceTempView("pdw_sys_database_principals")
        self._df(
            [(pid[r], pid[m]) for r, m in self.engine._role_members],
            "role_principal_id int, member_principal_id int",
        ).createOrReplaceTempView("pdw_sys_database_role_members")

        # loader backup runs (LatestBackup.sql:2-10)
        self.engine.ops.backup_runs().selectExpr(
            "run_id", "start_time", "end_time",
            "progress_percent AS progress", "status",
        ).createOrReplaceTempView("pdw_sys_pdw_loader_backup_runs")

        # databases / SLO / operation status / TDE
        # (slo_status.sql:4-15, transparent_data_encryption_status.sql:1-10)
        dbs = sorted(
            set(schemas)
            | {self.engine.ops.database_name}
            | set(self.engine.ops._encrypted)
        )
        self._df(
            [
                (name, i + 3,
                 1 if self.engine.ops._encrypted.get(name, False) else 0)
                for i, name in enumerate(dbs)
            ],
            "name string, database_id int, is_encrypted int",
        ).createOrReplaceTempView("pdw_sys_databases")
        self._df(
            [
                (dbs.index(self.engine.ops.database_name) + 3, "DataWarehouse",
                 f"DW{self.engine.ops.ladder.current}c")
            ],
            "database_id int, edition string, service_objective string",
        ).createOrReplaceTempView("pdw_sys_database_service_objectives")
        self.engine.ops.operation_status().selectExpr(
            "operation", "resource_type_desc", "detail", "start_time",
            "end_time", "state_desc",
        ).createOrReplaceTempView("pdw_sys_dm_operation_status")


# ---------------------------------------------------------------------------
# Azure Data Studio dashboard manifest (samples/sqlops/package.json) — the
# reference's packaging of the MonitoringScripts as insight widgets.
# ---------------------------------------------------------------------------


def dashboard_manifest(package_json_path: str) -> list[dict]:
    """Parse the sqlops extension manifest into insight rows:
    ``{insight_id, widget_name, script, chart_type, grid}``.

    The manifest's ``dashboard.insights`` name each widget's query file
    (``./sql/X.sql`` → ``MonitoringScripts/X.sql``; the one name variance
    is TableHealth → TableHealthCount) and chart form; ``dashboard.tabs``
    carries the display name + grid placement.  Everything the widgets
    query already runs verbatim through the engine
    (tests/test_sys_catalog_verbatim.py) — this closes the last sqlops
    asset by wiring manifest → script → engine."""
    import json
    import os

    with open(package_json_path) as f:
        pkg = json.load(f)
    contrib = pkg.get("contributes", {})
    names: dict[str, tuple[str, dict]] = {}
    for tab in contrib.get("dashboard.tabs", []):
        for w in tab.get("container", {}).get("widgets-container", []):
            widget = w.get("widget", {})
            for iid in widget:
                names[iid] = (w.get("name", iid), w.get("gridItemConfig", {}))
    aliases = {"TableHealth.sql": "TableHealthCount.sql"}
    out = []
    for ins in contrib.get("dashboard.insights", []):
        qf = os.path.basename(ins["contrib"]["queryFile"])
        script = aliases.get(qf, qf)
        name, grid = names.get(ins["id"], (ins["id"], {}))
        out.append(
            {
                "insight_id": ins["id"],
                "widget_name": name,
                "script": f"MonitoringScripts/{script}",
                "chart_type": next(iter(ins["contrib"]["type"])),
                "grid": grid,
            }
        )
    return out


def run_dashboard(engine, sqlops_dir: str) -> dict[str, "object"]:
    """Execute every manifest widget's script verbatim through the
    engine; returns {insight_id: DataFrame} — the data each dashboard
    chart would render."""
    import os

    out = {}
    for ins in dashboard_manifest(os.path.join(sqlops_dir, "package.json")):
        path = os.path.join(sqlops_dir, ins["script"])
        with open(path) as f:
            out[ins["insight_id"]] = engine.tsql(f.read())
    return out
