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
reads no source of its own.  ``VIEWS`` holds the relations that reshape
the ``meta_*`` views, as SQL text that ``Engine.register_monitoring_views``
creates once per Engine; each read resolves the meta_* relations the latest
registration left:

* catalog and layout → ``meta_tables`` / ``meta_columns`` (meta.py);
* physical layout → ``meta_partition_stats`` / ``meta_rowgroups``
  (meta.py), one parquet file = one distribution;
* DMS workers and tempdb session space → ``meta_task_requests``
  (metrics.py), which holds this engine session's requests only.

``PdwSysCatalog.register`` rebuilds, on each registration, the relations
that come from the engine's in-memory ledgers and that registration's
reads: schemas, ``sys.partitions`` row beliefs and ``sys.stats`` (the
statistics ledger), the nodes and their memory counters (the
``/executors`` read, with the driver JVM's heap as the fallback — on
``local[*]`` the single JVM serves both roles, so the node DMV shows the
driver as the CONTROL node (id 1) and a COMPUTE node (id 2) backed by the
same process), waits, loads, SQL requests, memory grants, principals and
databases.

Identity model: ``object_id``/``schema_id`` are stable CRC32s of the
qualified name (re-registration keeps ids), distributions are numbered by
file index, and every emitted relation agrees on those keys, so the
reference's N-way catalog joins resolve.
"""

from __future__ import annotations

import zlib

from pyspark.sql import SparkSession

from .operators._frames import small_df, utc

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
    (``pdw_sys_<name>``): ``register`` the ones built from engine state,
    ``VIEWS`` the SQL reshapes; ``functions/rewriter.py`` maps the ``sys.``
    names in verbatim scripts onto them."""

    def __init__(self, engine) -> None:
        self.engine = engine
        self.spark: SparkSession = engine.spark

    def register(
        self, schemas: list[str], tables: list[tuple], executors: list[dict]
    ) -> None:
        """Register the relations built on the driver, and the
        SCHEMA_NAME / STATS_DATE functions, from one registration's reads:
        ``schemas`` are its catalog walk's database names, ``tables`` its
        meta_tables rows and ``executors`` its ``/executors`` read
        (metrics.executor_metrics)."""
        from pyspark.sql import types as T

        from .metrics import jvm_memory
        from .wlm import TOTAL_SLOTS

        eng = self.engine
        sid = eng._session["session_id"]
        committed, maxmem = jvm_memory(self.spark)
        ids = {name: _schema_id(name) for name in schemas}
        name_of = {i: name for name, i in ids.items()}
        # SCHEMA_NAME(schema_id) (clean.sql:5 existence guards)
        self.spark.udf.register(
            "SCHEMA_NAME", lambda i: name_of.get(i), T.StringType()
        )
        stats, dates = self._stats()
        self.spark.udf.register(
            "STATS_DATE", lambda oid, i: dates.get((oid, i)), T.TimestampType()
        )
        nodes = _nodes(executors)
        # per-distribution SQL requests + memory grants
        # (query_memory_usage.sql:24-42: pr ⋈ psqlr on request_id,
        #  psqlr.spid ⋈ mem.session_id)
        slot_kb = maxmem // TOTAL_SLOTS // 1024
        sqlreqs, grants = [], []
        for r in eng._history():
            spid = object_id(r.request_id) % 100000
            sqlreqs.append(
                (r.request_id, 0, _FIRST_COMPUTE_ID, -1, r.status, None,
                 utc(r.start_time or r.submit_time), utc(r.end_time),
                 r.total_elapsed_ms, None, spid, r.command)
            )
            if r.resource_class:
                # grant = the class's slot share of executor memory — the
                # reference's slots-to-memory model (M2/M3, wlm.py)
                grant_kb = eng.wlm.slots_for(r.resource_class) * slot_kb
                grants.append((_FIRST_COMPUTE_ID, spid, grant_kb, grant_kb, grant_kb))
        # principals + role membership (vw_security_role_members.sql:8-16)
        roles = sorted({r for r, _m in eng._role_members})
        members = sorted({m for _r, m in eng._role_members})
        pid = {name: i + 1 for i, name in enumerate(roles + members)}
        # databases / SLO (slo_status.sql:4-15,
        # transparent_data_encryption_status.sql:1-10)
        dbs = sorted(set(schemas) | {eng.ops.database_name} | set(eng.ops._encrypted))
        relations = {
            "schemas": (list(ids.items()), "name string, schema_id long"),
            "partitions": (
                self._partitions(tables),
                "object_id long, index_id int, partition_number int, rows long",
            ),
            "stats": (
                stats, "object_id long, stats_id int, name string, user_created int"
            ),
            "dm_pdw_nodes": (
                [(i, kind, name, name, False) for i, kind, name, _e in nodes],
                "pdw_node_id int, type string, name string, address string,"
                " is_passive boolean",
            ),
            # OS performance counters (MemoryConsumption.sql:23-35): current
            # and target server memory per node, in KB; a node without
            # executor counters reports the driver JVM's
            "dm_pdw_nodes_os_performance_counters": (
                [
                    (i, "SQLServer:Memory Manager", counter, value // 1024)
                    for i, _kind, _name, e in nodes
                    for counter, value in [
                        ("Total Server Memory (KB)",
                         (e or {}).get("memory_used_bytes") or committed),
                        ("Target Server Memory (KB)",
                         (e or {}).get("max_memory_bytes") or maxmem),
                    ]
                ],
                "pdw_node_id int, object_name string, counter_name string,"
                " cntr_value long",
            ),
            # waits (UserActivities.sql:16-22): admission-control queue states
            "dm_pdw_waits": (
                [
                    (i, sid, rid, "UserConcurrencyResourceType",
                     "AcquireResources" if state == "Queued" else "Granted")
                    for i, (rid, _rc, state, _sec, slots) in enumerate(
                        eng.wlm.waits_log()
                    )
                    if slots >= 0
                ],
                "wait_id int, session_id string, request_id string, type string,"
                " state string",
            ),
            # DMS external work (UserActivities.sql:25-29): one row per
            # external (CSV) load the engine ran
            "dm_pdw_dms_external_work": (
                [
                    (e.get("request_id", ""), 0, "FILE SPLIT", e["path"])
                    for e in eng._load_log
                ],
                "request_id string, step_index int, type string, input_name string",
            ),
            "dm_pdw_sql_requests": (
                sqlreqs,
                "request_id string, step_index int, pdw_node_id int,"
                " distribution_id int, status string, error_id string,"
                " start_time timestamp, end_time timestamp,"
                " total_elapsed_time long, row_count long, spid int,"
                " command string",
            ),
            "dm_pdw_nodes_exec_query_memory_grants": (
                grants,
                "pdw_node_id int, session_id int, requested_memory_kb long,"
                " granted_memory_kb long, ideal_memory_kb long",
            ),
            "database_principals": (
                [(pid[r], r, "DATABASE_ROLE") for r in roles]
                + [(pid[m], m, "SQL_USER") for m in members],
                "principal_id int, name string, type_desc string",
            ),
            "database_role_members": (
                [(pid[r], pid[m]) for r, m in eng._role_members],
                "role_principal_id int, member_principal_id int",
            ),
            "databases": (
                [
                    (name, i + 3, 1 if eng.ops._encrypted.get(name, False) else 0)
                    for i, name in enumerate(dbs)
                ],
                "name string, database_id int, is_encrypted int",
            ),
            "database_service_objectives": (
                [
                    (dbs.index(eng.ops.database_name) + 3, "DataWarehouse",
                     f"DW{eng.ops.ladder.current}c")
                ],
                "database_id int, edition string, service_objective string",
            ),
        }
        for name, (rows, schema) in relations.items():
            small_df(self.spark, rows, schema).createOrReplaceTempView(
                f"pdw_sys_{name}"
            )

    def _partitions(self, tables: list[tuple]) -> list[tuple]:
        """sys.partitions rows of the walk's tables (not views): the
        CONTROL node's row-count belief comes from optimizer statistics, so
        a never-analyzed table reports the PDW default estimate of 1000 rows
        — exactly the sentinel ImpactedTables:6 tests
        (@missingStatCtlRowCount int=1000).  The belief is the row count the
        StatisticsService ledger recorded at the last ANALYZE."""
        out = []
        for _schema, _name, two_part, is_view, *_, index_type in tables:
            if is_view:
                continue
            rows = self.engine.stats.last_analyzed_rows(two_part)
            out.append(
                (object_id(two_part), 0 if index_type == "heap" else 1, 1,
                 1000 if rows is None else rows)
            )
        return out

    def _stats(self) -> tuple[list[tuple], dict]:
        """sys.stats rows and the STATS_DATE() lookup from the
        StatisticsService ledger (TableHealthCount.sql:55-75's staleness
        count)."""
        stats, dates = [], {}
        per_table: dict[str, int] = {}
        for e in self.engine.stats._ledger:
            oid = object_id(e["table"])
            for c in e["columns"]:
                sid = per_table.get(e["table"], 0) + 1
                per_table[e["table"]] = sid
                stats.append((oid, sid, f"stat_{c}", 1))
                dates[(oid, sid)] = utc(e["analyzed_at"])
        return stats, dates


def _nodes(executors: list[dict]) -> list[tuple]:
    """sys.dm_pdw_nodes as ``(pdw_node_id, type, name, executor counters
    or None)``: the driver is the CONTROL node, executors are COMPUTE nodes
    in executor-id order, and on local[*] the driver doubles as the only
    COMPUTE node."""
    compute = sorted(
        (e for e in executors if e["node_type"] == "COMPUTE"),
        key=lambda e: (
            e["node_id"].isdigit(),
            int(e["node_id"]) if e["node_id"].isdigit() else 0,
            e["node_id"],
        ),
    )
    return [(CONTROL_NODE_ID, "CONTROL", "driver", None)] + (
        [
            (_FIRST_COMPUTE_ID + i, "COMPUTE", e["host_port"] or e["node_id"],
             e if e["host_port"] else None)
            for i, e in enumerate(compute)
        ]
        or [(_FIRST_COMPUTE_ID, "COMPUTE", "localhost", None)]
    )


_COLUMN_TYPES = ", ".join(
    f"('{base}', {tid}, {maxlen})" for base, (tid, _n, maxlen) in _SYSTYPES.items()
)
_TYPES = ", ".join(
    f"({tid}, {tid}, '{name}')"
    for tid, name in sorted({(tid, name) for tid, name, _l in _SYSTYPES.values()})
)
_NODE_OF_DIST = _node_of("distribution_id")
_DIST = "COALESCE(p.distribution_id, 0)"

#: the ``pdw_sys_*`` relations that reshape the meta_* views and the
#: relations ``register`` builds, as SQL text (``Engine.
#: register_monitoring_views`` creates them once, in this order)
VIEWS = {
    f"pdw_sys_{name}": sql
    for name, sql in {
        # ---- logical catalog ----------------------------------------------
        "objects": f"""
            SELECT table_name AS name, {_oid()} AS object_id,
                   (crc32(schema_name) & 1048575) AS schema_id,
                   IF(is_view, 'V', 'U') AS type,
                   IF(is_view, 'VIEW', 'USER_TABLE') AS type_desc
            FROM meta_tables""",
        "tables": "SELECT * FROM pdw_sys_objects WHERE type = 'U'",
        "views": """
            SELECT name, object_id, schema_id FROM pdw_sys_objects
            WHERE type = 'V'""",
        "columns": f"""
            SELECT {_oid()} AS object_id, ordinal + 1 AS column_id,
                   column_name AS name,
                   COALESCE(t.tid, 231) AS system_type_id,
                   COALESCE(t.tid, 231) AS user_type_id,
                   COALESCE(t.maxlen, 8000) AS max_length,
                   is_nullable
            FROM meta_columns c
            LEFT JOIN (VALUES {_COLUMN_TYPES}) AS t(base, tid, maxlen)
              ON regexp_extract(COALESCE(c.data_type, 'string'),
                                '^[A-Za-z0-9_]+', 0) = t.base""",
        "types": f"""
            SELECT * FROM VALUES {_TYPES} AS t(user_type_id, system_type_id, name)""",
        "procedures": """
            SELECT CAST(NULL AS STRING) AS name, CAST(NULL AS BIGINT) AS object_id,
                   CAST(NULL AS BIGINT) AS schema_id
            WHERE false""",
        # ---- physical layout: the declared layouts in meta_tables
        # (StorageSize.sql:76-97's join spine) --------------------------------
        "indexes": f"""
            SELECT {_oid()} AS object_id,
                   IF(itype = 0, 0, 1) AS index_id, itype AS type,
                   CASE itype WHEN 5 THEN 'CLUSTERED COLUMNSTORE'
                              WHEN 0 THEN 'HEAP' ELSE 'CLUSTERED' END
                     AS type_desc
            FROM (
              SELECT *, CASE lower(COALESCE(index_type, 'cci')) WHEN 'cci' THEN 5
                          WHEN 'heap' THEN 0 ELSE 1 END AS itype
              FROM meta_tables WHERE NOT is_view
            )""",
        "pdw_table_distribution_properties": f"""
            SELECT {_oid()} AS object_id,
                   CASE distribution_policy WHEN 'hash' THEN 2
                     WHEN 'replicate' THEN 3 ELSE 4 END AS distribution_policy,
                   CASE distribution_policy WHEN 'hash' THEN 'HASH'
                     WHEN 'replicate' THEN 'REPLICATE' ELSE 'ROUND_ROBIN' END
                     AS distribution_policy_desc
            FROM meta_tables WHERE NOT is_view""",
        "pdw_column_distribution_properties": f"""
            SELECT {_oid("c.")} AS object_id, c.ordinal + 1 AS column_id,
                   1 AS distribution_ordinal
            FROM meta_tables t
            JOIN meta_columns c
              ON t.schema_name = c.schema_name AND t.table_name = c.table_name
             AND t.distribution_column = c.column_name
            WHERE NOT t.is_view""",
        "pdw_table_mappings": f"""
            SELECT {_oid()} AS object_id,
                   concat('Table_', {_oid()}) AS physical_name
            FROM meta_tables WHERE NOT is_view""",
        # sys.stats_columns: a statistic is named stat_<column>
        "stats_columns": """
            SELECT s.object_id, s.stats_id, c.column_id
            FROM pdw_sys_stats s
            JOIN pdw_sys_columns c
              ON s.object_id = c.object_id AND c.name = substr(s.name, 6)""",
        # ---- physical stats (parquet footers): one parquet file = one
        # distribution (meta.py's mapping); pages are 8 KB like the
        # reference's ``* 8.0`` KB math (StorageSize.sql:28) -----------------
        "pdw_nodes_tables": f"""
            SELECT concat('Table_', {_oid()}) AS name, {_oid()} AS object_id,
                   {_NODE_OF_DIST} AS pdw_node_id, distribution_id
            FROM meta_partition_stats""",
        "dm_pdw_nodes_db_partition_stats": f"""
            SELECT p.object_id, p.pdw_node_id, p.distribution_id,
                   COALESCE(i.index_id, 1) AS index_id, 1 AS partition_number,
                   p.reserved AS reserved_page_count,
                   p.reserved AS used_page_count,
                   p.data AS in_row_data_page_count,
                   CAST(0 AS LONG) AS row_overflow_used_page_count,
                   CAST(0 AS LONG) AS lob_used_page_count, p.row_count
            FROM (
              SELECT {_oid()} AS object_id, {_NODE_OF_DIST} AS pdw_node_id,
                     distribution_id, row_count,
                     (used_bytes + 8191) DIV 8192 AS reserved,
                     (data_bytes + 8191) DIV 8192 AS data
              FROM meta_partition_stats
            ) p
            LEFT JOIN pdw_sys_indexes i ON p.object_id = i.object_id""",
        "pdw_nodes_column_store_row_groups": f"""
            SELECT {_oid("g.")} AS object_id, {_node_of(_DIST)} AS pdw_node_id,
                   {_DIST} AS distribution_id, 1 AS partition_number,
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
             AND g.table_name = p.table_name AND g.file_path = p.file_path""",
        # the physical-stats DMV carries the same rows + delta-store id
        # (RowgroupDetails.sql:6-16)
        "dm_pdw_nodes_db_column_store_row_group_physical_stats": """
            SELECT *, CAST(NULL AS LONG) AS delta_store_hobt_id
            FROM pdw_sys_pdw_nodes_column_store_row_groups""",
        "pdw_distributions": f"""
            SELECT distribution_id, {_NODE_OF_DIST} AS pdw_node_id,
                   concat('Distribution_', distribution_id + 1) AS name,
                   distribution_id + 1 AS position
            FROM (SELECT DISTINCT distribution_id FROM pdw_sys_pdw_nodes_tables)""",
        # ---- runtime DMVs -------------------------------------------------
        # tempdb session space (TempdbConsumption.sql:2-7): this session's
        # spill bytes are its tempdb allocation; database_id 2 IS tempdb
        # (DB_NAME() function)
        "dm_pdw_nodes_db_session_space_usage": f"""
            SELECT s.session_id, 2 AS database_id,
                   {_FIRST_COMPUTE_ID} AS pdw_node_id,
                   COALESCE(SUM(t.disk_spill_bytes), 0) DIV 8192
                     AS user_objects_alloc_page_count,
                   COALESCE(SUM(t.memory_spill_bytes), 0) DIV 8192
                     AS internal_objects_alloc_page_count
            FROM meta_sessions s LEFT JOIN meta_task_requests t ON true
            GROUP BY s.session_id""",
        # DMS workers (vw_query_step_details.sql:24-33): our data-movement
        # worker = a stage, with its shuffle bytes/rows
        "dm_pdw_dms_workers": """
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
            )""",
        # loader backup runs (LatestBackup.sql:2-10)
        "pdw_loader_backup_runs": """
            SELECT run_id, start_time, end_time,
                   progress_percent AS progress, status
            FROM meta_backup_runs""",
        # slo_status.sql:17-31 polls this for IN_PROGRESS scales
        "dm_operation_status": """
            SELECT operation, resource_type_desc, detail, start_time,
                   end_time, state_desc
            FROM meta_operation_status""",
    }.items()
}


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
