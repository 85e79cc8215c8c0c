"""Monitoring surfaces: what ``Engine.register_monitoring_views`` registers
(the ``meta_*``/``vw_*`` views and the raw ``pdw_sys_*`` relations), and
what each registration reads from the catalog, the parquet footers and the
status REST API."""

from __future__ import annotations

import collections
import decimal
import json
import os
import re
import threading

import pytest
from pyspark.sql import types as T

SCHEMA = "monchar"
TABLES = [f"{SCHEMA}.fact", f"{SCHEMA}.dim"]
#: every object the fixture creates in its schema (tables and a view)
OBJECTS = {"fact", "dim", "v"}
SNAPSHOT = os.path.join(os.path.dirname(__file__), "monitoring_snapshot.json")

#: relations whose rows are pinned (catalog, layout, statistics, physical
#: layout and node topology); every other relation pins names, types and
#: its row count
ROW_PINNED = {
    "meta_tables", "meta_columns", "meta_partition_stats", "meta_rowgroups",
    "meta_statistics", "vw_statistics_age", "vw_table_sizes",
    "vw_table_space_summary", "vw_table_space_by_distribution",
    "vw_table_space_by_distribution_type", "vw_table_space_by_index_type",
    "vw_tables_with_skew", "vw_impacted_tables",
    "pdw_sys_schemas", "pdw_sys_tables", "pdw_sys_objects", "pdw_sys_columns",
    "pdw_sys_types", "pdw_sys_views", "pdw_sys_databases",
    "pdw_sys_indexes", "pdw_sys_pdw_table_distribution_properties",
    "pdw_sys_pdw_column_distribution_properties",
    "pdw_sys_pdw_table_mappings", "pdw_sys_partitions", "pdw_sys_stats",
    "pdw_sys_stats_columns", "pdw_sys_pdw_nodes_tables",
    "pdw_sys_dm_pdw_nodes_db_partition_stats",
    "pdw_sys_pdw_nodes_column_store_row_groups",
    "pdw_sys_dm_pdw_nodes_db_column_store_row_group_physical_stats",
    "pdw_sys_pdw_distributions", "pdw_sys_dm_pdw_nodes",
    "pdw_sys_dm_pdw_nodes_db_session_space_usage", "vw_tde_status",
}

#: stage-derived relations: their row count is the number of Spark stages
#: run under the fixture's request ids, which also counts other engines'
#: stages when two engines share an id and the registration's own jobs
#: when a relation is read twice; their rows are checked against the
#: status tracker in ``test_task_requests_match_status_tracker``
STAGE_DERIVED = {
    "meta_task_requests", "meta_memory", "vw_sql_requests",
    "pdw_sys_dm_pdw_dms_workers",
}

#: values that differ from run to run: ids drawn from process-wide
#: counters or numbered over the whole catalog, paths, and memory/elapsed
#: readings (``relation.column`` names one relation's column)
VOLATILE = {
    "file_path", "node_table_name", "session_id", "cntr_value",
    "wait_sec", "queued_sec", "age_days", "pdw_sys_databases.database_id",
}


def _volatile(name: str, field: T.StructField) -> bool:
    return (
        isinstance(field.dataType, (T.TimestampType, T.TimestampNTZType))
        or field.name in VOLATILE
        or f"{name}.{field.name}" in VOLATILE
        or "time" in field.name.lower()
        or "elapsed" in field.name.lower()
        or "memory" in field.name.lower()
    )


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return str(v)
    return v


def _scope(spark, name: str, df):
    """Catalog-wide relations are cut down to the fixture's schema (the
    session's catalog holds other tests' objects too)."""
    from pyspark.sql import functions as F

    from sql_data_warehouse_samples_spark.pdw_catalog import object_id

    cols = set(df.columns)
    if name in ("pdw_sys_schemas", "pdw_sys_databases", "vw_tde_status"):
        return df.filter(F.col("name") == SCHEMA)
    if "object_id" in cols and name.startswith("pdw_sys_"):
        oids = [object_id(f"{SCHEMA}.{o}") for o in sorted(OBJECTS)]
        return df.filter(F.col("object_id").isin(oids))
    if name in ("meta_tables", "meta_columns"):
        return df.filter(
            (F.col("schema_name") == SCHEMA) & F.col("table_name").isin(*OBJECTS)
        )
    if name in ("meta_statistics", "vw_statistics_age"):
        return df.filter(F.col("table_name").startswith(f"{SCHEMA}."))
    return df


def snapshot(spark) -> dict:
    """{relation: {"schema", "count", ["rows"]}} for every temp view in
    ``spark`` (a session that holds only the registration under test)."""
    out = {}
    for t in sorted(spark.catalog.listTables(), key=lambda t: t.name):
        if not t.isTemporary:
            continue
        df = _scope(spark, t.name, spark.table(t.name))
        entry = {
            "schema": [[f.name, f.dataType.simpleString()] for f in df.schema.fields],
        }
        if t.name in ROW_PINNED:
            keep = [f.name for f in df.schema.fields if not _volatile(t.name, f)]
            rows = [[_norm(v) for v in r] for r in df.select(*keep).collect()]
            entry["rows"] = sorted(rows, key=repr)
            entry["count"] = len(rows)
        elif t.name not in STAGE_DERIVED:
            entry["count"] = df.count()
        out[t.name] = entry
    return out


def build_fixture(spark):
    """A fresh session (its own temp views and functions) over one schema:
    a hash-distributed fact with statistics, a round-robin dimension, a
    view, two reports, then one registration of both tables."""
    from sql_data_warehouse_samples_spark.catalog import TableLayout, hash_layout
    from sql_data_warehouse_samples_spark.engine import Engine

    eng = Engine(spark.newSession())
    s = eng.spark
    eng.catalog.create_schema(SCHEMA)
    fact = s.createDataFrame(
        [(i, i % 7, i * 1.5, f"s{i % 11}") for i in range(600)],
        "id long, grp int, v double, s string",
    )
    eng.create_table_as(f"{SCHEMA}.fact", fact, hash_layout("id"))
    dim = s.createDataFrame([(g, f"g{g}") for g in range(7)], "grp int, name string")
    eng.create_table_as(f"{SCHEMA}.dim", dim.coalesce(1), TableLayout())
    s.sql(
        f"CREATE VIEW {SCHEMA}.v AS SELECT grp, COUNT(*) AS n"
        f" FROM {SCHEMA}.fact GROUP BY grp"
    )
    eng.stats.create_statistics(f"{SCHEMA}.fact", ["id", "grp"])
    eng.sql(f"SELECT COUNT(*) AS n FROM {SCHEMA}.fact", label="warm").collect()
    eng.sql(
        f"SELECT d.name, SUM(f.v) AS v FROM {SCHEMA}.fact f"
        f" JOIN {SCHEMA}.dim d ON f.grp = d.grp GROUP BY d.name"
    ).collect()
    eng.register_monitoring_views(TABLES)
    return eng


@pytest.fixture(scope="module")
def moneng(spark):
    eng = build_fixture(spark)
    yield eng
    eng.catalog.drop_schema(SCHEMA, cascade=True)


def test_registered_relations_match_snapshot(moneng):
    """Characterization: every relation one registration produces keeps its
    name, column names and types, row count, and (for the catalog, layout,
    statistics and physical relations) its rows."""
    with open(SNAPSHOT) as f:
        want = json.load(f)
    got = json.loads(json.dumps(snapshot(moneng.spark)))
    assert sorted(got) == sorted(want)
    for name in sorted(want):
        assert got[name] == want[name], name


def test_meta_tables_skip_temporary_views(moneng):
    """``listTables`` repeats every temporary view under each database;
    after a registration has created its ~76 temp views, the table-size
    rollup still holds exactly the schema's managed tables, and a
    registration without tables leaves no stale footer rows behind."""
    moneng.register_monitoring_views()
    try:
        sizes = {
            r.two_part_name
            for r in moneng.meta.table_sizes().collect()
            if r.two_part_name.startswith(f"{SCHEMA}.")
        }
        assert sizes == set(TABLES)
        assert moneng.spark.table("meta_partition_stats").count() == 0
        assert moneng.spark.table("meta_rowgroups").count() == 0
    finally:
        moneng.register_monitoring_views(TABLES)


def test_registration_reads_each_source_once(moneng, monkeypatch):
    """One registration with three requests in history: one GET each of
    /jobs, /stages and /executors, no status-tracker call, one listing of
    each monitored table's files and one footer read per file, and at most
    one catalog listing per database."""
    import urllib.request

    import pyarrow.parquet as pq
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    from pyspark.sql.catalog import Catalog as SparkCatalog

    from sql_data_warehouse_samples_spark.meta import Meta

    moneng.sql(f"SELECT MAX(v) AS m FROM {SCHEMA}.fact").collect()
    assert len(moneng._requests) >= 3
    calls = collections.Counter()

    def spy(owner, name, key):
        real = getattr(owner, name)

        def wrapper(*a, **kw):
            calls[key(*a, **kw)] += 1
            return real(*a, **kw)

        monkeypatch.setattr(owner, name, wrapper)

    spy(urllib.request, "urlopen",
        lambda url, *a, **kw: ("GET", url.split("?")[0].rsplit("/", 1)[1]))
    spy(SparkContext, "statusTracker", lambda *a: ("statusTracker",))
    spy(Meta, "_table_files", lambda self, table: ("list", table))
    spy(pq, "ParquetFile", lambda path, *a, **kw: ("footer", path))
    spy(SparkCatalog, "listDatabases", lambda *a, **kw: ("listDatabases",))
    spy(SparkCatalog, "listTables",
        lambda self, db=None, *a, **kw: ("listTables", db))
    spy(SparkSession, "sql",
        lambda self, q, *a, **kw: tuple(re.findall(r"^SHOW \w+|`[^`]*`", q)) or ("sql",))

    moneng.register_monitoring_views(TABLES)

    gets = {k[1]: n for k, n in calls.items() if k[0] == "GET"}
    assert gets == {"jobs": 1, "stages": 1, "executors": 1}
    assert calls[("statusTracker",)] == 0
    assert {k[1]: n for k, n in calls.items() if k[0] == "list"} == {
        t: 1 for t in TABLES
    }
    footers = {k[1]: n for k, n in calls.items() if k[0] == "footer"}
    files = {r.file_path for r in moneng.spark.table("meta_partition_stats").collect()}
    assert set(footers) == files and set(footers.values()) == {1}
    assert calls[("listDatabases",)] + calls[("SHOW DATABASES",)] <= 1
    assert all(n == 1 for k, n in calls.items() if k[0] == "listTables")
    listings = {k: n for k, n in calls.items() if k[0] in ("SHOW TABLES", "SHOW VIEWS")}
    assert listings and set(listings.values()) == {1}


def test_task_requests_match_status_tracker(moneng):
    """task_requests() (one /jobs and one /stages read) reports the same
    (request, job, stage, task counts) rows as the status tracker."""
    moneng.sql(
        f"SELECT d.name, COUNT(*) AS n FROM {SCHEMA}.fact f"
        f" JOIN {SCHEMA}.dim d ON f.grp = d.grp GROUP BY d.name"
    ).collect()
    st = moneng.spark.sparkContext.statusTracker()
    want = []
    for r in moneng._requests:
        for job_id in st.getJobIdsForGroup(r.request_id):
            job = st.getJobInfo(job_id)
            for sid in job.stageIds:
                si = st.getStageInfo(sid)
                if si is not None:
                    want.append(
                        (r.request_id, job_id, sid, si.numTasks,
                         si.numCompletedTasks, si.numFailedTasks)
                    )
    got = [
        tuple(r)
        for r in moneng.task_requests()
        .select("request_id", "job_id", "stage_id", "num_tasks",
                "completed_tasks", "failed_tasks")
        .collect()
    ]
    assert len(want) > len(moneng._requests)
    assert sorted(got) == sorted(want)


def test_request_ids_unique_across_engines(spark):
    """Request ids are Spark job groups: two engines on one SparkContext
    must not claim each other's stages."""
    from sql_data_warehouse_samples_spark.engine import Engine

    stages = []
    for _ in range(2):
        eng = Engine(spark)
        eng.sql("SELECT COUNT(*) AS n FROM range(100)").collect()
        stages.append({r.stage_id for r in eng.task_requests().collect()})
    assert stages[0] and stages[1]
    assert not stages[0] & stages[1]


def test_warm_registration_replaces_only_base_relations(moneng, monkeypatch):
    """After the first registration a registration builds no frame through
    ``parallelize``, runs no Spark job and creates no view: it replaces the
    base relations the views defined once read."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    moneng.sql(f"SELECT MIN(v) AS m FROM {SCHEMA}.fact").collect()
    calls = collections.Counter()
    parallelize, sql = SparkContext.parallelize, SparkSession.sql

    def counted_parallelize(self, *a, **kw):
        calls["parallelize"] += 1
        return parallelize(self, *a, **kw)

    def counted_sql(self, query, *a, **kw):
        calls["create_view"] += bool(re.match(r"(?is)\s*CREATE\b.*?\bVIEW\b", query))
        return sql(self, query, *a, **kw)

    monkeypatch.setattr(SparkContext, "parallelize", counted_parallelize)
    monkeypatch.setattr(SparkSession, "sql", counted_sql)
    sc = moneng.spark.sparkContext
    sc.setJobGroup("warm-registration", "warm registration")
    try:
        moneng.register_monitoring_views(TABLES)
        jobs = list(sc.statusTracker().getJobIdsForGroup("warm-registration"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert calls["parallelize"] == 0 and calls["create_view"] == 0
    assert jobs == []


def test_views_read_the_latest_registration(moneng, tmp_path):
    """A request, a statistics run and a load made after a registration
    show up in the views (defined once, as SQL text) after the next one."""
    from sql_data_warehouse_samples_spark.pdw_catalog import object_id
    from sql_data_warehouse_samples_spark.sources.csv_loader import (
        ColumnSpec,
        LoadOptions,
    )

    s = moneng.spark
    loads = s.table("vw_user_activities").first().Loads
    moneng.sql(
        f"SELECT grp, COUNT(*) AS n FROM {SCHEMA}.dim GROUP BY grp", label="later"
    ).collect()
    rid = moneng._requests[-1].request_id
    moneng.stats.create_statistics(f"{SCHEMA}.dim", ["name"])
    csv = tmp_path / "rows.csv"
    csv.write_text("1,a\n2,b\n")
    moneng.load_csv(
        str(csv), f"{SCHEMA}.loaded",
        [ColumnSpec("id", "bigint"), ColumnSpec("s", "string")], LoadOptions(),
    )

    def steps():
        return s.sql(
            f"SELECT * FROM vw_query_step_details WHERE request_id = '{rid}'"
        ).count()

    assert steps() == 0
    moneng.register_monitoring_views(TABLES)
    assert steps() == len(moneng._requests[-1].steps) > 0
    assert s.sql(
        f"SELECT * FROM pdw_sys_dm_pdw_sql_requests WHERE request_id = '{rid}'"
    ).count() == 1
    dim = object_id(f"{SCHEMA}.dim")
    assert [
        r.name
        for r in s.sql(f"SELECT name FROM pdw_sys_stats WHERE object_id = {dim}").collect()
    ] == ["stat_name"]
    assert s.table("vw_user_activities").first().Loads == loads + 1


def test_exec_requests_submit_time_is_the_request_instant(moneng):
    """The DMV's submit_time is the instant the request was submitted,
    whatever the session and system time zones."""
    got = {
        r.request_id: r.t
        for r in moneng.exec_requests()
        .selectExpr("request_id", "CAST(submit_time AS DOUBLE) AS t")
        .collect()
    }
    recs = list(moneng._requests)
    assert recs and set(got) == {r.request_id for r in recs}
    for r in recs:
        assert abs(got[r.request_id] - r.submit_time) < 1e-3


def test_concurrent_requests_keep_their_steps(spark):
    """Four threads submitting requests while a fifth finalizes an earlier
    one: no request loses its step rows."""
    from sql_data_warehouse_samples_spark.engine import Engine

    eng = Engine(spark)
    done = eng.sql("SELECT id % 3 AS k, COUNT(*) AS n FROM range(100) GROUP BY id % 3")
    done.collect()
    first = eng._requests[-1].request_id
    stop = threading.Event()

    def submit(t):
        for i in range(8):
            eng.sql(f"SELECT id, {t} AS t FROM range({i + 2}) WHERE id > 0")

    def finalize():
        while not stop.is_set():
            eng.finalize_request(first, done)

    finalizer = threading.Thread(target=finalize)
    submitters = [threading.Thread(target=submit, args=(t,)) for t in range(4)]
    finalizer.start()
    for t in submitters:
        t.start()
    for t in submitters:
        t.join()
    stop.set()
    finalizer.join()
    rows = collections.Counter(r.request_id for r in eng.request_steps().collect())
    assert len(eng._requests) == 33
    for r in eng._requests:
        assert rows[r.request_id] == len(r.steps) > 0, r.request_id


def test_request_history_is_bounded(spark, monkeypatch):
    """The request log keeps the newest requests only, and their steps go
    with them."""
    from sql_data_warehouse_samples_spark import engine as engine_mod

    monkeypatch.setattr(engine_mod, "REQUEST_HISTORY", 3)
    eng = engine_mod.Engine(spark)
    for i in range(5):
        eng.sql(f"SELECT {i} AS x", label=f"q{i}")
    kept = {r.request_id for r in eng._requests}
    assert {r.label for r in eng.exec_requests().collect()} == {"q2", "q3", "q4"}
    assert {r.request_id for r in eng.exec_requests().collect()} == kept
    assert {r.request_id for r in eng.request_steps().collect()} == kept
    # the session still counts every request it ran
    assert eng.exec_sessions().first().request_count == 5


def test_small_df_rejects_rows_of_another_width(spark):
    from sql_data_warehouse_samples_spark.operators._frames import small_df

    assert small_df(spark, [(1, "a")], "x long, y string").collect()[0].y == "a"
    with pytest.raises(ValueError):
        small_df(spark, [(1, "a", 2)], "x long, y string")
    with pytest.raises(ValueError):
        small_df(spark, [(1, "a"), (2,)], "x long, y string")
