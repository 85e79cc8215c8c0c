"""Hub-and-spoke datamart sharing (SURVEY §2 residual; reference:
arm-templates/sqlDwSpokeDbTemplate/AddSpokeDbsWithET.ps1).

The reference's only data-sharing story: N spoke databases each get a
scoped credential + an RDBMS external data source pointing at the hub
warehouse (AddSpokeDbsWithET.ps1:94-107), while the hub carries

* ``meta.DatamartControlTable`` — one row per (datamart user, object)
  grant, upserted by ``meta.AddObjectsForDatamartUserToControlTable``
  (ps1:285-395: by object id, by schema, or all user tables; CTAS-swap
  NOT-EXISTS dedup on (user, object)),
* ``meta.DatamartExternalTableDefinitions`` — per distinct (schema,
  table) the reconstructed ``CREATE EXTERNAL TABLE`` DDL, generated by
  ``meta.CreateExternalTableFromDw`` (ps1:132-196: INFORMATION_SCHEMA
  column walk) driven by ``meta.
  GenerateDatamartExternalTableDefinitionsAndGrantSelect`` (ps1:196-285),
* ``meta.RemoteTableDefinitionView`` — the definitions joined to the
  control table, filtered to ``SUSER_SNAME()`` so each spoke sees only
  its grants.

Each spoke then runs ``meta.SetupExternalTablesToDw`` (ps1:437-506):
read the remote definition view through the external data source, DROP +
re-CREATE one external table per granted hub table.

Spark-first mapping: a spoke is its own database in the shared catalog,
so a spoke "external table" is a view over the hub table — decoupled
metadata, zero data movement, reads through to the hub's live data
exactly like the RDBMS external table reads through to the DW, across
every hub rewrite.
The credential/data-source pair carries no secret locally (no real authz
is needed for parity — SURVEY §2.10 role-members note) but is recorded
so ``sys.external_data_sources``-style introspection works.  The control
table is the authorization surface: a spoke setup materializes ONLY the
tables granted to its user.

Scale: every operation here is catalog metadata work (driver-side, a few
rows per table); reads through a spoke view hit the same partition-
pruned parquet scans as hub reads — there is no extra data path to
break at 100 TB.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

CONTROL_TABLE = "meta.datamart_control_table"
DEFINITIONS_TABLE = "meta.datamart_external_table_definitions"


def create_external_table_from_dw(
    catalog,
    external_schema: str,
    schema_name: str,
    table_name: str,
    name_appendix: str,
    external_data_source: str,
) -> str:
    """``meta.CreateExternalTableFromDw`` parity (AddSpokeDbsWithET.ps1:
    132-196): reconstruct the spoke-side ``CREATE EXTERNAL TABLE`` DDL for
    a hub table from catalog metadata — bracketed identifiers, typed
    column list with NULL/NOT NULL, and the WITH (DATA_SOURCE /
    SCHEMA_NAME / OBJECT_NAME) clause of an RDBMS external table."""
    df = catalog.spark.table(catalog._q(f"{schema_name}.{table_name}"))
    cols = []
    for f in df.schema.fields:
        dtype = f.dataType.simpleString()
        if dtype.startswith("decimal"):
            rendered = "[decimal]" + dtype[len("decimal"):].replace(",", ", ")
        else:
            rendered = catalog._SPARK_TO_TSQL.get(dtype, f"[{dtype}]")
        nullness = " NULL" if f.nullable else " NOT NULL"
        cols.append(f"   [{f.name}] {rendered}{nullness}")
    return (
        f"CREATE EXTERNAL TABLE [{external_schema}].[{name_appendix}_{table_name}]\n"
        + "(\n"
        + ",\n".join(cols)
        + "\n)\nWITH (\nDATA_SOURCE = "
        + external_data_source
        + f", \nSCHEMA_NAME  = N'{schema_name}'"
        + f", \nOBJECT_NAME  = N'{table_name}'\n)"
    )


class DatamartHub:
    """Hub-side control surface: grants control table + reconstructed
    external-table definitions + the per-user remote definition view."""

    def __init__(self, engine) -> None:
        self.engine = engine
        self.catalog = engine.catalog
        self.spark = engine.spark
        self.catalog.create_schema("meta")

    def _control(self) -> DataFrame:
        if not self.spark.catalog.tableExists(CONTROL_TABLE):
            return self.spark.createDataFrame(
                [],
                "datamart_user: string, data_source: string, object_id: string,"
                " schema_name: string, table_name: string",
            )
        return self.spark.table(CONTROL_TABLE)

    def add_objects_for_user(
        self,
        user: str,
        data_source: str,
        table: str | None = None,
        schema: str | None = None,
    ) -> int:
        """``meta.AddObjectsForDatamartUserToControlTable`` parity
        (ps1:285-395): grant scope is one table (takes precedence), one
        schema, or ALL user tables; ``meta``-schema and external tables
        are always excluded; existing (user, object) rows are kept
        (NOT-EXISTS upsert via the same CTAS-swap shape).  Returns the
        number of rows added."""
        rows = []
        if table is not None:
            sch, tbl = table.split(".", 1)
            if sch != "meta" and self.spark.catalog.tableExists(table):
                rows.append((user, data_source, table, sch, tbl))
        else:
            dbs = (
                [schema]
                if schema is not None
                else [d.name for d in self.spark.catalog.listDatabases()]
            )
            for db in dbs:
                if db in ("meta", "default"):
                    continue
                for t in self.spark.catalog.listTables(db):
                    # MANAGED hub tables only — external tables are
                    # excluded by the reference proc (is_external = 0)
                    if t.tableType == "MANAGED":
                        rows.append(
                            (user, data_source, f"{db}.{t.name}", db, t.name)
                        )
        fresh = self.spark.createDataFrame(
            rows,
            "datamart_user: string, data_source: string, object_id: string,"
            " schema_name: string, table_name: string",
        )
        with self.catalog._lock(CONTROL_TABLE):
            existing = self._control()
            added = fresh.join(
                existing.select("datamart_user", "object_id"),
                ["datamart_user", "object_id"],
                "left_anti",
            )
            n = added.count()
            merged = existing.unionByName(added)
            if self.spark.catalog.tableExists(CONTROL_TABLE):
                self.catalog._replace(CONTROL_TABLE, merged, None)
            else:
                merged.write.format("parquet").saveAsTable(CONTROL_TABLE)
            return n

    def generate_definitions(self) -> int:
        """``meta.GenerateDatamartExternalTableDefinitionsAndGrantSelect``
        parity (ps1:196-285): rebuild the definitions table — one row per
        distinct (schema, table) in the control table, with the
        reconstructed external DDL.  Returns the definition count."""
        control = self._control()
        # keyed by (schema, table) like the reference's
        # DatamartExternalTableDefinitions CTAS (GROUP BY TableName,
        # SchemaName); the DDL's data source is per-table but
        # deterministic (min) — the reference passes DB_NAME() for both
        distinct = [
            (r["schema_name"], r["table_name"], r["src"])
            for r in control.groupBy("schema_name", "table_name")
            .agg(F.min("data_source").alias("src"))
            .collect()
        ]
        defs = []
        for seq, (sch, tbl, src) in enumerate(sorted(distinct), start=1):
            ddl = create_external_table_from_dw(
                self.catalog, src, sch, tbl, sch, src
            )
            defs.append((seq, tbl, sch, ddl))
        frame = self.spark.createDataFrame(
            defs,
            "sequence: long, table_name: string, schema_name: string,"
            " ddl: string",
        )
        frame.write.format("parquet").mode("overwrite").saveAsTable(
            DEFINITIONS_TABLE
        )
        return len(defs)

    def remote_table_definitions(self, user: str) -> DataFrame:
        """``meta.RemoteTableDefinitionView`` parity (ps1:244-252):
        definitions joined to the control table, filtered to one datamart
        user — the only relation a spoke needs to read from the hub."""
        defs = self.spark.table(DEFINITIONS_TABLE)
        ct = self._control().filter(F.col("datamart_user") == user)
        return defs.join(
            ct.select("table_name", "schema_name").distinct(),
            ["table_name", "schema_name"],
        ).select("table_name", "schema_name", "ddl")


@dataclass
class SpokeDataSource:
    """The spoke's scoped-credential + external-data-source pair
    (ps1:94-107) — identity recorded for introspection, no secret kept."""

    name: str
    location: str
    credential_identity: str


class SpokeDb:
    """One spoke database: attaches granted hub tables as views over the
    live hub tables (``meta.SetupExternalTablesToDw`` parity,
    ps1:437-506)."""

    def __init__(self, engine, name: str) -> None:
        self.engine = engine
        self.spark = engine.spark
        self.name = name
        self.data_sources: dict[str, SpokeDataSource] = {}
        engine.catalog.create_schema(name)

    def create_external_data_source(
        self, source_name: str, location: str, credential_identity: str
    ) -> SpokeDataSource:
        src = SpokeDataSource(source_name, location, credential_identity)
        self.data_sources[source_name] = src
        return src

    def setup_external_tables(self, hub: DatamartHub, user: str | None = None) -> list[str]:
        """Read the hub's remote definition view for this spoke's user and
        (re-)create one view per granted hub table, named
        ``<schema>_<table>`` (the reference's ``nameAppendix_tableName``
        with appendix = schema, ps1:146).  A view names the hub TABLE, not
        its files, so it follows every hub rewrite and partition change,
        and spoke reads partition-prune like hub reads.  Idempotent:
        re-runs recreate cleanly.  Returns the created view names."""
        user = user or self.name
        created = []
        for r in hub.remote_table_definitions(user).collect():
            tname = f"{self.name}.{r['schema_name']}_{r['table_name']}"
            hub_table = hub.catalog._q(f"{r['schema_name']}.{r['table_name']}")
            self.spark.sql(
                f"CREATE OR REPLACE VIEW {tname} AS SELECT * FROM {hub_table}"
            )
            created.append(tname)
        return created

    def refresh(self) -> None:
        """Drop the cached file indexes behind the spoke views so reads
        see hub files written outside this session (REFRESH TABLE — the
        analogue of the reference's replicated-table cache refresh,
        RefreshReplicatedTable.ps1:36-57).  Writes through this session's
        catalog are visible without it."""
        for t in self.spark.catalog.listTables(self.name):
            # listTables interleaves session-scoped TEMP views with the
            # database's views — only the spoke's own refresh
            if not t.isTemporary:
                self.spark.catalog.refreshTable(f"{self.name}.{t.name}")
