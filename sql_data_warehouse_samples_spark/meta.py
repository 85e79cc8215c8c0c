"""DMV-style introspection layer (SURVEY.md §2.10, §3 EP3).

The reference's largest query workload is its monitoring corpus over
``sys.*`` catalog views and ``sys.dm_pdw_*`` DMVs.  This module decides
where catalog and storage facts come from; ``register_views`` reads each
source once and registers its rows as Arrow local relations
(``operators/_frames.py``), so a registration runs no Spark job:

| view                                  | source                             |
|---------------------------------------|------------------------------------|
| meta_tables / meta_columns            | one catalog walk (SHOW DATABASES / |
|                                       | TABLES / VIEWS, column listing)    |
|                                       | + layouts                          |
| meta_partition_stats / meta_rowgroups | one parquet footer read per file   |

``VIEWS`` holds the views over these relations (space detail, skew) as SQL
text, and ``pdw_catalog.VIEWS`` reshapes them into the raw ``sys.*``
relations; ``Engine.register_monitoring_views`` creates both once per
Engine.  Row-group metadata is read with pyarrow from the table's files —
the exact analogue of the engine reading columnstore segment catalogs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .catalog import Catalog
from .operators._frames import small_df

_TABLES_SCHEMA = T.StructType(
    [
        T.StructField("schema_name", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("two_part_name", T.StringType()),
        T.StructField("is_view", T.BooleanType()),
        T.StructField("distribution_policy", T.StringType()),
        T.StructField("distribution_column", T.StringType()),
        T.StructField("sort_columns", T.StringType()),
        T.StructField("index_type", T.StringType()),
    ]
)

_COLUMNS_SCHEMA = T.StructType(
    [
        T.StructField("schema_name", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("column_name", T.StringType()),
        T.StructField("ordinal", T.IntegerType()),
        T.StructField("data_type", T.StringType()),
        T.StructField("is_nullable", T.BooleanType()),
    ]
)

_PARTITION_STATS_SCHEMA = T.StructType(
    [
        T.StructField("schema_name", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("file_path", T.StringType()),
        T.StructField("distribution_id", T.IntegerType()),
        T.StructField("row_count", T.LongType()),
        T.StructField("used_bytes", T.LongType()),
        # compressed column-chunk bytes — the "data space" of the file; the
        # remainder (footer, page indexes, magic) plays the index-space role
        T.StructField("data_bytes", T.LongType()),
    ]
)

_ROWGROUPS_SCHEMA = T.StructType(
    [
        T.StructField("schema_name", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("file_path", T.StringType()),
        T.StructField("row_group_id", T.IntegerType()),
        T.StructField("total_rows", T.LongType()),
        T.StructField("size_in_bytes", T.LongType()),
        T.StructField("compressed_size", T.LongType()),
        T.StructField("state_desc", T.StringType()),
        T.StructField("trim_reason_desc", T.StringType()),
    ]
)

#: Rowgroup target (CCI segment ideal) — rowgroups at/above it are NO_TRIM.
ROWGROUP_TARGET_ROWS = 1_048_576


class Meta:
    """Builds the meta.* DataFrames; ``register_views`` exposes them as
    ``meta_tables`` etc. for SQL access (the monitoring corpus's FROM list)."""

    def __init__(self, spark: SparkSession, catalog: Catalog) -> None:
        self.spark = spark
        self.catalog = catalog

    # --- sys.schemas / sys.tables / sys.columns --------------------------

    def _walk(self) -> tuple[list[str], list[tuple], list[tuple]]:
        """One pass over the session catalog: (database names, meta_tables
        rows, meta_columns rows).  A table listing repeats every temporary
        view under each database; those are session objects, not tables of
        that schema, so they are skipped."""
        jcat = self.spark.catalog._jcatalog
        schemas, tables, columns = [], [], []
        for (schema,) in self.spark.sql("SHOW DATABASES").collect():
            schemas.append(schema)
            views = {r[1] for r in self.spark.sql(f"SHOW VIEWS IN `{schema}`").collect()}
            for _ns, name, temporary in self.spark.sql(
                f"SHOW TABLES IN `{schema}`"
            ).collect():
                if temporary:
                    continue
                is_view = name in views
                layout = None
                if not is_view:
                    try:
                        layout = self.catalog.get_layout(f"{schema}.{name}")
                    except Exception:  # noqa: BLE001 — non-managed tables
                        layout = None
                tables.append(
                    (
                        schema,
                        name,
                        f"{schema}.{name}",
                        is_view,
                        layout.distribution if layout else None,
                        layout.distribution_column if layout else None,
                        ",".join(layout.sort_columns) if layout else None,
                        layout.index_type if layout else None,
                    )
                )
                try:
                    # PySpark's listColumns reads this local Dataset through
                    # toLocalIterator, one Spark job per partition
                    cols = jcat.listColumns(schema, name).collectAsList()
                except Exception:  # noqa: BLE001 — unresolvable view
                    continue
                for i, c in enumerate(cols):
                    columns.append(
                        (schema, name, c.name(), i, c.dataType(), c.nullable())
                    )
        return schemas, tables, columns

    def tables(self) -> DataFrame:
        return small_df(self.spark, self._walk()[1], _TABLES_SCHEMA)

    def columns(self) -> DataFrame:
        return small_df(self.spark, self._walk()[2], _COLUMNS_SCHEMA)

    # --- parquet footers: partition stats and row groups -----------------

    def _table_files(self, table: str) -> list[str]:
        # collected whole: a filter over the command's result runs a job
        loc = [
            r["data_type"]
            for r in self.spark.sql(f"DESCRIBE FORMATTED {Catalog._q(table)}").collect()
            if r["col_name"] == "Location"
        ]
        if not loc:
            return []
        path = loc[0].replace("file:", "")
        out = []
        for root, dirs, files in os.walk(path):
            # Spark's listing skips _/. children (an uncommitted generation)
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            for f in files:
                if f.endswith(".parquet"):
                    out.append(os.path.join(root, f))
        return sorted(out)

    def _footers(self, tables: list[str]) -> tuple[list[tuple], list[tuple]]:
        """(partition-stats rows, rowgroup rows) of ``tables`` from one
        listing per table and one footer read per file.

        One file = one distribution (``distribution_id`` = file index).

        ``trim_reason_desc`` diagnoses WHY a rowgroup is under the 1M-row
        target, the way Rowgroups.sql:11-29 buckets trimmed CCI rowgroups
        (MEMORY_LIMITATION / BULKLOAD / DICTIONARY_SIZE).  Parquet has its
        own trim causes, classified from file-layout evidence:

        * ``NO_TRIM``            — at/above the 1M-row target.
        * ``BULKLOAD``           — residual tail rowgroup of a multi-rowgroup
          file (the bulk writer flushed a final partial group — the
          reference's BULKLOAD case exactly).
        * ``PARTITION_FRAGMENT`` — small file inside a partition directory:
          the partition key fragmented the write.
        * ``WRITE_PARALLELISM``  — small file in a multi-file table: too many
          writer tasks for the row volume.
        * ``SMALL_SOURCE_FILE``  — the whole (single-file) table is simply
          small.
        """
        import pyarrow.parquet as pq

        stats, rowgroups = [], []
        for table in tables:
            schema_name, table_name = table.split(".", 1)
            files = self._table_files(table)
            for i, f in enumerate(files):
                with pq.ParquetFile(f) as pf:
                    md = pf.metadata
                groups = [md.row_group(g) for g in range(md.num_row_groups)]
                chunk_bytes = [
                    sum(rg.column(c).total_compressed_size
                        for c in range(rg.num_columns))
                    for rg in groups
                ]
                stats.append(
                    (schema_name, table_name, f, i, md.num_rows,
                     os.path.getsize(f), sum(chunk_bytes))
                )
                partitioned = "=" in os.path.basename(os.path.dirname(f))
                for g, rg in enumerate(groups):
                    if rg.num_rows >= ROWGROUP_TARGET_ROWS:
                        reason = "NO_TRIM"
                    elif len(groups) > 1 and g == len(groups) - 1:
                        reason = "BULKLOAD"
                    elif partitioned:
                        reason = "PARTITION_FRAGMENT"
                    elif len(files) > 1:
                        reason = "WRITE_PARALLELISM"
                    else:
                        reason = "SMALL_SOURCE_FILE"
                    rowgroups.append(
                        (schema_name, table_name, f, g, rg.num_rows,
                         rg.total_byte_size, chunk_bytes[g], "COMPRESSED", reason)
                    )
        return stats, rowgroups

    def partition_stats(self, table: str) -> DataFrame:
        """Per-file (≈ per-distribution) row counts and bytes from parquet
        footers — the skew-detection input (vw_tables_with_skew.sql:9-20)."""
        return small_df(self.spark, self._footers([table])[0], _PARTITION_STATS_SCHEMA)

    def rowgroups(self, table: str) -> DataFrame:
        """Parquet row-group physical stats — CCI rowgroup health parity
        (RowgroupDetails.sql:1-24; rowgroup target 1,048,576 rows,
        TableHealthCount.sql:15); trim reasons as in ``_footers``."""
        return small_df(self.spark, self._footers([table])[1], _ROWGROUPS_SCHEMA)

    # --- monitoring views (the 14-view corpus, ported) -------------------

    def register_views(self, tables: list[str] | None = None) -> list[str]:
        """Register meta_tables and meta_columns from one catalog walk, and
        meta_partition_stats / meta_rowgroups from one footer pass over
        ``tables`` (empty when no table is given, so no earlier table's
        rows survive).  Returns the database names the walk saw."""
        return self._register(tables)[0]

    def _register(
        self, tables: list[str] | None
    ) -> tuple[list[str], list[tuple], list[tuple]]:
        """``register_views``, also handing back the meta_tables and
        meta_partition_stats rows: (database names, table rows,
        partition-stats rows)."""
        schemas, table_rows, column_rows = self._walk()
        stats, rowgroups = self._footers(tables or [])
        for rows, schema, name in [
            (table_rows, _TABLES_SCHEMA, "meta_tables"),
            (column_rows, _COLUMNS_SCHEMA, "meta_columns"),
            (stats, _PARTITION_STATS_SCHEMA, "meta_partition_stats"),
            (rowgroups, _ROWGROUPS_SCHEMA, "meta_rowgroups"),
        ]:
            small_df(self.spark, rows, schema).createOrReplaceTempView(name)
        return schemas, table_rows, stats

    def table_sizes(self) -> DataFrame:
        """Port of microsoft.vw_table_sizes (vw_table_sizes.sql:4-99):
        per-table rollup of rows/bytes with distribution metadata."""
        return self.spark.sql(
            """
            SELECT
              t.two_part_name,
              t.distribution_policy,
              t.distribution_column,
              t.index_type,
              COUNT(p.file_path)            AS nbr_files,
              COALESCE(SUM(p.row_count), 0) AS row_count,
              COALESCE(SUM(p.used_bytes), 0) AS used_bytes,
              ROUND(COALESCE(SUM(p.used_bytes), 0) / 1e9, 6) AS used_gb
            FROM meta_tables t
            LEFT JOIN meta_partition_stats p
              ON t.schema_name = p.schema_name AND t.table_name = p.table_name
            WHERE NOT t.is_view
            GROUP BY 1, 2, 3, 4
            """
        )

    def table_sizes_detail(self) -> DataFrame:
        """Full-fidelity port of microsoft.vw_table_sizes (vw_table_sizes.
        sql:4-99): one row per table × distribution with the reference's
        complete space-accounting column set.

        Mapping (8 KB pages, × 8.0 → KB, like the reference):

        * reserved = the parquet file's on-disk bytes
        * data     = compressed column-chunk bytes
        * index    = reserved − unused − data (footer/page-index/magic — the
          same derive-by-subtraction the reference uses at :29-35)
        * unused   = 0 (parquet files are packed)
        * node/distribution identity: single-node harness → pdw_node 0; one
          file = one distribution, like the 60-way PDW layout.
        """
        return self.spark.sql(_TABLE_SIZES_DETAIL)

    def tables_with_skew(self, threshold: float = 0.10) -> DataFrame:
        """Port of microsoft.vw_tables_with_skew (vw_tables_with_skew.sql:
        9-20): hash tables whose min/max per-distribution row ratio < 0.10."""
        return self.spark.sql(_skew_sql(threshold))


_TABLE_SIZES_DETAIL = """
    WITH base AS (
      SELECT
        current_timestamp()                         AS execution_time,
        t.schema_name                               AS database_name,
        t.schema_name, t.table_name, t.two_part_name,
        regexp_extract(p.file_path, '[^/]+$', 0)    AS node_table_name,
        1                                           AS node_table_name_seq,
        t.distribution_policy                       AS distribution_policy_name,
        t.distribution_column,
        p.distribution_id,
        CASE lower(t.index_type) WHEN 'cci' THEN 5
                                 WHEN 'heap' THEN 0 ELSE 1 END AS index_type,
        t.index_type                                AS index_type_desc,
        0                                           AS pdw_node_id,
        'COMPUTE'                                   AS pdw_node_type,
        'localhost'                                 AS pdw_node_name,
        concat('Distribution_', p.distribution_id + 1) AS dist_name,
        p.distribution_id + 1                       AS dist_position,
        1                                           AS partition_nmbr,
        CAST(CEIL(p.used_bytes / 8192.0) AS BIGINT) AS reserved_space_page_count,
        CAST(0 AS BIGINT)                           AS unused_space_page_count,
        CAST(CEIL(p.data_bytes / 8192.0) AS BIGINT) AS data_space_page_count,
        p.row_count
      FROM meta_tables t
      JOIN meta_partition_stats p
        ON t.schema_name = p.schema_name AND t.table_name = p.table_name
      WHERE NOT t.is_view
    ),
    pages AS (
      SELECT *,
        reserved_space_page_count - unused_space_page_count
          - data_space_page_count AS index_space_page_count
      FROM base
    )
    -- one task: a row per file is driver-sized, and every rollup of these
    -- doubles then sums a table's rows in one partial aggregate, so the
    -- totals do not depend on how the plan splits its input
    SELECT /*+ COALESCE(1) */ *,
      reserved_space_page_count * 8.0D      AS reserved_space_KB,
      reserved_space_page_count * 8.0D / 1e3 AS reserved_space_MB,
      reserved_space_page_count * 8.0D / 1e6 AS reserved_space_GB,
      reserved_space_page_count * 8.0D / 1e9 AS reserved_space_TB,
      unused_space_page_count * 8.0D        AS unused_space_KB,
      unused_space_page_count * 8.0D / 1e3   AS unused_space_MB,
      unused_space_page_count * 8.0D / 1e6   AS unused_space_GB,
      unused_space_page_count * 8.0D / 1e9   AS unused_space_TB,
      data_space_page_count * 8.0D          AS data_space_KB,
      data_space_page_count * 8.0D / 1e3     AS data_space_MB,
      data_space_page_count * 8.0D / 1e6     AS data_space_GB,
      data_space_page_count * 8.0D / 1e9     AS data_space_TB,
      index_space_page_count * 8.0D         AS index_space_KB,
      index_space_page_count * 8.0D / 1e3    AS index_space_MB,
      index_space_page_count * 8.0D / 1e6    AS index_space_GB,
      index_space_page_count * 8.0D / 1e9    AS index_space_TB
    FROM pages
"""


def _skew_sql(threshold: float) -> str:
    return f"""
    SELECT two_part_name, min_rows, max_rows, total_rows, skew_ratio
    FROM (
      SELECT t.two_part_name,
             MIN(p.row_count) AS min_rows,
             MAX(p.row_count) AS max_rows,
             SUM(p.row_count) AS total_rows,
             MIN(p.row_count * 1.000) / NULLIF(MAX(p.row_count * 1.000), 0)
               AS skew_ratio
      FROM meta_tables t
      JOIN meta_partition_stats p
        ON t.schema_name = p.schema_name AND t.table_name = p.table_name
      WHERE t.distribution_policy = 'hash'
      GROUP BY t.two_part_name
    )
    WHERE skew_ratio < {1 - threshold}
    """


#: views over the meta_* relations, as SQL text (``Engine.
#: register_monitoring_views`` creates them once, before its own)
VIEWS = {
    "__table_sizes_detail": _TABLE_SIZES_DETAIL,
    "vw_tables_with_skew": _skew_sql(0.10),
}
