"""Catalog + physical-layout layer (SURVEY.md §7 step 1).

The reference declares per-table physical layout in DDL:

* ``DISTRIBUTION = HASH(col) | ROUND_ROBIN | REPLICATE``
  (fact.sale.sql:27-30; dimension.city.sql:19; RefreshReplicatedTable.ps1:44)
* ``CLUSTERED COLUMNSTORE INDEX`` vs ``CLUSTERED INDEX (key)`` vs ``HEAP``
  (fact.sale.sql:31; dimension.city.sql:20-23; GenerateLoadScript-V1.sql:46)
* ``PARTITION (col RANGE RIGHT FOR VALUES (...))`` (fact.sale.sql:32-48)

Spark-first mapping (SURVEY §1.1):

* HASH(col)     → repartition(n, col) at write + bucket metadata; joins on the
  distribution column are co-located once both sides share the layout.
* ROUND_ROBIN   → repartition(n) (size-balanced, no key).
* REPLICATE     → broadcast() hint injected when the table is read.
* CLUSTERED INDEX (k) → sortWithinPartitions(k) at write → parquet min/max
  row-group skipping ≈ segment elimination.
* RANGE RIGHT partitioning → Hive-style partitionBy on a derived column
  (value ≥ boundary falls in the right partition — month-truncation for the
  reference's monthly boundaries).

Layout is persisted in Spark table properties (``sdw.distribution`` etc.) so
`meta.tables` can serve the `sys.pdw_table_distribution_properties` surface.
"""

from __future__ import annotations

import threading
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.dirswap import fs_listdir, fs_mkdirs, fs_rmtree

# The reference engine always uses 60 hash distributions
# (white-papers/...md:37).  At 100 TB on a real cluster this would be
# 2-3x total executor cores; locally we keep the reference's number.
DEFAULT_DISTRIBUTION_COUNT = 60

VALID_DISTRIBUTIONS = ("hash", "round_robin", "replicate")

_LOCKS: dict[str, threading.RLock] = {}  # Catalog._lock, by lower-cased name
_LOCKS_GUARD = threading.Lock()


@dataclass
class TableLayout:
    """Physical layout metadata for a managed table."""

    distribution: str = "round_robin"
    distribution_column: str | None = None
    sort_columns: list[str] = field(default_factory=list)
    partition_column: str | None = None  # derived Hive partition column
    partition_expr: str | None = None  # SQL expr deriving it, e.g. month trunc
    index_type: str = "cci"  # cci | clustered | heap
    # bucket count for persisted co-location: two tables bucketed on their
    # join key by the same count join WITHOUT an Exchange (J14 — "data
    # collocated at query time", white-papers/...md:42-43)
    buckets: int | None = None
    # declared surrogate-key column (T-SQL IDENTITY(s,i) in CREATE TABLE);
    # with_identity() supplies the values at load time
    identity_column: str | None = None
    # multi-column clustering: writes sort on the Morton z-order key of
    # these columns so row-group min/max stats prune on EVERY listed column
    # (operators/zorder.py) — the multi-dimensional generalization of
    # sort_columns' single-axis clustered-index emulation
    zorder_columns: list[str] = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.distribution not in VALID_DISTRIBUTIONS:
            raise ValueError(
                f"DISTRIBUTION must be one of {VALID_DISTRIBUTIONS}, got {self.distribution}"
            )
        if self.distribution == "hash" and not self.distribution_column:
            raise ValueError("HASH distribution requires a distribution column")
        if self.zorder_columns and (
            self.sort_columns or self.buckets or self.distribution == "hash"
        ):
            # the z-order range split IS the physical placement; it cannot
            # coexist with hash/bucket co-location or a single-axis sort
            raise ValueError(
                "zorder_columns is exclusive with sort_columns/buckets/hash"
            )

    def to_properties(self) -> dict[str, str]:
        props = {
            "sdw.distribution": self.distribution,
            "sdw.index_type": self.index_type,
        }
        if self.distribution_column:
            props["sdw.distribution_column"] = self.distribution_column
        if self.sort_columns:
            props["sdw.sort_columns"] = ",".join(self.sort_columns)
        if self.partition_column:
            props["sdw.partition_column"] = self.partition_column
        if self.partition_expr:
            props["sdw.partition_expr"] = self.partition_expr
        if self.buckets:
            props["sdw.buckets"] = str(self.buckets)
        if self.identity_column:
            props["sdw.identity_column"] = self.identity_column
        if self.zorder_columns:
            props["sdw.zorder_columns"] = ",".join(self.zorder_columns)
        return props

    @classmethod
    def from_properties(cls, props: dict[str, str]) -> "TableLayout":
        return cls(
            distribution=props.get("sdw.distribution", "round_robin"),
            distribution_column=props.get("sdw.distribution_column"),
            sort_columns=[c for c in props.get("sdw.sort_columns", "").split(",") if c],
            partition_column=props.get("sdw.partition_column"),
            partition_expr=props.get("sdw.partition_expr"),
            index_type=props.get("sdw.index_type", "cci"),
            buckets=int(props["sdw.buckets"]) if props.get("sdw.buckets") else None,
            identity_column=props.get("sdw.identity_column"),
            zorder_columns=[
                c for c in props.get("sdw.zorder_columns", "").split(",") if c
            ],
        )


def hash_layout(column: str, sort: list[str] | None = None, **kw) -> TableLayout:
    return TableLayout(distribution="hash", distribution_column=column, sort_columns=sort or [], **kw)


def replicate_layout(sort: list[str] | None = None) -> TableLayout:
    return TableLayout(distribution="replicate", sort_columns=sort or [])


def round_robin_layout(sort: list[str] | None = None) -> TableLayout:
    return TableLayout(distribution="round_robin", sort_columns=sort or [])


class Catalog:
    """Schema/table/view DDL with layout-aware reads and writes."""

    def __init__(
        self,
        spark: SparkSession,
        distribution_count: int = DEFAULT_DISTRIBUTION_COUNT,
    ) -> None:
        self.spark = spark
        self.distribution_count = distribution_count

    # --- schemas (CREATE SCHEMA → CREATE DATABASE, D1) -------------------

    def create_schema(self, name: str, if_not_exists: bool = True) -> None:
        guard = "IF NOT EXISTS " if if_not_exists else ""
        self.spark.sql(f"CREATE DATABASE {guard}`{name}`")

    def drop_schema(self, name: str, if_exists: bool = True, cascade: bool = False) -> None:
        guard = "IF EXISTS " if if_exists else ""
        casc = " CASCADE" if cascade else ""
        self.spark.sql(f"DROP DATABASE {guard}`{name}`{casc}")

    # --- tables ----------------------------------------------------------

    @staticmethod
    def _q(table: str) -> str:
        return ".".join(f"`{p}`" for p in table.split("."))

    @staticmethod
    def _part_filter(part: str, values: list):
        """Null-safe membership filter over partition values: ``isin`` is
        never true for NULL, which silently dropped the null
        (__HIVE_DEFAULT_PARTITION__) partition from pruned-DML scope while
        the discovery scan still counted its rows."""
        non_null = [v for v in values if v is not None]
        cond = F.col(part).isin(non_null) if non_null else F.lit(False)
        if any(v is None for v in values):
            cond = cond | F.col(part).isNull()
        return cond

    @staticmethod
    def _part_literal(v) -> str:
        if v is None:
            return "null"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (int, float)):
            return repr(v)
        return "'{}'".format(str(v).replace("'", "''"))

    @staticmethod
    def _lock(table: str) -> threading.RLock:
        """The process-wide write lock of ``table``, held by every write
        from reading the table to committing (the reference's exclusive
        table lock for DML): no rewrite commits over a concurrent one, and
        no append lands in a generation a rewrite is about to delete."""
        with _LOCKS_GUARD:
            return _LOCKS.setdefault(table.lower(), threading.RLock())

    def _replace(
        self, table: str, frame: DataFrame, part: str | None, scope: list | None = None
    ) -> None:
        """Replace the contents of managed ``table`` with ``frame`` (which
        may read ``table``): the one commit path of every rewrite.  ``part``
        is the layout's partition column (``create_table_as`` records it
        for every partitioned table), None for an unpartitioned one.

        A partitioned table is overwritten in place over the ``scope``
        partitions (None = all; ``_overwrite_pruned``).  Any other table
        gets a new generation ``<table dir>/_g<id>``, written through an
        external stage ``LIKE`` the table (schema and buckets carry over)
        and committed by one ``SET LOCATION`` — new immutable data, then a
        metadata switch (POLARIS, VLDB 2020).  The live table is never
        dropped or renamed, and a crash before the switch leaves it
        untouched; the commit ends by deleting everything else under the
        table's own directory, including a crashed commit's leftovers."""
        with self._lock(table):
            if part is not None:
                # the write reads the partitions it replaces: break lineage
                frame = frame.localCheckpoint(eager=True)
                self._overwrite_pruned(table, frame, part, scope)
                return
            db, _, name = table.rpartition(".")
            db = self.spark.catalog.getDatabase(db or self.spark.catalog.currentDatabase())
            root = f"{db.locationUri.removeprefix('file:')}/{name.lower()}"
            gen = f"_g{uuid.uuid4().hex[:12]}"
            stage = self._q(f"{table}__stage")
            self.spark.sql(f"DROP TABLE IF EXISTS {stage}")
            fs_mkdirs(f"{root}/{gen}")  # so the stage resolves without a warning
            self.spark.sql(
                f"CREATE TABLE {stage} LIKE {self._q(table)} LOCATION '{root}/{gen}'"
            )
            frame.write.insertInto(stage)
            self.spark.sql(f"DROP TABLE {stage}")  # external: its files stay
            self._switch_location(table, f"{root}/{gen}")
            for child in fs_listdir(root):
                if child != gen:
                    fs_rmtree(f"{root}/{child}")

    def _switch_location(self, table: str, path: str) -> None:
        """The commit point of a non-partitioned ``_replace``."""
        self.spark.sql(f"ALTER TABLE {self._q(table)} SET LOCATION '{path}'")

    def _overwrite_pruned(
        self, table: str, frame: DataFrame, part: str, scope: list | None
    ) -> None:
        """Write ``frame`` over the ``scope`` partitions of ``table`` (all
        of them when ``scope`` is None: a static overwrite).

        Dynamic partitionOverwriteMode replaces only the partitions PRESENT
        in the written frame — a rewrite that empties a whole partition
        (full-partition DELETE, UPDATE moving every row out, MERGE
        when_matched='delete') produces zero rows for it, so its old files
        would silently survive while @@ROWCOUNT reports them affected.
        After the write, any scoped partition the frame no longer touches
        is dropped explicitly (``ALTER TABLE .. DROP PARTITION`` — works for
        the null partition via ``part=null``).
        """
        mode_conf = "spark.sql.sources.partitionOverwriteMode"
        prev = self.spark.conf.get(mode_conf, "static")
        try:
            if scope is not None:
                self.spark.conf.set(mode_conf, "dynamic")
            frame.write.insertInto(self._q(table), overwrite=True)
        finally:
            self.spark.conf.set(mode_conf, prev)
        if scope is None:
            return
        # frame is checkpointed by _replace, so this distinct is a cheap
        # map-side-combined pass over materialized data
        present = {r[0] for r in frame.select(part).distinct().collect()}
        for v in scope:
            if v not in present:
                self.spark.sql(
                    f"ALTER TABLE {self._q(table)} DROP IF EXISTS "
                    f"PARTITION (`{part}`={self._part_literal(v)})"
                )

    def _apply_write_layout(self, df: DataFrame, layout: TableLayout) -> DataFrame:
        if layout.partition_expr and layout.partition_column:
            df = df.withColumn(layout.partition_column, F.expr(layout.partition_expr))
        if layout.distribution == "hash":
            # bucketed writes repartition to one task per bucket (same
            # murmur hash → exactly one file per bucket, no small files)
            n = layout.buckets or self.distribution_count
            df = df.repartition(n, F.col(layout.distribution_column))
        elif layout.distribution == "round_robin":
            df = df.repartition(self.distribution_count)
        # replicate: single parquet, broadcast at read; keep 1 output file
        elif layout.distribution == "replicate":
            df = df.coalesce(1)
        if layout.zorder_columns:
            # multi-column clustering: range-split + sort on the Morton key,
            # then drop it — files tile the space of ALL listed columns
            from .operators.zorder import with_zorder

            z = with_zorder(df, layout.zorder_columns)
            n = self.distribution_count
            df = (
                z.repartitionByRange(n, F.col("__zorder"))
                .sortWithinPartitions("__zorder")
                .drop("__zorder")
            )
        elif layout.sort_columns:
            # clustered-index emulation: sorted within files → min/max skipping
            df = df.sortWithinPartitions(*layout.sort_columns)
        return df

    def create_table_as(
        self,
        table: str,
        df: DataFrame,
        layout: TableLayout | None = None,
        mode: str = "errorifexists",
    ) -> None:
        """CTAS (S4/D3): materialize a DataFrame as a managed parquet table
        with the declared layout applied (repartition + sort + partitioning)."""
        layout = layout or TableLayout()
        out = self._apply_write_layout(df, layout)
        writer = out.write.format("parquet").mode(mode)
        if layout.partition_column:
            writer = writer.partitionBy(layout.partition_column)
        if layout.buckets and layout.distribution_column:
            # persisted hash co-location: equal-key joins between tables
            # bucketed the same way run with NO shuffle Exchange
            writer = writer.bucketBy(layout.buckets, layout.distribution_column)
            if layout.sort_columns:
                writer = writer.sortBy(*layout.sort_columns)
        writer.saveAsTable(self._q(table))
        props = ", ".join(
            "'{}'='{}'".format(k, v.replace("'", "\\'"))
            for k, v in layout.to_properties().items()
        )
        self.spark.sql(f"ALTER TABLE {self._q(table)} SET TBLPROPERTIES ({props})")

    def get_layout(self, table: str) -> TableLayout:
        rows = self.spark.sql(f"SHOW TBLPROPERTIES {self._q(table)}").collect()
        return TableLayout.from_properties({r["key"]: r["value"] for r in rows})

    def insert_into(self, table: str, df: DataFrame) -> None:
        """INSERT INTO ... SELECT (D6), honoring the table's layout."""
        with self._lock(table):
            layout = self.get_layout(table)
            self._apply_write_layout(df, layout).write.insertInto(self._q(table))

    def table(self, name: str) -> DataFrame:
        """Layout-aware read: REPLICATE tables come back broadcast-hinted
        (J13 — the reference replicates small dims to every node,
        white-papers/...md:50-51)."""
        df = self.spark.table(self._q(name))
        layout = self.get_layout(name)
        if layout.distribution == "replicate":
            return F.broadcast(df)
        return df

    def drop_table(self, name: str, if_exists: bool = True) -> None:
        guard = "IF EXISTS " if if_exists else ""
        self.spark.sql(f"DROP TABLE {guard}{self._q(name)}")

    def truncate_table(self, name: str) -> None:
        self.spark.sql(f"TRUNCATE TABLE {self._q(name)}")

    # --- MERGE / upsert (D16, beyond the D6-D9 DML surface) ---------------

    def merge_into(
        self,
        table: str,
        source: DataFrame,
        on: str | list[str],
        when_matched: str = "update",
        when_not_matched: str = "insert",
        delete_unmatched_target: bool = False,
    ) -> None:
        """T-SQL ``MERGE`` (upsert) as copy-on-write over a managed parquet
        table.  Semantics per row class:

        * matched (key in both): ``when_matched`` = ``"update"`` (source row
          wins) | ``"keep"`` (target row wins) | ``"delete"`` (row dropped)
        * source-only: ``when_not_matched`` = ``"insert"`` | ``"ignore"``
        * target-only: kept, unless ``delete_unmatched_target`` (full sync)

        Scale path: for a Hive-partitioned table, only partitions touched by
        the merge — partitions of incoming source rows plus partitions of
        the target rows they match — are recomputed and rewritten via
        dynamic partition overwrite; a daily upsert into a date-partitioned
        100 TB fact rewrites ~the affected days, not the table.  A
        non-partitioned table is written as a new generation directory and
        committed by one ``SET LOCATION`` (``_replace``) — the reference's
        CTAS-and-rename flip-flop (samples/sqlops sp_FlipFlop; SURVEY §2.9
        D3) without ever dropping or renaming the live table, so a crash
        before the switch leaves the old contents readable.  Either way
        the bucket spec and partitioning survive the rewrite.
        """
        if when_matched not in ("update", "keep", "delete"):
            raise ValueError(f"unknown when_matched {when_matched!r}")
        if when_not_matched not in ("insert", "ignore"):
            raise ValueError(f"unknown when_not_matched {when_not_matched!r}")
        keys = [on] if isinstance(on, str) else list(on)
        with self._lock(table):
            layout = self.get_layout(table)
            target = self.spark.table(self._q(table))

            # derive the partition column on the source the same way writes
            # do, so row classes and affected partitions line up with storage
            if layout.partition_expr and layout.partition_column:
                source = source.withColumn(
                    layout.partition_column, F.expr(layout.partition_expr)
                )
            missing = [c for c in target.columns if c not in source.columns]
            if missing:
                raise ValueError(f"source is missing target columns: {missing}")
            source = source.select(*[F.col(c) for c in target.columns])

            part = layout.partition_column
            if part and not delete_unmatched_target:
                # affected partitions: where source rows land + where their
                # matched target rows currently live (a key's partition
                # value may have changed)
                src_parts = source.select(part).distinct()
                matched_parts = (
                    target.join(source.select(*keys).distinct(), keys, "left_semi")
                    .select(part)
                    .distinct()
                )
                aff = [
                    r[0]
                    for r in src_parts.unionByName(matched_parts).distinct().collect()
                ]
                target_scope = target.filter(self._part_filter(part, aff))
            else:
                aff = None
                target_scope = target

            pieces = []
            if not delete_unmatched_target:
                pieces.append(target_scope.join(source, keys, "left_anti"))
            if when_matched == "update":
                pieces.append(source.join(target_scope, keys, "left_semi"))
            elif when_matched == "keep":
                pieces.append(target_scope.join(source, keys, "left_semi"))
            # "delete": matched rows contribute nothing
            if when_not_matched == "insert":
                pieces.append(source.join(target_scope, keys, "left_anti"))
            merged = pieces[0]
            for p in pieces[1:]:
                merged = merged.unionByName(p)

            self._replace(table, self._apply_write_layout(merged, layout), part, aff)

    def _rewrite_where(self, table: str, cond, transform) -> int:
        """Shared copy-on-write core for predicate DML (DELETE/UPDATE).

        ``cond`` selects the affected rows (NULL predicate = unaffected,
        SQL three-valued semantics); ``transform(scope, hit)`` returns the
        rewritten scope.  Partitioned tables rewrite ONLY the partitions
        that contain affected rows (dynamic partition overwrite); any other
        table is rewritten whole as a new generation (``_replace``).
        Returns the number of affected rows (the T-SQL @@ROWCOUNT
        contract) — counted on the same scan that discovers the affected
        partitions.
        """
        with self._lock(table):
            layout = self.get_layout(table)
            target = self.spark.table(self._q(table))
            hit = F.coalesce(cond, F.lit(False))

            part = layout.partition_column
            if part:
                agg = (
                    target.filter(hit)
                    .groupBy(part)
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .collect()
                )
                n_affected = sum(r["__n"] for r in agg)
                if n_affected == 0:
                    return 0
                aff = [r[part] for r in agg]
                scope = target.filter(self._part_filter(part, aff))
            else:
                aff = None
                n_affected = target.filter(hit).count()
                if n_affected == 0:
                    return 0
                scope = target

            rewritten = self._apply_write_layout(transform(scope, hit), layout)
            self._replace(table, rewritten, part, aff)
            return n_affected

    def delete_where(self, table: str, predicate) -> int:
        """``DELETE FROM table WHERE predicate`` (row-level DML beyond the
        keyed ``merge_into`` path).  NULL-predicate rows are kept, matching
        SQL semantics; returns the deleted row count."""
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        return self._rewrite_where(
            table, cond, lambda scope, hit: scope.filter(~hit)
        )

    def update_where(self, table: str, assignments: dict, predicate) -> int:
        """``UPDATE table SET col = expr, ... WHERE predicate``.

        ``assignments`` maps column name → SQL expression string or Column
        (evaluated against the pre-update row, so swaps like
        ``{"a": "b", "b": "a"}`` behave like SQL UPDATE).  Returns the
        updated row count."""
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate

        def apply(scope, hit):
            cols = []
            for c in scope.columns:
                if c in assignments:
                    v = assignments[c]
                    new = F.expr(v) if isinstance(v, str) else v
                    cols.append(
                        F.when(hit, new.cast(scope.schema[c].dataType))
                        .otherwise(F.col(c))
                        .alias(c)
                    )
                else:
                    cols.append(F.col(c))
            return scope.select(*cols)

        unknown = [c for c in assignments if c not in self.spark.table(self._q(table)).columns]
        if unknown:
            raise ValueError(f"unknown columns in SET: {unknown}")
        return self._rewrite_where(table, cond, apply)

    # --- views (D4) ------------------------------------------------------

    def create_view(self, name: str, sql: str) -> None:
        self.spark.sql(f"CREATE OR REPLACE VIEW {self._q(name)} AS {sql}")

    def drop_view(self, name: str, if_exists: bool = True) -> None:
        guard = "IF EXISTS " if if_exists else ""
        self.spark.sql(f"DROP VIEW {guard}{self._q(name)}")

    def show_create_view(self, name: str) -> str:
        """View definition scripting (GetCreateStatement_Function_Proc_View
        .sql:1-20 — sys.sql_modules extract for deployment scripts)."""
        return self.spark.sql(
            f"SHOW CREATE TABLE {self._q(name)}"
        ).collect()[0][0]

    def script_schema_views(self, schema: str) -> dict[str, str]:
        """All view definitions of a schema, name → CREATE statement — the
        GenerateScripts.ps1 bulk-extract loop."""
        out = {}
        for t in self.spark.catalog.listTables(schema):
            if t.tableType == "VIEW" and not t.isTemporary:
                out[t.name] = self.show_create_view(f"{schema}.{t.name}")
        return out

    # --- DDL scripting (D15: usp_ConstructCreateStatementForTable) -------

    def show_create_table(self, name: str) -> str:
        base = self.spark.sql(f"SHOW CREATE TABLE {self._q(name)}").collect()[0][0]
        layout = self.get_layout(name)
        dist = layout.distribution.upper()
        if layout.distribution == "hash":
            dist = f"HASH({layout.distribution_column})"
        extras = [f"DISTRIBUTION = {dist}"]
        if layout.sort_columns:
            extras.append(f"CLUSTERED INDEX ({', '.join(layout.sort_columns)})")
        if layout.partition_column:
            extras.append(f"PARTITION ({layout.partition_column})")
        return base + "\n-- WITH (" + ", ".join(extras) + ")"

    #: Spark DDL type → T-SQL rendering for scripted clone DDL
    #: (usp_ConstructCreateStatementForTable.sql:44-50 type/precision cases).
    _SPARK_TO_TSQL = {
        "bigint": "[bigint]",
        "int": "[int]",
        "smallint": "[smallint]",
        "tinyint": "[tinyint]",
        "double": "[float]",
        "float": "[real]",
        "boolean": "[bit]",
        "date": "[date]",
        "timestamp": "[datetime2](7)",
        "timestamp_ntz": "[datetime2](7)",
        "string": "[nvarchar](4000)",
        "binary": "[varbinary](8000)",
    }

    def construct_create_statement(self, name: str, name_appendix: str = "") -> str:
        """Full T-SQL-shaped clone DDL — usp_ConstructCreateStatementForTable
        parity (deployments/usp_ConstructCreateStatementForTable.sql:25-100):
        bracketed identifiers, typed column list with NULL/NOT NULL, and the
        WITH (DISTRIBUTION = ..., index clause) the reference appends.  The
        ``name_appendix`` supports the script's table-clone workflow
        (GetCreateStatement_Table.sql)."""
        schema_name, table_name = name.split(".", 1)
        df = self.spark.table(self._q(name))
        cols = []
        for f in df.schema.fields:
            dtype = f.dataType.simpleString()
            if dtype.startswith("decimal"):
                rendered = "[decimal]" + dtype[len("decimal"):].replace(",", ", ")
            else:
                rendered = self._SPARK_TO_TSQL.get(dtype, f"[{dtype}]")
            nullness = " NULL" if f.nullable else " NOT NULL"
            cols.append(f"   [{f.name}] {rendered}{nullness}")
        layout = self.get_layout(name)
        if layout.distribution == "hash":
            dist = f"HASH([{layout.distribution_column}])"
        elif layout.distribution == "replicate":
            dist = "REPLICATE"
        else:
            dist = "ROUND_ROBIN"
        if layout.sort_columns:
            index = (
                "CLUSTERED INDEX ("
                + ", ".join(f"[{c}]" for c in layout.sort_columns)
                + ")"
            )
        elif layout.index_type == "heap":
            index = "HEAP"
        else:
            index = "CLUSTERED COLUMNSTORE INDEX"
        return (
            f"CREATE TABLE [{schema_name}].[{table_name}{name_appendix}]\n(\n"
            + ",\n".join(cols)
            + "\n)\nWITH ( DISTRIBUTION = "
            + dist
            + ", "
            + index
            + " )"
        )


def with_identity(
    df: DataFrame, col_name: str = "id", start: int = 1, dense: bool = True
) -> DataFrame:
    """BIGINT IDENTITY(1,1) surrogate keys (fact.sale.sql:3, fact.order.sql:3).

    dense=False → ``monotonically_increasing_id``: fully parallel, unique,
    but sparse (gaps between partitions) — the cheap default for surrogate
    keys where only uniqueness matters.

    dense=True → contiguous ``start..start+n-1`` WITHOUT a single-partition
    window: number rows within each partition, then shift each partition by
    the cumulative count of the partitions before it (two jobs: one tiny
    per-partition count, one map — the scalable dense-sequence recipe).
    Ordering follows partition order, matching the reference's arbitrary
    IDENTITY assignment order.
    """
    if not dense:
        return df.withColumn(
            col_name, F.monotonically_increasing_id() + F.lit(start)
        )
    from pyspark import StorageLevel
    from pyspark.sql import Window

    pid = F.spark_partition_id()
    local_w = Window.partitionBy("__pid").orderBy(F.monotonically_increasing_id())
    # persist pins ONE physical partitioning across the two jobs below —
    # without it, AQE coalescing / nondeterministic sources may repartition
    # between the count job and the final projection, so the collected
    # offsets would no longer match the partition ids the projection sees
    # (duplicate / non-contiguous keys).  Caller materializes lazily, so the
    # cached blocks are dropped on session end or explicit unpersist.
    with_local = (
        df.withColumn("__pid", pid)
        .withColumn("__local", F.row_number().over(local_w))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = {
        r["__pid"]: r["cnt"]
        for r in with_local.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets, acc = {}, start - 1
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    offset_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    return (
        with_local.withColumn(
            col_name, (offset_map[F.col("__pid")] + F.col("__local")).cast("bigint")
        )
        .drop("__pid", "__local")
    )
