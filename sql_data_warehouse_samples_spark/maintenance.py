"""Maintenance services: statistics, compaction, skew & health reports
(SURVEY §2.9 D11-D13, §2.13 M7-M9).

* Statistics: ANALYZE wrapper + freshness ledger — the reference automates
  CREATE STATISTICS per eligible column (sp_create_statistics.sql:4-88) and
  flags stats older than 7 days (TableHealthCount.sql:72,
  vw_statistics_age.sql:5-22).
* Compaction: ALTER INDEX ALL ... REBUILD parity (generate_rebuild_all.sql:
  2-15) — rewrite a table's small parquet files so row groups approach the
  1,048,576-row CCI target (TableHealthCount.sql:15); rebuild is triggered
  when avg compressed rows < 100k (TableHealthCount.sql:48).
* Health report: rowgroup-quality + skew + stale-stats in one pass — the
  TableHealthCount.sql battery.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import Catalog
from .meta import Meta
from .operators._frames import small_df

ROWGROUP_TARGET_ROWS = 1_048_576  # TableHealthCount.sql:15
POOR_SEGMENT_THRESHOLD = 100_000  # TableHealthCount.sql:48
STALE_STATS_DAYS = 7  # TableHealthCount.sql:72
SKEW_ALERT_RATIO = 0.10  # vw_tables_with_skew.sql:19


class StatisticsService:
    """ANALYZE wrapper + meta.statistics ledger (D11/D12/M9)."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark
        self._ledger: list[dict] = []

    def create_statistics(
        self,
        table: str,
        columns: list[str] | None = None,
        mode: str = "default",
        sample_pct: float = 10.0,
    ) -> None:
        """sp_create_statistics parity: stats on every eligible column unless
        a subset is given, with the reference's three scan modes
        (sp_create_statistics.sql:66-85 generates default / WITH FULLSCAN /
        WITH SAMPLE n PERCENT variants):

        * ``default`` / ``fullscan`` — Catalyst ANALYZE (always a full scan
          in Spark; both recorded distinctly in the ledger).
        * ``sample`` — approximate column stats over ``TABLESAMPLE (n
          PERCENT)``: ndv (approx_count_distinct), null count, min/max per
          column, stored CBO-style in the ledger.  At 100 TB this reads ~n%
          of the files instead of all of them — the same economics that make
          SAMPLE the reference's default for big tables.
        """
        if mode not in ("default", "fullscan", "sample"):
            raise ValueError(f"unknown statistics mode {mode!r}")
        q = Catalog._q(table)
        if columns is None:
            columns = [f.name for f in self.spark.table(q).schema.fields]
        entry = {
            "table": table,
            "columns": columns,
            "analyzed_at": time.time(),
            "mode": mode,
            "sample_pct": sample_pct if mode == "sample" else 100.0,
        }
        if mode == "sample":
            aggs = []
            for c in columns:
                aggs += [
                    F.approx_count_distinct(c).alias(f"{c}__ndv"),
                    F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
                    F.min(c).alias(f"{c}__min"),
                    F.max(c).alias(f"{c}__max"),
                ]
            sampled = self.spark.sql(
                f"SELECT * FROM {q} TABLESAMPLE ({sample_pct} PERCENT)"
            )
            row = sampled.agg(*aggs).collect()[0].asDict()
            entry["column_stats"] = {
                c: {
                    "ndv": row[f"{c}__ndv"],
                    "nulls": row[f"{c}__nulls"],
                    "min": row[f"{c}__min"],
                    "max": row[f"{c}__max"],
                }
                for c in columns
            }
        else:
            cols = ", ".join(f"`{c}`" for c in columns)
            # also records the table's row count and size: no second scan
            self.spark.sql(
                f"ANALYZE TABLE {q} COMPUTE STATISTICS FOR COLUMNS {cols}"
            )
            # record the analyzed row count — the control-node belief the
            # ImpactedTables drift check compares against (Spark drops the
            # catalog estimate on writes, the ledger keeps the last one)
            entry["row_count"] = catalog_row_estimate(self.spark, table)
        self._ledger.append(entry)

    def last_analyzed_rows(self, table: str) -> int | None:
        """The row count the last ANALYZE of ``table`` recorded (names
        match case-insensitively, like the catalog's); None if never."""
        table = table.lower()
        for e in reversed(self._ledger):
            if e["table"].lower() == table and e.get("row_count") is not None:
                return e["row_count"]
        return None

    def generate_statistics_ddl(
        self,
        table: str,
        columns: list[str],
        create_type: int = 1,
        sample_pct: float = 10.0,
    ) -> list[str]:
        """The reference's DDL-assembly output (sp_create_statistics.sql:
        66-70): one CREATE STATISTICS statement per column in the requested
        variant (1=default, 2=FULLSCAN, 3=SAMPLE n PERCENT)."""
        schema_name, table_name = (table.split(".", 1) + [""])[:2]
        out = []
        for c in columns:
            base = (
                f"CREATE STATISTICS [stat_{schema_name}_{table_name}_{c}]"
                f" ON [{schema_name}].[{table_name}]([{c}])"
            )
            if create_type == 2:
                base += " WITH FULLSCAN"
            elif create_type == 3:
                base += f" WITH SAMPLE {sample_pct:g} PERCENT"
            out.append(base)
        return out

    def stats_age_days(self, table: str) -> float | None:
        """STATS_DATE parity (vw_statistics_age.sql:10)."""
        entries = [e for e in self._ledger if e["table"] == table]
        if not entries:
            return None
        return (time.time() - max(e["analyzed_at"] for e in entries)) / 86400.0

    def stale_tables(self, max_age_days: float = STALE_STATS_DAYS) -> list[str]:
        out = []
        seen = set()
        for e in self._ledger:
            seen.add(e["table"])
        for t in seen:
            age = self.stats_age_days(t)
            if age is None or age > max_age_days:
                out.append(t)
        return sorted(out)


class CompactionService:
    """Parquet small-file compaction ≈ ALTER INDEX REBUILD (D13/M8)."""

    def __init__(self, spark: SparkSession, catalog: Catalog, meta: Meta) -> None:
        self.spark = spark
        self.catalog = catalog
        self.meta = meta

    def rowgroup_health(
        self, table: str, min_total_rows: int = POOR_SEGMENT_THRESHOLD
    ) -> dict:
        """Avg rows per row group vs the poor-segment threshold; tables
        below ``min_total_rows`` are never flagged (too small to matter)."""
        rg = self.meta.rowgroups(table)
        agg = rg.agg(
            F.count(F.lit(1)).alias("n_rowgroups"),
            F.sum("total_rows").alias("total_rows"),
            F.avg("total_rows").alias("avg_rows"),
        ).collect()[0]
        # Rowgroups.sql:11-29 pattern: trimmed-rowgroup counts by cause
        reasons = {
            r["trim_reason_desc"]: r["n"]
            for r in rg.groupBy("trim_reason_desc")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        avg_rows = agg["avg_rows"] or 0
        return {
            "table": table,
            "n_rowgroups": agg["n_rowgroups"],
            "total_rows": agg["total_rows"] or 0,
            "avg_rows_per_rowgroup": avg_rows,
            "trim_reasons": reasons,
            "needs_rebuild": 0 < avg_rows < POOR_SEGMENT_THRESHOLD
            and (agg["total_rows"] or 0) > min_total_rows,
        }

    def rebuild(self, table: str, target_rows_per_file: int = ROWGROUP_TARGET_ROWS) -> int:
        """Rewrite the table with file count sized for the rowgroup target,
        keeping its partitioning and buckets (``Catalog._replace``).
        Returns the new file count (a bucketed table writes one file per
        bucket per task)."""
        with self.catalog._lock(table):
            df = self.spark.table(Catalog._q(table))
            layout = self.catalog.get_layout(table)
            n_rows = df.count()
            n_files = max(1, -(-n_rows // target_rows_per_file))
            if layout.distribution == "hash" and layout.distribution_column:
                out = df.repartition(n_files, F.col(layout.distribution_column))
            else:
                out = df.repartition(n_files)
            if layout.sort_columns:
                out = out.sortWithinPartitions(*layout.sort_columns)
            self.catalog._replace(table, out, layout.partition_column)
            return len(self.meta._table_files(table))

    def generate_rebuild_statements(
        self, tables: list[str], min_total_rows: int = POOR_SEGMENT_THRESHOLD
    ) -> list[str]:
        """DDL-from-catalog generation (C5/D13): one REBUILD statement per
        table whose rowgroup quality is below threshold — the
        generate_rebuild_all.sql pattern (`SELECT DISTINCT 'ALTER INDEX ALL
        ON ' + name + ' REBUILD'`, generate_rebuild_all.sql:2-15).  Feed the
        result to ``Engine.run_script``."""
        return [
            f"REBUILD TABLE {t}"
            for t in tables
            if self.rowgroup_health(t, min_total_rows)["needs_rebuild"]
        ]


def catalog_row_estimate(spark: SparkSession, table: str) -> int | None:
    """Optimizer row estimate from catalog statistics — None when the
    table was never ANALYZEd, or was written since (Spark drops it)."""
    import re

    rows = spark.sql(f"DESCRIBE EXTENDED {Catalog._q(table)}").collect()
    for r in rows:
        if r["col_name"] == "Statistics":
            m = re.search(r"(\d+)\s+rows", r["data_type"])
            if m:
                return int(m.group(1))
    return None


#: vw_impacted_tables columns
IMPACTED_SCHEMA = (
    "table string, distribution_type string, partitions int,"
    " ctl_row_count long, cmp_row_count long, skew_percent double,"
    " stat_info string, skew_info string"
)


def impacted_rows(
    footers,
    tables: list[str],
    belief,
    distribution,
    min_rows: int = 1_000_000,
    min_skew_percent: float = 10.0,
    outdated_stats_pct: float = 20.0,
) -> list[tuple]:
    """ImpactedTables rows: tables whose optimizer statistics are missing
    or drifted from the actual stored rows, or whose per-distribution layout
    is skewed.  ``footers`` are ``(schema_name, table_name, row_count)``
    rows, one per file; ``belief(t)`` and ``distribution(t)`` give a
    table's statistics row count (None: never analyzed) and distribution.

    * cmp_row_count — actual rows from parquet footers (compute-node truth)
    * ctl_row_count — ``belief(t)``: the statistics ledger's row count
      (control-node belief, ``StatisticsService.last_analyzed_rows``)
    * stat_info     — 'missing stats' (never analyzed) or 'outdated stats'
      (|ctl−cmp|·100/cmp > ``outdated_stats_pct``)
    * skew_info     — 'data skew' when (max−min)·100/total ≥
      ``min_skew_percent`` across distributions
    Only tables with cmp_row_count > ``min_rows`` AND at least one finding
    are returned, like the reference's final filter.
    """
    files: dict[str, list[int]] = {}
    for schema_name, table_name, row_count in footers:
        files.setdefault(f"{schema_name}.{table_name}", []).append(row_count)
    rows = []
    for t in tables:
        counts = files.get(t, [])
        cmp_rows = sum(counts)
        skew_pct = (
            round((max(counts) - min(counts)) * 100.0 / cmp_rows, 2)
            if cmp_rows else 0.0
        )
        ctl_rows = belief(t)
        if ctl_rows is None:
            stat_info = "missing stats"
        elif cmp_rows and abs(ctl_rows - cmp_rows) * 100.0 / cmp_rows > outdated_stats_pct:
            stat_info = "outdated stats"
        else:
            stat_info = None
        skew_info = "data skew" if skew_pct >= min_skew_percent else None
        if cmp_rows > min_rows and (stat_info or skew_info):
            rows.append(
                (t, distribution(t), len(counts), ctl_rows, cmp_rows,
                 float(skew_pct), stat_info, skew_info)
            )
    return rows


def health_report(spark: SparkSession, catalog: Catalog, meta: Meta, tables: list[str]) -> DataFrame:
    """TableHealthCount.sql battery: per-table rows, rowgroup quality, skew."""
    comp = CompactionService(spark, catalog, meta)
    rows = []
    for t in tables:
        h = comp.rowgroup_health(t)
        ps = meta.partition_stats(t)
        skew = ps.agg(
            (F.min("row_count") * 1.0 / F.nullif(F.max("row_count") * 1.0, F.lit(0.0))).alias(
                "ratio"
            )
        ).collect()[0]["ratio"]
        rows.append(
            (
                t,
                h["total_rows"],
                h["n_rowgroups"],
                float(h["avg_rows_per_rowgroup"]),
                bool(h["needs_rebuild"]),
                float(skew) if skew is not None else None,
                bool(skew is not None and skew < (1 - SKEW_ALERT_RATIO) and h["total_rows"] > 0),
            )
        )
    return small_df(
        spark,
        rows,
        "table string, total_rows long, n_rowgroups long, avg_rows_per_rowgroup double,"
        " needs_rebuild boolean, min_max_ratio double, skew_flag boolean",
    )


def refresh_search_constants(
    docs: DataFrame, path: str, text_col: str = "text"
) -> tuple[int, float]:
    """Maintenance-cadence refresh of the BM25 corpus-constants snapshot
    (the multi-batch analogue of UPDATE STATISTICS for the lexical
    scorer — stale constants degrade ranking smoothly the way stale
    column stats degrade plans): one scalar-aggregate corpus pass settles
    (n_docs, avgdl) into the atomic sidecar that
    ``operators.bm25.bm25_topk_batch(consts=bm25_corpus_consts(path))``
    reads, keeping the large-vocabulary batch-scorer path at exactly one
    documents scan between refreshes.  Run it beside compaction/statistics
    in the same maintenance window."""
    from .operators.bm25 import refresh_bm25_consts

    return refresh_bm25_consts(docs, path, text_col=text_col)


def prune_search_tombstones(
    spark: SparkSession,
    index_path: str,
    settled_keys=(),
    include_unreplayable: bool = False,
) -> int:
    """Maintenance-cadence retention for a serving index's forget-
    tombstone table (``Bm25Index``/``IvfIndex``/``IvfPqIndex`` all share
    the ``{path}/tombstones`` layout): drop entries whose ingest batch
    key can never be replayed again — the caller-side decision
    ``operators.bm25._merge_tombstones`` deliberately defers (only the
    pipeline knows when its checkpoint committed past a batch).  Keeps
    the keyed-replay check's read cost bounded by LIVE deletions instead
    of all-time deletions.  Run beside compaction; see
    ``operators.bm25.prune_tombstones`` for the full contract."""
    import os

    from .operators.bm25 import prune_tombstones

    return prune_tombstones(
        spark,
        os.path.join(index_path, "tombstones"),
        settled_keys,
        include_unreplayable=include_unreplayable,
    )


def parquet_file_census(spark: SparkSession, live: str) -> int:
    """Number of parquet data files under the CURRENT view of a swap
    surface (``dirswap.read_path``-resolved, so retained grace
    generations are NOT counted; ``_``-prefixed children — quantizer
    sidecars, Spark markers — are skipped like the scan skips them).
    Pure metadata listing: the same O(#files) cost a compaction's own
    planning pays, used to decide whether to pay the rest."""
    import os

    from .operators.dirswap import fs_isdir, fs_listdir, read_path

    def _count(d: str) -> int:
        n = 0
        for child in fs_listdir(d, spark):
            # Spark's hidden-path rule: '_'/'.' prefixes are invisible
            # UNLESS the name is a partition dir (contains '='), which
            # is how the __bk=<batch> level stays visible to scans
            if child.startswith(("_", ".")) and "=" not in child:
                continue
            p = os.path.join(d, child)
            if fs_isdir(p, spark):
                n += _count(p)
            elif child.endswith(".parquet"):
                n += 1
        return n

    return _count(read_path(live, spark))


def _compact_surfaces(idx) -> list[str]:
    """The live data surfaces whose file counts gate ``idx``'s compact
    step (logical paths — ``parquet_file_census`` resolves them)."""
    import os

    from .operators.bm25 import Bm25Index

    if isinstance(idx, Bm25Index):
        return [
            os.path.join(idx.path, "postings"),
            os.path.join(idx.path, "doclens"),
        ]
    return [os.path.join(idx.path, "lists")]


def corpus_maintenance_window(
    spark: SparkSession,
    pipeline=None,
    ledger_files: int | None = 8,
    docs: DataFrame | None = None,
    consts_path: str | None = None,
    text_col: str = "text",
    indexes=(),
    index_files_per_list: int | None = None,
    settled_keys=(),
    prune_unreplayable: bool = True,
    skip_compact_below: int | None = None,
    grace_min_age_s: float | None = None,
) -> dict:
    """The worked maintenance runbook, as one call — everything a corpus
    under an ``admission_sink`` needs at maintenance cadence, in the
    order that keeps each step's invariants intact:

    1. **Compact the admission ledgers** (``pipeline.compact`` — verified
       staged dirswap each): folds ``batch-<key>/`` subdirs into
       ``ledger_files`` files; keyed-replay exclusion survives via the
       ``batch_key`` data column.
    2. **Compact the serving indexes**: the IVF family's
       ``compact(spark, files_per_list)`` preserves the ``__bk`` layout
       so later keyed replays stay sound; ``Bm25Index.compact`` folds
       ``base``/``u<N>``/settled-key subpartitions into ``base``
       (``settled_keys`` is shared with step 3 — a key the operator
       vouches as settled is safe to fold AND to prune).
    3. **Prune forget-tombstones** (``prune_search_tombstones`` per
       index): drops ``settled_keys`` and — by default — the
       ``base``/``u<N>`` rows no replay ever consults.  Keys the
       admission sink itself settles per-batch
       (``prune_settled_after=``) are already gone; this pass is for
       retired checkpoint generations the operator vouches for.
    4. **Refresh the batch-scorer corpus constants**
       (``refresh_search_constants`` when ``docs``+``consts_path`` are
       given): one scalar aggregate re-pins (n_docs, avgdl) so the
       large-vocabulary ``bm25_topk_batch`` path keeps its one-scan
       property against the CURRENT corpus.

    The decontamination Bloom is deliberately NOT here: it is pinned to
    the benchmark (not the corpus) and ``ensure_bloom`` staleness-checks
    it at stream (re)start — refreshing it mid-window would invalidate a
    running sink's broadcast.

    QUIESCE FIRST: run this while the admission sink is stopped (between
    ``availableNow`` triggers, or after ``query.stop()``).  The compacts
    staged-swap whole tables; a micro-batch ingesting concurrently could
    land files in a directory that is about to be swapped away.  Same
    single-writer assumption as every ledger/index maintenance op.

    ``skip_compact_below`` (r11 — the census gate): a compact step is
    skipped when EVERY surface it would rewrite is already at ≤ N
    parquet files (reported as ``compact_skipped[...]`` carrying the
    per-surface censuses), paying only the metadata listing instead of
    a full staged rewrite.  The gate is per STEP, because each compact
    API rewrites its whole surface set in one call (``pipeline.compact``
    does both ledgers, ``Bm25Index.compact`` postings+doclens) — so one
    surface of a pair over the gate re-compacts its healthy sibling
    too; the per-surface MAX comparison (r12, ADVICE) at least never
    FIRES a step whose every surface is individually at floor, which
    the old summed census did.  The sf10 probe measured the window at
    ~40 s dominated by per-surface rewrite floors — most windows after
    a settled-batch trigger only have ONE surface that actually
    accumulated files, and this knob makes the others near-free.
    Tombstone pruning and the consts refresh still run for skipped
    surfaces (they are not file-count problems).

    ``grace_min_age_s`` (grace reclamation): when set, a final step
    runs ``dirswap.gc_generations(keep=1, min_age_s=...)`` over every
    swap surface this window touches (both ledgers, each index's compact
    surfaces and its tombstone table), reclaiming reader-grace
    generations older than this many seconds — the lineage beyond the
    current generation, which otherwise persists until the surface's
    NEXT publish (a full second copy of every rarely-published
    ledger/index).  Size it above the longest scan a
    reader could hold across a publish; ``0.0`` reclaims everything
    (quiesced-cluster semantics).  Reported as ``grace_reclaimed``
    (list of removed paths).

    Returns a report dict (one entry per step that ran)."""
    report: dict = {}

    def _skip(surfaces) -> dict | None:
        """Per-surface censuses when ALL are at-or-under the gate, else
        None (any surface over the gate → the step runs)."""
        if skip_compact_below is None:
            return None
        census = {s: parquet_file_census(spark, s) for s in surfaces}
        return (
            census
            if max(census.values()) <= skip_compact_below
            else None
        )

    if pipeline is not None:
        census = _skip([pipeline.exact.path, pipeline.near.path])
        if census is not None:
            report["compact_skipped[ledgers]"] = census
        else:
            exact_rows, near_rows = pipeline.compact(ledger_files)
            report["ledger_exact_rows"] = exact_rows
            report["ledger_near_rows"] = near_rows
    import inspect

    for idx in indexes:
        name = f"{type(idx).__name__}:{idx.path}"
        if hasattr(idx, "compact"):
            census = _skip(_compact_surfaces(idx))
            if census is not None:
                report[f"compact_skipped[{name}]"] = census
            else:
                params = inspect.signature(idx.compact).parameters
                if "files_per_list" in params:  # IVF family
                    kw = (
                        {"files_per_list": index_files_per_list}
                        if index_files_per_list is not None
                        else {}
                    )
                    report[f"compacted[{name}]"] = idx.compact(spark, **kw)
                else:  # Bm25Index: fold settled/un-keyed batches into base
                    report[f"compacted[{name}]"] = idx.compact(
                        settled_keys=settled_keys
                    )
        report[f"tombstones_pruned[{name}]"] = prune_search_tombstones(
            spark,
            idx.path,
            settled_keys,
            include_unreplayable=prune_unreplayable,
        )
    if docs is not None and consts_path is not None:
        n_docs, avgdl = refresh_search_constants(
            docs, consts_path, text_col=text_col
        )
        report["consts_n_docs"] = n_docs
        report["consts_avgdl"] = avgdl
    if grace_min_age_s is not None:
        import os

        from .operators.dirswap import gc_generations

        surfaces: list[str] = []
        if pipeline is not None:
            surfaces += [pipeline.exact.path, pipeline.near.path]
        for idx in indexes:
            surfaces += _compact_surfaces(idx)
            surfaces.append(os.path.join(idx.path, "tombstones"))
        removed: list[str] = []
        for s in surfaces:
            removed += gc_generations(
                s, spark, keep=1, min_age_s=grace_min_age_s or None
            )
        report["grace_reclaimed"] = removed
    return report


def index_skew(spark: SparkSession, index) -> tuple[float, int, int]:
    """List-population skew of a served vector index: (max/lower-median
    vector count over the inverted lists, max, median) — the drift
    signal ``remediate_index_drift`` gates on and the
    ``IndexMaintenanceScheduler`` polls.  One nlist-row aggregate."""
    counts = sorted(
        r["n"]
        for r in index._lists(spark)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    if not counts:
        return 0.0, 0, 0
    # LOWER median: for an even list count the upper-median index
    # can BE the max (n=2 → ratio 1.0 however skewed), silently
    # muting detection exactly where few lists make skew worst
    median = counts[(len(counts) - 1) // 2]
    return counts[-1] / max(median, 1), counts[-1], median


def remediate_index_drift(
    spark: SparkSession,
    index,
    max_count_ratio: float = 4.0,
    corpus: DataFrame | None = None,
    train_iters: int = 2,
) -> dict:
    """Monitoring → remediation for a served vector index, closing the
    loop ``balance()``/``snapshot_balance()`` only observes: compute the
    list-population skew (max/median vector count over the inverted
    lists — skewed ``add()`` batches pile near-copies onto few lists,
    degrading both probe recall and partition pruning), and when it
    exceeds ``max_count_ratio``, ``retrain()`` the quantizer and report
    the before/after ratios.  ``IvfPqIndex.retrain`` re-encodes from raw
    vectors, so pass ``corpus`` (the admitted corpus) for a compressed
    index — omitting it raises BEFORE any rewrite rather than after.

    Threshold-gated rather than cadence-gated on purpose: a retrain
    rewrites every list, so it should run when drift is REAL, not every
    window.  Run from the same quiesced single-writer context as
    ``corpus_maintenance_window``.  Returns
    {ratio, retrained, ratio_after?}."""
    import inspect

    def _skew() -> tuple[float, int, int]:
        return index_skew(spark, index)

    ratio, mx, med = _skew()
    report = {
        "ratio": ratio,
        "max_count": mx,
        "median_count": med,
        "threshold": max_count_ratio,
        "retrained": False,
    }
    if ratio <= max_count_ratio:
        return report
    needs_corpus = "corpus" in inspect.signature(index.retrain).parameters
    if needs_corpus:
        if corpus is None:
            raise ValueError(
                "a compressed (PQ) index re-encodes from raw vectors: "
                "pass corpus= (the admitted corpus) to remediate its drift"
            )
        index.retrain(spark, corpus, train_iters=train_iters)
    else:
        index.retrain(spark, train_iters=train_iters)
    report["retrained"] = True
    report["ratio_after"], report["max_count_after"], _ = _skew()
    return report


def run_quiesced(maintenance_fn, query=None, restart_fn=None, lease=None,
                 owner: str = "maintenance"):
    """The single-writer maintenance contract as code instead of
    docstring: stop the active streaming sink (if any), run the
    maintenance closure, restart.  Returns ``(result, new_query)``.

    Safe at any stop point BECAUSE of the exactly-once keying: stopping
    mid-micro-batch abandons a partially-applied batch, and the restart
    replays it under the same run-scoped key — ledger appends, corpus
    partitions and index subpartitions all converge (the replay
    contracts every sink component carries).  Typical use::

        report, query = run_quiesced(
            lambda: corpus_maintenance_window(spark, pipeline=pipe,
                                              indexes=(bm25, ivf), ...),
            query=query,
            restart_fn=lambda: admission_sink(stream, pipe, out, ckpt,
                                              bm25_index=bm25, ...),
        )

    ``lease`` (a ``WriterLease``): after the quiesce, the maintenance
    TAKES OVER the writer lease (force-acquire is legitimate here — the
    previous holder was just stopped), holds it for the window, and
    releases before restarting, so the restarted sink re-acquires
    cleanly.  Any still-running foreign writer fails its next
    ``require`` loudly instead of racing the compaction."""
    if query is not None and query.isActive:
        query.stop()
        query.awaitTermination()
    token = None
    if lease is not None:
        token = lease.acquire(owner, force=True)
    try:
        result = maintenance_fn()
    finally:
        if lease is not None:
            lease.release(token)
    new_q = restart_fn() if restart_fn is not None else None
    return result, new_q


class WriterLease:
    """The single-writer contract as a CHECKED lock instead of a
    docstring: one small ``_WRITER_LEASE.json`` beside the guarded
    surfaces (pipeline root, index root), written via the same
    scheme-dispatched atomic primitives as every sidecar.

    Semantics are fencing-token-lite: ``acquire`` stores a fresh token
    and returns it; ``require(token)`` verifies the stored token still
    matches — so when maintenance (or a misconfigured second writer)
    takes the lease over, the displaced writer's NEXT batch fails loudly
    instead of silently racing a compaction.  ``acquire(force=False)``
    refuses while another holder's lease is on disk (the
    concurrent-second-writer refusal); ``force=True`` is for legitimate
    takeover — ``run_quiesced`` after stopping the holder, or crash
    recovery when the holder is known dead.

    ADVISORY, not mutual exclusion: with no compare-and-swap primitive
    on plain stores, two simultaneous force-acquires both "succeed" and
    the loser only finds out at its next ``require``.  That converts
    silent double-writer corruption into a loud failure — the contract
    this class exists to check — but true fencing needs a CAS-capable
    store or a coordination service.

    FENCED on conditional stores (r12): when a conditional-write
    adapter is registered for the root's scheme
    (``dirswap.register_conditional_store`` — S3 conditional writes,
    GCS generation preconditions, Azure ETags), every lease write is a
    conditional PUT against the tag of the record it read: racing
    acquires lose atomically at the store, the zombie-heartbeat race
    below closes, and release can never delete a successor's lease.
    The advisory caveats in this docstring then apply only to stores
    without such an adapter.

    TTL/HEARTBEAT (r11): with ``ttl_s`` set, the lease record carries a
    ``renewed_at`` stamp that the holder refreshes on every ``require``
    (the per-micro-batch call — one small atomic write), and ``acquire``
    treats a lease whose stamp is older than ``ttl_s`` as ABANDONED:
    it succeeds without ``force``, making crashed-foreign-owner recovery
    self-service instead of a human ``force=True``.  A zombie instance
    of the expired holder is still fenced — its token no longer matches
    at its next ``require``.  ``ttl_s=None`` (default) keeps the
    no-expiry contract: a foreign holder's crash needs explicit force.
    SIZE ttl_s WELL ABOVE the longest gap between the holder's
    ``require`` calls — for a sink that is the micro-batch interval, but
    a ``run_quiesced`` maintenance window heartbeats only at
    acquire/release, so the TTL must comfortably exceed the longest
    window (see the measured window costs in PERFORMANCE.md) or another
    writer could self-serve the lease mid-window.

    Note the heartbeat WIDENS the advisory race window versus the
    read-only pre-TTL ``require``: the refresh is a non-atomic
    read-then-write, so a zombie holder whose ``require`` read raced an
    expiry takeover (stored token still its own at read time) can land
    its heartbeat write AFTER the new holder's acquire read-back passed
    — for one batch window both writers believe they hold the lease,
    until the new holder's next ``require`` fails loudly on the
    rewritten token.  Acceptable under the documented no-CAS contract
    (the failure is still loud, just one check later); on a conditional
    store the race is CLOSED — the zombie's refresh is a conditional
    put against the tag it read, which the takeover invalidated."""

    FILE = "_WRITER_LEASE.json"

    def __init__(self, spark: SparkSession, root: str,
                 ttl_s: float | None = None) -> None:
        from .operators.dirswap import require_swap_capable

        self.spark = spark
        self.root = require_swap_capable(root)
        self.ttl_s = ttl_s

    def _file(self) -> str:
        import os

        return os.path.join(self.root, self.FILE)

    def holder(self) -> dict | None:
        """The current lease record ({owner, token}) or None."""
        return self._holder_tagged()[0]

    def _holder_tagged(self):
        """(record, tag): the current lease record plus the conditional
        store's tag for it — (None, None) when absent, tag None when no
        conditional store is registered for the root's scheme (the
        advisory blind-overwrite mode)."""
        import json

        from .operators.dirswap import (
            conditional_store,
            fs_exists,
            fs_read_bytes,
        )

        store = conditional_store(self.root)
        if store is not None:
            cur = store.read(self._file())
            if cur is None:
                return None, None
            return json.loads(cur[0]), cur[1]
        if not fs_exists(self._file(), self.spark):
            return None, None
        return json.loads(fs_read_bytes(self._file(), self.spark)), None

    def _expired(self, cur: dict | None) -> bool:
        """True when the stored lease is older than the TTL — only with
        ``ttl_s`` configured AND a ``renewed_at`` stamp present (a
        pre-TTL record's age is unknown; treating it as expired would
        let a takeover race a live legacy holder)."""
        if self.ttl_s is None or cur is None:
            return False
        stamp = cur.get("renewed_at")
        return stamp is not None and (time.time() - stamp) > self.ttl_s

    def _write_record(self, owner: str, token: str) -> None:
        from .operators.dirswap import atomic_json_write, fs_mkdirs

        fs_mkdirs(self.root, self.spark)
        atomic_json_write(
            self._file(),
            {"owner": owner, "token": token, "renewed_at": time.time()},
            self.spark,
        )

    def acquire(self, owner: str, force: bool = False) -> str:
        """Take the lease; returns the fencing token ``require`` checks.
        Refuses while a DIFFERENT owner's live lease exists unless
        ``force=True`` (quiesced takeover / crash recovery) or the lease
        is EXPIRED (ttl_s elapsed since its last heartbeat — the holder
        is dead or wedged; its zombie is fenced by token rotation).  The
        same owner re-acquires freely — a crashed sink restarting under
        its own identity must not be blocked by its own stale lease; the
        token rotation still fences out a zombie instance of it.

        With a conditional store registered for the root's scheme
        (``dirswap.register_conditional_store``), the write is a
        CONDITIONAL PUT against the tag of the record this acquire
        read (create-if-absent when none existed) — two racing
        (force-)acquires then lose ATOMICALLY at the store instead of
        by read-back luck, upgrading the lease from advisory to
        fenced."""
        import json
        import uuid

        from .operators.dirswap import CasConflict, conditional_store

        cur, tag = self._holder_tagged()
        if (
            cur is not None
            and cur.get("owner") != owner
            and not force
            and not self._expired(cur)
        ):
            raise RuntimeError(
                f"writer lease at {self._file()} is held by "
                f"{cur['owner']!r}; stop that writer first (run_quiesced "
                "takes the lease over for you), or force=True if it is "
                "known dead"
            )
        token = uuid.uuid4().hex
        store = conditional_store(self.root)
        if store is not None:
            try:
                store.put(
                    self._file(),
                    json.dumps(
                        {"owner": owner, "token": token,
                         "renewed_at": time.time()}
                    ).encode(),
                    tag,
                )
            except CasConflict as e:
                raise RuntimeError(
                    f"writer lease at {self._file()} was concurrently "
                    "written during acquire — two writers raced; back off"
                ) from e
            return token
        self._write_record(owner, token)
        # read-back: with no CAS primitive, two near-simultaneous
        # (force-)acquires can both write; re-reading catches the loser
        # at ACQUIRE time in most interleavings instead of at its next
        # require.  Still advisory — a write landing between this read
        # and the caller's first require is caught there instead.
        cur = self.holder()
        if cur is None or cur.get("token") != token:
            raise RuntimeError(
                f"writer lease at {self._file()} was concurrently "
                + ("released" if cur is None else
                   f"taken by {cur['owner']!r}")
                + " during acquire — two writers raced; back off"
            )
        return token

    def require(self, token: str) -> None:
        """Assert this writer still holds the lease — called per
        micro-batch by a lease-guarded sink (one small read).  A
        mismatch means the lease was taken over; fail BEFORE writing.
        With ``ttl_s`` set this is also the HEARTBEAT: a successful
        check refreshes ``renewed_at`` so a live holder never expires.
        On a conditional store the heartbeat is a conditional put
        against the tag this check read, which CLOSES the documented
        zombie-heartbeat race: a takeover landing between the read and
        the refresh fails the refresh (the zombie fences immediately)
        instead of clobbering the new holder's record for a batch."""
        import json

        from .operators.dirswap import CasConflict, conditional_store

        cur, tag = self._holder_tagged()
        if cur is None or cur.get("token") != token:
            raise RuntimeError(
                f"writer lease at {self._file()} was "
                + ("released" if cur is None else
                   f"taken over by {cur['owner']!r}")
                + " — this writer must stop (quiesce contract)"
            )
        if self.ttl_s is not None:
            store = conditional_store(self.root)
            if store is not None:
                try:
                    store.put(
                        self._file(),
                        json.dumps(
                            {"owner": cur["owner"], "token": token,
                             "renewed_at": time.time()}
                        ).encode(),
                        tag,
                    )
                except CasConflict as e:
                    raise RuntimeError(
                        f"writer lease at {self._file()} was taken over "
                        "during the heartbeat — this writer must stop "
                        "(quiesce contract)"
                    ) from e
            else:
                self._write_record(cur["owner"], token)

    def release(self, token: str) -> None:
        """Release the lease if this token still holds it (idempotent:
        releasing an already-displaced or missing lease is a no-op for
        the displaced holder — the new holder keeps it).  On a
        conditional store the delete is conditional on the record this
        release read, so a takeover racing the release keeps the NEW
        holder's lease instead of being deleted by the old one."""
        import os as _os

        from .operators.dirswap import (
            CasConflict,
            _hfs,
            conditional_store,
            fs_exists,
        )

        cur, tag = self._holder_tagged()
        if cur is None or cur.get("token") != token:
            return
        f = self._file()
        store = conditional_store(self.root)
        if store is not None:
            try:
                store.delete(f, tag)
            except CasConflict:
                pass  # taken over since the read — the new holder keeps it
            return
        h = _hfs(f, self.spark)
        if h is None:
            if _os.path.exists(f):
                _os.remove(f)
        elif fs_exists(f, self.spark):
            h.rmtree(f)


class IndexMaintenanceScheduler:
    """Trigger-driven ops loop for the serving-corpus maintenance story —
    the wlm/ops ladder pattern (``FleetAutoScale``'s tag-gated tick with
    decision-log rows) applied to ``run_quiesced`` +
    ``corpus_maintenance_window`` + ``remediate_index_drift``.

    Triggers, each optional:

    * ``settled_every``: fire when the sink's Spark commit log
      (``<checkpoint>/commits``) shows ≥ N batches committed since the
      last maintenance window — the "enough small files accumulated"
      cadence.  Progress persists in a ``_MAINT_STATE.json`` sidecar at
      ``state_path`` so restarts do not re-trigger or lose cadence.
    * ``drift_threshold``: fire when any registered vector index's
      list-population skew (``index_skew``) exceeds it — the
      "quantizer went stale" signal.  The fired window then runs
      ``remediate_index_drift`` per vector index (PQ indexes re-encode
      from raw vectors: supply ``corpus_fn`` or their drift is reported
      but deferred, loudly, in the decision row).
    * ``consts_every`` (r11): fire when ≥ N batches have committed since
      the last window that REFRESHED the BM25 corpus constants sidecar —
      covers a deployment where windows ran without the consts step (or
      the sink stopped after un-refreshed commits) so staleness stays
      bounded by this trigger rather than only by the settled cadence.
      Needs ``checkpoint``/``state_path`` like ``settled_every``, plus
      ``docs``+``consts_path`` in ``window_kwargs`` for the window to
      actually refresh (without them the trigger is unremediable and is
      deferred, loudly — see below).

    Each ``tick`` evaluates the triggers and either logs a ``none`` row
    (with what it observed) or runs ONE quiesced maintenance window —
    stop the sink, take the writer lease, compact ledgers + indexes,
    prune settled tombstones, drift-remediate, release, restart — and
    logs a ``maintain`` row carrying the window's full report.  Drive it
    from whatever scheduler owns cadence (the reference runs these as
    scheduled Logic Apps / SQL Agent jobs — arm-templates/
    sqlDwLogicAppAutoScale; tick == one recurrence firing).

    BACKOFF for unremediable triggers (r11, ADVICE): a window cannot fix
    a PQ drift with no ``corpus_fn``, a drift a previous retrain already
    failed to bring under threshold (until NEW drift accrues beyond that
    retrain's residual ratio), or a consts-age with no ``docs``/
    ``consts_path`` configured.  When every due reason is such a blocked
    one, ``tick`` logs a ``deferred`` decision row WITHOUT quiescing —
    re-firing a full stop/compact/restart cycle that accomplishes
    nothing toward its trigger would cost availability every recurrence.
    A mixed tick (any remediable reason due) still runs the window, but
    blocked drift rows inside it skip their pointless retrain.  Pass
    ``skip_compact_below`` in ``window_kwargs`` to census-gate the
    per-surface compact steps inside fired windows, and
    ``grace_min_age_s`` to reclaim reader-grace copies at the
    same cadence (see ``corpus_maintenance_window``)."""

    def __init__(
        self,
        spark: SparkSession,
        pipeline=None,
        indexes=(),
        checkpoint: str | None = None,
        settled_every: int | None = None,
        drift_threshold: float | None = None,
        consts_every: int | None = None,
        corpus_fn=None,
        state_path: str | None = None,
        lease: WriterLease | None = None,
        window_kwargs: dict | None = None,
    ) -> None:
        for name, every in (("settled_every", settled_every),
                            ("consts_every", consts_every)):
            if every is None:
                continue
            if checkpoint is None or state_path is None:
                raise ValueError(
                    f"{name} needs checkpoint= (the sink's commit "
                    "log) and state_path= (cadence progress sidecar)"
                )
            if every < 1:
                raise ValueError(f"{name} must be >= 1")
        self.spark = spark
        self.pipeline = pipeline
        self.indexes = tuple(indexes)
        self.checkpoint = checkpoint
        self.settled_every = settled_every
        self.drift_threshold = drift_threshold
        self.consts_every = consts_every
        self.corpus_fn = corpus_fn
        self.state_path = state_path
        self.lease = lease
        self.window_kwargs = dict(window_kwargs or {})
        self.decisions: list[dict] = []
        # ratio a failed-to-converge retrain left behind, per index name
        # — the drift-backoff memory (persisted in the state sidecar when
        # one is configured, so restarts keep the hysteresis)
        self._unremediated: dict[str, float] = {}

    # -- observations ----------------------------------------------------

    def committed_batches(self) -> int:
        """Highest batch id the sink's commit log proves settled (-1
        before the first commit) — one small dir listing."""
        import os

        from .operators.dirswap import fs_listdir

        names = fs_listdir(os.path.join(self.checkpoint, "commits"),
                           self.spark)
        ids = [int(n) for n in names if n.isdigit()]
        return max(ids) if ids else -1

    def _state(self) -> dict:
        import json

        from .operators.dirswap import fs_exists, fs_read_bytes

        if self.state_path is None or not fs_exists(self.state_path,
                                                    self.spark):
            state = {"last_batch": -1, "windows": 0}
        else:
            state = json.loads(fs_read_bytes(self.state_path, self.spark))
        state.setdefault("consts_batch", -1)
        state.setdefault("unremediated", {})
        # restart-safe backoff memory: the sidecar is authoritative
        if self.state_path is not None:
            self._unremediated = dict(state["unremediated"])
        else:
            state["unremediated"] = dict(self._unremediated)
        return state

    def _save_state(self, state: dict) -> None:
        from .operators.dirswap import atomic_json_write

        atomic_json_write(self.state_path, state, self.spark)

    def _vector_indexes(self):
        return [i for i in self.indexes if hasattr(i, "centroids")]

    def _idx_name(self, idx) -> str:
        return f"{type(idx).__name__}:{idx.path}"

    def _consts_configured(self) -> bool:
        return (
            self.window_kwargs.get("docs") is not None
            and self.window_kwargs.get("consts_path") is not None
        )

    def _drift_blocked(self, idx, ratio: float) -> str | None:
        """Why a due drift trigger for ``idx`` cannot be remediated right
        now (None = remediable): a PQ retrain with no corpus source, or
        hysteresis — a previous retrain already failed to bring this
        index under threshold and no NEW drift has accrued beyond the
        ratio it left behind, so re-running it would rewrite every list
        to land in the same place."""
        import inspect

        if ("corpus" in inspect.signature(idx.retrain).parameters
                and self.corpus_fn is None):
            return "PQ retrain needs corpus_fn="
        left = self._unremediated.get(self._idx_name(idx))
        if left is not None and ratio <= left + 1e-9:
            return (
                f"retrain already left ratio {round(left, 2)} > threshold; "
                "no new drift since"
            )
        return None

    def _due_rows(self) -> list[dict]:
        """Due triggers with their remediability — the decision inputs.
        Each row: {reason, remediable, blocked?, index?}."""
        rows: list[dict] = []
        self._state()  # refresh the backoff memory from the sidecar
        if self.settled_every is not None:
            n = self.committed_batches()
            last = self._state()["last_batch"]
            if n - last >= self.settled_every:
                rows.append(
                    {"reason": f"settled_batches:{n - last}",
                     "remediable": True}
                )
        if self.drift_threshold is not None:
            for idx in self._vector_indexes():
                ratio, _, _ = index_skew(self.spark, idx)
                if ratio > self.drift_threshold:
                    blocked = self._drift_blocked(idx, ratio)
                    row = {
                        "reason":
                            f"drift[{type(idx).__name__}]:{round(ratio, 2)}",
                        "remediable": blocked is None,
                        "index": self._idx_name(idx),
                    }
                    if blocked is not None:
                        row["blocked"] = blocked
                    rows.append(row)
        if self.consts_every is not None:
            n = self.committed_batches()
            last = self._state()["consts_batch"]
            if n - last >= self.consts_every:
                row = {"reason": f"consts_age:{n - last}",
                       "remediable": self._consts_configured()}
                if not row["remediable"]:
                    row["blocked"] = (
                        "consts refresh needs docs= and consts_path= in "
                        "window_kwargs"
                    )
                rows.append(row)
        return rows

    def due(self) -> list[str]:
        """The trigger reasons that currently fire (empty = nothing due).
        Pure observation — cheap enough to poll every tick.  Blocked
        (unremediable) reasons are still LISTED — the operator should
        see them — but an all-blocked tick defers instead of quiescing
        (see the class docstring)."""
        return [r["reason"] for r in self._due_rows()]

    # -- the loop ----------------------------------------------------------

    def _log(self, action: str, detail) -> dict:
        row = {"action": action, "detail": detail}
        self.decisions.append(row)
        return row

    def tick(self, query=None, restart_fn=None):
        """One recurrence firing.  Returns ``(decision_row, new_query)``
        — ``new_query`` is the restarted sink when a window ran (else
        the passed ``query``, unchanged).  When every due reason is
        blocked (unremediable — see the class docstring), logs a
        ``deferred`` row WITHOUT stopping the sink: the trigger stays
        armed and re-evaluates next tick, but no full quiesce/compact/
        restart cycle is burned on a window that cannot move it."""
        import inspect

        due_rows = self._due_rows()
        reasons = [r["reason"] for r in due_rows]
        if not due_rows:
            return self._log("none", "no trigger due"), query
        if all(not r["remediable"] for r in due_rows):
            return (
                self._log(
                    "deferred",
                    {
                        "reasons": reasons,
                        "blocked": {
                            r["reason"]: r["blocked"] for r in due_rows
                        },
                    },
                ),
                query,
            )

        def _window():
            report = corpus_maintenance_window(
                self.spark, self.pipeline, indexes=self.indexes,
                **self.window_kwargs,
            )
            if self.drift_threshold is not None:
                for idx in self._vector_indexes():
                    name = self._idx_name(idx)
                    ratio, _, _ = index_skew(self.spark, idx)
                    if ratio <= self.drift_threshold:
                        self._unremediated.pop(name, None)
                        continue
                    blocked = self._drift_blocked(idx, ratio)
                    if blocked is not None:
                        report[f"drift[{name}]"] = {"deferred": blocked}
                        continue
                    needs_corpus = "corpus" in inspect.signature(
                        idx.retrain
                    ).parameters
                    res = remediate_index_drift(
                        self.spark, idx,
                        max_count_ratio=self.drift_threshold,
                        corpus=self.corpus_fn() if needs_corpus else None,
                    )
                    report[f"drift[{name}]"] = res
                    # backoff memory: a retrain that could not reach the
                    # threshold arms the hysteresis for this index
                    after = res.get("ratio_after")
                    if res.get("retrained") and after is not None and (
                        after > self.drift_threshold
                    ):
                        self._unremediated[name] = after
                    else:
                        self._unremediated.pop(name, None)
            return report

        try:
            report, new_q = run_quiesced(
                _window, query=query, restart_fn=restart_fn,
                lease=self.lease, owner="maintenance_scheduler",
            )
        except Exception as e:
            # ops-log parity: a failed window leaves a decision row (the
            # sink is stopped and the lease released — run_quiesced's
            # finally — so the operator sees WHY the stream is down);
            # the cadence sidecar is NOT advanced, so the next tick
            # re-fires the same trigger after remediation.
            self._log(
                "failed",
                {"reasons": reasons, "error": f"{type(e).__name__}: {e}"[:300]},
            )
            raise
        if self.state_path is not None:
            # snapshot the window's backoff updates BEFORE _state(),
            # which reloads self._unremediated from the (stale) sidecar
            unrem = dict(self._unremediated)
            state = self._state()
            self._unremediated = unrem
            n = (
                self.committed_batches()
                if self.checkpoint is not None
                else state["last_batch"]
            )
            self._save_state(
                {
                    "last_batch": n,
                    "windows": state["windows"] + 1,
                    "consts_batch": (
                        n
                        if "consts_n_docs" in report
                        else state["consts_batch"]
                    ),
                    "unremediated": unrem,
                }
            )
        return (
            self._log("maintain", {"reasons": reasons, "report": report}),
            new_q if new_q is not None else query,
        )
