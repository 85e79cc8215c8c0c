"""Slowly-changing-dimension Type 2 merge (versioned dimension history).

The reference's loading guidance centers on CTAS upserts into dimension
tables (data-load README CTAS patterns; SURVEY §2.9 D3/D16).  A Kimball
SCD2 dimension is the standard production form of that upsert: instead of
overwriting attributes in place, each business key carries a *version
history* — rows with ``valid_from`` / ``valid_to`` timestamps and a
current flag — so facts can join to the attribute values that were true
at transaction time.

``scd2_apply`` is the pure relational core: one null-safe full comparison
join between the dimension's CURRENT rows and the incoming snapshot on the
business key, classifying every key into unchanged / changed / new /
disappeared, then a union of the row classes.  History rows never enter
the join.

Scale shape (100 TB): the join is a single key-keyed shuffle of
|current| + |source| rows — history (the unbounded part of an SCD2 table)
is partition-pruned out by the ``is_current`` filter before any exchange.
``scd2_merge`` writes through the managed-table layer: with the dimension
Hive-partitioned on the current flag (the recommended layout), closed
versions are APPENDED to the history partition and only the current
partition is rewritten via dynamic partition overwrite — per-run write
cost is O(|current| + |changes|), never O(|history|).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F


def scd2_apply(
    dim: DataFrame,
    source: DataFrame,
    key: str | list[str],
    tracked: list[str] | None = None,
    *,
    as_of: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    current_flag: str = "is_current",
    close_missing: bool = False,
) -> DataFrame:
    """Return the new full state of an SCD2 dimension after applying a
    snapshot.

    ``dim`` holds the current + historical versions (with ``valid_from``,
    ``valid_to`` (NULL = open) and ``current_flag`` columns); ``source`` is
    the latest business snapshot (business key + attributes, no SCD
    columns).  ``tracked`` defaults to every non-key attribute column.
    ``as_of`` is the effective timestamp literal (``'2024-05-01 00:00:00'``)
    used both to close superseded versions and to open new ones.

    Row classes produced:

    * history (``current_flag`` false): passed through untouched.
    * unchanged current: passed through untouched.
    * changed current: closed — ``valid_to`` = ``as_of``, flag false — and a
      new open version inserted from the source row.
    * new key: inserted as an open version.
    * key absent from the snapshot: closed if ``close_missing`` (full
      snapshot feeds) else kept open (incremental feeds).

    Contract: ``source`` carries at most one row per business key and
    ``dim`` at most one OPEN row per key (the invariant this function
    itself maintains — see the idempotence property test); duplicate keys
    on either side would multiply through the join like any keyed upsert.

    Plan shape: ONE full-outer join on the business key classifies every
    key, and a conditional array-explode emits 0–2 output rows per joined
    row (close + reopen for changed keys) map-side — a single exchange
    pair, not one join per row class.
    """
    history, applied = _scd2_classify(
        dim,
        source,
        key,
        tracked,
        as_of=as_of,
        valid_from=valid_from,
        valid_to=valid_to,
        current_flag=current_flag,
        close_missing=close_missing,
    )
    return history.unionByName(applied.drop("__scd_class"))


def _scd2_classify(
    dim: DataFrame,
    source: DataFrame,
    key: str | list[str],
    tracked: list[str] | None = None,
    *,
    as_of: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    current_flag: str = "is_current",
    close_missing: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Core of ``scd2_apply``: returns ``(history, applied)`` where
    ``applied`` carries a ``__scd_class`` column ('keep'|'close'|'open')
    naming the row class the explode emitted it as.  ``scd2_merge`` uses
    the tag to append ONLY rows closed by THIS run — re-filtering the full
    new state for ``valid_to == as_of`` would re-select rows closed by an
    earlier run with the same ``as_of`` (crash retry, two merges in one
    day) out of the history passthrough and append them twice."""
    keys = [key] if isinstance(key, str) else list(key)
    scd_cols = (valid_from, valid_to, current_flag)
    for c in scd_cols:
        if c not in dim.columns:
            raise ValueError(f"dimension is missing SCD column {c!r}")
        if c in source.columns:
            raise ValueError(f"source must not carry SCD column {c!r}")
    attr_cols = [c for c in dim.columns if c not in keys and c not in scd_cols]
    missing = [c for c in keys + attr_cols if c not in source.columns]
    if missing:
        raise ValueError(f"source is missing columns: {missing}")
    tracked = tracked or attr_cols
    ts = F.to_timestamp(F.lit(as_of))
    vt_type = dim.schema[valid_to].dataType

    history = dim.filter(~F.col(current_flag))
    current = dim.filter(F.col(current_flag)).withColumn(
        "__in_cur", F.lit(True)
    )
    src = (
        source.select(*keys, *[F.col(c).alias(f"__s_{c}") for c in attr_cols])
        .withColumn("__in_src", F.lit(True))
    )

    j = current.join(src, keys, "full_outer")
    in_cur = F.col("__in_cur").eqNullSafe(F.lit(True))
    in_src = F.col("__in_src").eqNullSafe(F.lit(True))
    diffs = [~F.col(f"__s_{c}").eqNullSafe(F.col(c)) for c in tracked]
    changed = (
        in_cur & in_src & reduce(lambda a, b: a | b, diffs)
        if diffs
        else F.lit(False)  # key-only dimension: rows never "change"
    )

    def _struct(
        attr_src: str, vf: Column, vt: Column, cur_flag: bool, cls: str
    ) -> Column:
        fields = [F.col(k).alias(k) for k in keys]
        for c in attr_cols:
            fields.append(
                (F.col(c) if attr_src == "cur" else F.col(f"__s_{c}")).alias(c)
            )
        fields += [
            vf.alias(valid_from),
            vt.cast(vt_type).alias(valid_to),
            F.lit(cur_flag).alias(current_flag),
            F.lit(cls).alias("__scd_class"),
        ]
        return F.struct(*fields)

    cur_vf, cur_vt = F.col(valid_from), F.col(valid_to)
    null_vt = F.lit(None).cast(vt_type)
    # the existing current row: kept as-is (unchanged / missing-keep),
    # closed at as_of (changed / missing-close), or absent (new key)
    keep_pred = in_cur & ~changed & (
        F.lit(not close_missing) | in_src
    )
    close_pred = in_cur & (changed | (F.lit(close_missing) & ~in_src))
    open_pred = in_src & (changed | ~in_cur)
    out_rows = F.filter(
        F.array(
            F.when(keep_pred, _struct("cur", cur_vf, cur_vt, True, "keep")),
            F.when(close_pred, _struct("cur", cur_vf, ts, False, "close")),
            F.when(open_pred, _struct("src", ts, null_vt, True, "open")),
        ),
        lambda x: x.isNotNull(),
    )
    applied = (
        j.select(F.explode(out_rows).alias("__r"))
        .select(*[F.col(f"__r.{c}").alias(c) for c in [*dim.columns, "__scd_class"]])
    )
    return history, applied


def scd2_merge(
    catalog,
    table: str,
    source: DataFrame,
    key: str | list[str],
    tracked: list[str] | None = None,
    *,
    as_of: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    current_flag: str = "is_current",
    close_missing: bool = False,
) -> None:
    """Apply an SCD2 snapshot merge to a managed dimension table.

    With the table partitioned on ``current_flag`` (pass
    ``TableLayout(partition_column="is_current")`` at CTAS time), the write
    path is incremental: newly-closed versions are appended into the
    history partition and ONLY the current partition is replaced (dynamic
    partition overwrite) — the history partition's existing files are never
    rewritten.  Any other layout falls back to a full copy-on-write
    rewrite, correct but O(|table|) per run.
    """
    with catalog._lock(table):
        dim = catalog.table(table)
        layout = catalog.get_layout(table)
        history, applied = _scd2_classify(
            dim,
            source,
            key,
            tracked,
            as_of=as_of,
            valid_from=valid_from,
            valid_to=valid_to,
            current_flag=current_flag,
            close_missing=close_missing,
        )
        part = layout.partition_column
        if part == current_flag:
            # incremental path: history files untouched, closed rows appended,
            # current partition replaced.  Both writes read the table
            # ``applied`` was derived from, so it is checkpointed once first.
            # Closed rows come from the __scd_class tag — ONLY rows this run's
            # explode closed — so a crash-retry replay with the same as_of
            # appends nothing (the history passthrough also holds
            # valid_to == as_of rows after the first run and must never
            # re-qualify).
            applied = applied.localCheckpoint(eager=True)
            catalog.insert_into(
                table,
                applied.filter(F.col("__scd_class") == "close").drop("__scd_class"),
            )
            new_current = applied.filter(F.col(current_flag)).drop("__scd_class")
            catalog._replace(
                table, catalog._apply_write_layout(new_current, layout), part, [True]
            )
            return
        new_state = history.unionByName(applied.drop("__scd_class"))
        catalog._replace(table, catalog._apply_write_layout(new_state, layout), part)
