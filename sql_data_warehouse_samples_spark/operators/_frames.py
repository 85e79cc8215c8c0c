"""Driver-held rows as Arrow-backed local relations.

This is the package's one path from rows held in Python to a relation: the
engine's DMVs and ledgers (``engine.py``, ``meta.py``, ``pdw_catalog.py``,
``ops.py``, ``sources/external.py``) and the operators' small literal
frames (centroids, query terms, constants).

``spark.createDataFrame(<python list>)`` produces an RDD-backed plan: the
rows go through ``SparkContext.parallelize`` and EVERY action on the frame
runs Python-worker tasks — measured ~4 s per 1-row parquet write on
local[32] (r11, scripts-level probe; 32 parallelize slices each spin a
worker, and the pool does not stay warm between sparse jobs).  An empty
list is parallelized into ``defaultParallelism`` no-op slices, which also
defeats Catalyst's ``PropagateEmptyRelation`` rule, so a join against a
provably-empty ledger still plans and runs its full tree.

Here the rows become a typed pyarrow table first, so ``createDataFrame``
returns a ``LocalRelation``: building it runs no Spark job, every action
on it runs pure-JVM, and an empty one is folded away at plan time.  Values
keep their Python meaning (ints stay exact, ``NaN`` stays ``NaN``, ``None``
is NULL); the schema string pins the Spark-side types.
"""

from __future__ import annotations

import datetime as dt
import functools

import pyarrow as pa
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def small_df(spark, rows, schema):
    """A local relation holding ``rows`` (tuples in ``schema`` order, or an
    empty iterable).  ``schema`` is a DDL string or a ``StructType``; a row
    whose width is not the schema's raises ``ValueError``."""
    if isinstance(schema, str):
        schema = _parse(schema)
    arrow = to_arrow_schema(schema)
    rows = list(rows)
    widths = {len(r) for r in rows} - {len(arrow)}
    if widths:
        raise ValueError(
            f"rows of {sorted(widths)} fields for a {len(arrow)}-field schema"
        )
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema=schema)


@functools.lru_cache(maxsize=None)
def _parse(ddl: str) -> StructType:
    return StructType.fromDDL(ddl)  # a JVM round trip, so parsed once


def utc(epoch: float | None) -> dt.datetime | None:
    """An epoch-seconds reading as an aware UTC datetime for a timestamp
    column: the instant survives whatever the session or system time zone
    is (a naive datetime would be read in the session zone)."""
    return None if epoch is None else dt.datetime.fromtimestamp(epoch, dt.timezone.utc)
