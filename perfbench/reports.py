"""The SQL the benchmark sends: analyst report templates over the star,
and the refresh workload's dashboard queries and DML.

Reports and dashboards are written in T-SQL (``[brackets]``, ``TOP``,
``OPTION (LABEL = ...)``) and reach the engine through ``Engine.tsql``.
``duckdb_sql`` turns a report into the DuckDB oracle's dialect with three
textual edits; the templates use only constructs where that is exact.
"""

from __future__ import annotations

import datetime as dt
import re

import gen

#: the star's schema in the warehouse and in the DuckDB oracle
STAR = "star"

_REVENUE = "SUM([l].[l_extendedprice] * (1 - [l].[l_discount]))"


def _day(days: int) -> str:
    return (gen.EPOCH + dt.timedelta(days=days)).isoformat()


def report_sql(template: str, p: dict) -> str:
    """T-SQL text of one report; ``p`` comes from ``gen.report_params``."""
    s = STAR
    label = f" OPTION (LABEL = '{template}')"
    if template == "pricing_summary":
        cutoff = _day(gen.DAYS - p["delta"])
        return (
            "SELECT [l_returnflag], [l_linestatus], SUM([l_quantity]) AS [sum_qty],"
            " SUM([l_extendedprice]) AS [sum_base_price],"
            " SUM([l_extendedprice] * (1 - [l_discount])) AS [sum_disc_price],"
            " SUM([l_extendedprice] * (1 - [l_discount]) * (1 + [l_tax])) AS [sum_charge],"
            " COUNT(*) AS [count_order]"
            f" FROM [{s}].[lineitem] WHERE [l_shipdate] <= CAST('{cutoff}' AS DATE)"
            " GROUP BY [l_returnflag], [l_linestatus]"
            " ORDER BY [l_returnflag], [l_linestatus]" + label
        )
    if template == "shipping_priority":
        return (
            f"SELECT TOP 10 [l].[l_orderkey], {_REVENUE} AS [revenue], [o].[o_orderdate]"
            f" FROM [{s}].[customer] AS [c]"
            f" JOIN [{s}].[orders] AS [o] ON [c].[c_custkey] = [o].[o_custkey]"
            f" JOIN [{s}].[lineitem] AS [l] ON [l].[l_orderkey] = [o].[o_orderkey]"
            f" WHERE [c].[c_mktsegment] = '{p['segment']}'"
            f" AND [o].[o_orderdate] < CAST('{p['day']}' AS DATE)"
            f" AND [l].[l_shipdate] > CAST('{p['day']}' AS DATE)"
            " GROUP BY [l].[l_orderkey], [o].[o_orderdate]"
            " ORDER BY [revenue] DESC, [o].[o_orderdate], [l].[l_orderkey]" + label
        )
    if template == "nation_revenue":
        return (
            f"SELECT [n].[n_name], {_REVENUE} AS [revenue]"
            f" FROM [{s}].[lineitem] AS [l]"
            f" JOIN [{s}].[orders] AS [o] ON [l].[l_orderkey] = [o].[o_orderkey]"
            f" JOIN [{s}].[customer] AS [c] ON [o].[o_custkey] = [c].[c_custkey]"
            f" JOIN [{s}].[nation] AS [n] ON [c].[c_nationkey] = [n].[n_nationkey]"
            f" JOIN [{s}].[region] AS [r] ON [n].[n_regionkey] = [r].[r_regionkey]"
            f" WHERE [r].[r_name] = '{p['region']}' AND YEAR([o].[o_orderdate]) = {p['year']}"
            " GROUP BY [n].[n_name] ORDER BY [revenue] DESC, [n].[n_name]" + label
        )
    if template == "supplier_rank":
        return (
            "SELECT [n_name], [s_name], [revenue], [rnk] FROM ("
            f" SELECT [n].[n_name], [s].[s_name], {_REVENUE} AS [revenue],"
            f" RANK() OVER (PARTITION BY [n].[n_name] ORDER BY {_REVENUE} DESC) AS [rnk]"
            f" FROM [{s}].[lineitem] AS [l]"
            f" JOIN [{s}].[supplier] AS [s] ON [l].[l_suppkey] = [s].[s_suppkey]"
            f" JOIN [{s}].[nation] AS [n] ON [s].[s_nationkey] = [n].[n_nationkey]"
            f" WHERE YEAR([l].[l_shipdate]) = {p['year']}"
            " GROUP BY [n].[n_name], [s].[s_name]) AS [ranked]"
            f" WHERE [rnk] <= {p['n']}" + label
        )
    if template == "grouping_sets":
        return (
            "SELECT [r].[r_name], [n].[n_name], SUM([l].[l_quantity]) AS [qty],"
            f" COUNT(*) AS [lines], {_REVENUE} AS [revenue]"
            f" FROM [{s}].[lineitem] AS [l]"
            f" JOIN [{s}].[orders] AS [o] ON [l].[l_orderkey] = [o].[o_orderkey]"
            f" JOIN [{s}].[customer] AS [c] ON [o].[o_custkey] = [c].[c_custkey]"
            f" JOIN [{s}].[nation] AS [n] ON [c].[c_nationkey] = [n].[n_nationkey]"
            f" JOIN [{s}].[region] AS [r] ON [n].[n_regionkey] = [r].[r_regionkey]"
            f" WHERE YEAR([o].[o_orderdate]) = {p['year']}"
            " GROUP BY GROUPING SETS (([r].[r_name], [n].[n_name]), ([r].[r_name]), ())"
            + label
        )
    if template == "count_distinct":
        return (
            "SELECT [c].[c_mktsegment], COUNT(DISTINCT [o].[o_custkey]) AS [customers],"
            " COUNT(*) AS [orders]"
            f" FROM [{s}].[orders] AS [o]"
            f" JOIN [{s}].[customer] AS [c] ON [o].[o_custkey] = [c].[c_custkey]"
            f" WHERE YEAR([o].[o_orderdate]) = {p['year']}"
            " GROUP BY [c].[c_mktsegment]" + label
        )
    if template == "brand_revenue":
        return (
            f"SELECT TOP 10 [p].[p_brand], {_REVENUE} AS [revenue], COUNT(*) AS [lines]"
            f" FROM [{s}].[lineitem] AS [l]"
            f" JOIN [{s}].[part] AS [p] ON [l].[l_partkey] = [p].[p_partkey]"
            f" WHERE [p].[p_size] <= {p['size']} AND [p].[p_type] = '{p['type']}'"
            " GROUP BY [p].[p_brand] ORDER BY [revenue] DESC, [p].[p_brand]" + label
        )
    if template == "top_customers":
        return (
            f"SELECT TOP {p['n']} [c].[c_custkey], [c].[c_name], {_REVENUE} AS [revenue]"
            f" FROM [{s}].[customer] AS [c]"
            f" JOIN [{s}].[orders] AS [o] ON [c].[c_custkey] = [o].[o_custkey]"
            f" JOIN [{s}].[lineitem] AS [l] ON [l].[l_orderkey] = [o].[o_orderkey]"
            f" WHERE YEAR([o].[o_orderdate]) = {p['year']}"
            " GROUP BY [c].[c_custkey], [c].[c_name]"
            " ORDER BY [revenue] DESC, [c].[c_custkey]" + label
        )
    if template == "returned_items":
        lo = 3 * p["q"] - 2
        return (
            f"SELECT TOP 20 [n].[n_name], {_REVENUE} AS [revenue], COUNT(*) AS [lines]"
            f" FROM [{s}].[lineitem] AS [l]"
            f" JOIN [{s}].[orders] AS [o] ON [l].[l_orderkey] = [o].[o_orderkey]"
            f" JOIN [{s}].[customer] AS [c] ON [o].[o_custkey] = [c].[c_custkey]"
            f" JOIN [{s}].[nation] AS [n] ON [c].[c_nationkey] = [n].[n_nationkey]"
            f" WHERE [l].[l_returnflag] = 'R' AND YEAR([o].[o_orderdate]) = {p['year']}"
            f" AND MONTH([o].[o_orderdate]) BETWEEN {lo} AND {lo + 2}"
            " GROUP BY [n].[n_name] ORDER BY [revenue] DESC, [n].[n_name]" + label
        )
    if template == "priority_mix":
        return (
            "SELECT [o].[o_orderpriority], COUNT(*) AS [order_count]"
            f" FROM [{s}].[orders] AS [o]"
            f" WHERE YEAR([o].[o_orderdate]) = {p['year']} AND EXISTS ("
            f"SELECT 1 FROM [{s}].[lineitem] AS [l]"
            " WHERE [l].[l_orderkey] = [o].[o_orderkey] AND [l].[l_quantity] > 45)"
            " GROUP BY [o].[o_orderpriority] ORDER BY [o].[o_orderpriority]" + label
        )
    raise KeyError(template)


TEMPLATES = [
    "pricing_summary",
    "shipping_priority",
    "nation_revenue",
    "supplier_rank",
    "grouping_sets",
    "count_distinct",
    "brand_revenue",
    "top_customers",
    "returned_items",
    "priority_mix",
]


def duckdb_sql(tsql: str) -> str:
    """The report in DuckDB's dialect: quoted identifiers, a trailing
    ``LIMIT`` for the top-level ``TOP``, no query hint."""
    s = re.sub(r"\s*OPTION\s*\(\s*LABEL\s*=\s*'[^']*'\s*\)\s*$", "", tsql)
    s = re.sub(r"\[(\w+)\]", r'"\1"', s)
    m = re.match(r"(?s)SELECT TOP (\d+) (.*)$", s)
    if m:
        s = f"SELECT {m.group(2)} LIMIT {m.group(1)}"
    return s


# --- refresh workload ---------------------------------------------------------

ETL = "etl"
FACT = f"{ETL}.sales"
STORES = f"{ETL}.stores"
STAGE = f"{ETL}.batch"

#: dashboard queries run with result-set caching on, several passes per cycle
DASHBOARDS = [
    f"SELECT [st].[region], SUM([f].[amount]) AS [revenue], COUNT(*) AS [sales]"
    f" FROM [{ETL}].[sales] AS [f] JOIN [{ETL}].[stores] AS [st]"
    " ON [f].[store_id] = [st].[store_id] GROUP BY [st].[region]"
    " OPTION (LABEL = 'dash_region')",
    f"SELECT [status], COUNT(*) AS [sales], SUM([qty]) AS [qty] FROM [{ETL}].[sales]"
    " GROUP BY [status] OPTION (LABEL = 'dash_status')",
    f"SELECT TOP 30 [sale_date], SUM([amount]) AS [revenue] FROM [{ETL}].[sales]"
    " GROUP BY [sale_date] ORDER BY [sale_date] DESC OPTION (LABEL = 'dash_daily')",
    f"SELECT TOP 10 [product_id], SUM([amount]) AS [revenue] FROM [{ETL}].[sales]"
    " GROUP BY [product_id] ORDER BY [revenue] DESC, [product_id]"
    " OPTION (LABEL = 'dash_products')",
    f"SELECT [st].[region], COUNT(DISTINCT [f].[cust_id]) AS [customers]"
    f" FROM [{ETL}].[sales] AS [f] JOIN [{ETL}].[stores] AS [st]"
    " ON [f].[store_id] = [st].[store_id] GROUP BY [st].[region]"
    " OPTION (LABEL = 'dash_customers')",
    f"SELECT [st].[store_size], SUM([f].[qty]) AS [qty], MAX([f].[amount]) AS [max_amount],"
    f" MIN([f].[amount]) AS [min_amount] FROM [{ETL}].[sales] AS [f]"
    f" JOIN [{ETL}].[stores] AS [st] ON [f].[store_id] = [st].[store_id]"
    " GROUP BY [st].[store_size] OPTION (LABEL = 'dash_sizes')",
    f"SELECT YEAR([sale_date]) AS [y], MONTH([sale_date]) AS [m], SUM([amount]) AS [revenue]"
    f" FROM [{ETL}].[sales] GROUP BY YEAR([sale_date]), MONTH([sale_date])"
    " OPTION (LABEL = 'dash_monthly')",
    f"SELECT TOP 5 [store_id], SUM([amount]) AS [revenue] FROM [{ETL}].[sales]"
    " GROUP BY [store_id] ORDER BY [revenue] DESC, [store_id]"
    " OPTION (LABEL = 'dash_stores')",
]

UPDATE_TSQL = (
    "UPDATE [etl].[sales] SET [status] = 'S', [qty] = [qty] + 1"
    " WHERE [sale_id] BETWEEN {lo} AND {hi}"
)
DELETE_TSQL = "DELETE FROM [etl].[sales] WHERE [sale_id] < {below}"
