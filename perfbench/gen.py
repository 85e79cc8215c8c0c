"""Deterministic benchmark inputs, all derived from one seed.

Nothing here touches Spark: inputs are written with numpy + pyarrow so that
generating them costs little and never counts as engine set-up.

* ``star``: a TPC-H-shaped star (region, nation, customer, supplier, part,
  orders, lineitem).  Money columns are exact ``DECIMAL`` so that Spark and
  the DuckDB oracle aggregate to identical values.
* ``report_stream``: per-client streams of (template, params, resource class).
* ``etl_base``/``etl_stores``/``etl_batch_csv``: the refresh workload's fact
  and dimension, and one CSV batch per cycle with planted malformed rows.
"""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- sizes (the runs behind them are in perfbench/NOTE.md) -------------------

STAR_ORDERS = 30_000  # lineitem averages 4 rows per order -> ~120k rows
STAR_CUSTOMERS = 3_000
STAR_PARTS = 4_000
STAR_SUPPLIERS = 200

ETL_BASE_ROWS = 60_000
ETL_BATCH_ROWS = 6_000
ETL_UPDATE_SHARE = 0.25  # share of a batch that re-sends live keys
ETL_BAD_ROWS = 12  # malformed rows planted per batch
ETL_STORES = 50

EPOCH = dt.date(1992, 1, 1)
DAYS = 2_400  # ~6.5 years of order dates

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
BRANDS = [f"Brand#{a}{b}" for a in range(1, 6) for b in range(1, 6)]
TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per named stream, so adding a stream never
    shifts the values of another."""
    tag = int.from_bytes(stream.encode()[:8].ljust(8, b"\0"), "little")
    return np.random.default_rng([seed, tag, len(stream)])


def _dec(cents: np.ndarray, precision: int, scale: int = 2) -> pa.Array:
    q = Decimal(1).scaleb(-scale)
    return pa.array(
        [Decimal(int(c)).scaleb(-scale).quantize(q) for c in cents],
        pa.decimal128(precision, scale),
    )


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array(
        np.datetime64(EPOCH.isoformat()) + days.astype("timedelta64[D]"), pa.date32()
    )


# --- star -------------------------------------------------------------------


def star_tables(seed: int) -> dict[str, pa.Table]:
    r = _rng(seed, "star")
    region = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc, ns, np_, no = STAR_CUSTOMERS, STAR_SUPPLIERS, STAR_PARTS, STAR_ORDERS
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(1, nc + 1), pa.int64()),
            "c_name": [f"Customer#{i:06d}" for i in range(1, nc + 1)],
            "c_nationkey": pa.array(r.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _dec(r.integers(-99_999, 999_999, nc), 12),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, nc)].tolist(),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(1, ns + 1), pa.int64()),
            "s_name": [f"Supplier#{i:05d}" for i in range(1, ns + 1)],
            "s_nationkey": pa.array(r.integers(0, 25, ns), pa.int32()),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(1, np_ + 1), pa.int64()),
            "p_brand": np.array(BRANDS)[r.integers(0, 25, np_)].tolist(),
            "p_type": np.array(TYPES)[r.integers(0, 6, np_)].tolist(),
            "p_size": pa.array(r.integers(1, 51, np_), pa.int32()),
            "p_retailprice": _dec(r.integers(90_000, 200_000, np_), 12),
        }
    )
    odays = r.integers(0, DAYS, no)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(1, no + 1), pa.int64()),
            "o_custkey": pa.array(r.integers(1, nc + 1, no), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, no)].tolist(),
            "o_orderdate": _dates(odays),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, no)].tolist(),
        }
    )
    per = r.integers(1, 8, no)  # 1..7 lines per order
    nl = int(per.sum())
    lok = np.repeat(np.arange(1, no + 1), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    ship = np.repeat(odays, per) + r.integers(1, 122, nl)
    qty = r.integers(1, 51, nl)
    price = qty * r.integers(900, 2_000, nl)  # cents
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(lok, pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_partkey": pa.array(r.integers(1, np_ + 1, nl), pa.int64()),
            "l_suppkey": pa.array(r.integers(1, ns + 1, nl), pa.int64()),
            "l_quantity": pa.array(qty, pa.int32()),
            "l_extendedprice": _dec(price, 12),
            "l_discount": _dec(r.integers(0, 11, nl), 4),
            "l_tax": _dec(r.integers(0, 9, nl), 4),
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)].tolist(),
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, nl)].tolist(),
            "l_shipdate": _dates(ship),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def write_parquet(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, t in tables.items():
        p = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, p)
        paths[name] = p
    return paths


# --- report parameter streams ----------------------------------------------

#: resource classes drawn for reports: ~80% smallrc, the rest larger
RC_CHOICES = ["smallrc"] * 8 + ["mediumrc", "largerc"]


def report_params(template: str, r: np.random.Generator) -> dict:
    """Parameters for one report; each template draws from a small domain so
    the oracle fingerprints of repeated parameter sets are computed once."""
    day = lambda: (EPOCH + dt.timedelta(days=int(r.integers(0, DAYS)))).isoformat()
    if template == "pricing_summary":
        return {"delta": int(r.choice([60, 90, 120]))}
    if template == "shipping_priority":
        return {"segment": str(r.choice(SEGMENTS)), "day": day()[:8] + "15"}
    if template == "nation_revenue":
        return {"region": str(r.choice(REGIONS)), "year": int(r.integers(1992, 1998))}
    if template == "supplier_rank":
        return {"year": int(r.integers(1992, 1998)), "n": int(r.choice([3, 5]))}
    if template == "grouping_sets":
        return {"year": int(r.integers(1992, 1998))}
    if template == "count_distinct":
        return {"year": int(r.integers(1992, 1998))}
    if template == "brand_revenue":
        return {"size": int(r.choice([5, 15, 25])), "type": str(r.choice(TYPES))}
    if template == "top_customers":
        return {"year": int(r.integers(1992, 1998)), "n": int(r.choice([10, 20]))}
    if template == "returned_items":
        return {"year": int(r.integers(1992, 1998)), "q": int(r.integers(1, 4))}
    if template == "priority_mix":
        return {"year": int(r.integers(1992, 1998))}
    raise KeyError(template)


def report_stream(
    seed: int, client: int, templates: list[str], n: int
) -> list[tuple[str, dict, str]]:
    """The ``client``'s report sequence: shuffled rounds over every template
    (each round touches each template once), seeded parameters."""
    r = _rng(seed, f"rep{client}")
    out = []
    while len(out) < n:
        for t in r.permutation(templates):
            out.append((str(t), report_params(str(t), r), str(r.choice(RC_CHOICES))))
    return out[:n]


# --- ETL ----------------------------------------------------------------------

ETL_COLUMNS = [
    ("sale_id", "bigint"),
    ("cust_id", "int"),
    ("store_id", "int"),
    ("product_id", "int"),
    ("qty", "int"),
    ("amount", "decimal(12,2)"),
    ("sale_date", "date"),
    ("status", "string"),
]


def _etl_rows(r: np.random.Generator, ids: np.ndarray) -> dict[str, np.ndarray]:
    n = len(ids)
    return {
        "sale_id": ids,
        "cust_id": r.integers(1, 20_001, n),
        "store_id": r.integers(1, ETL_STORES + 1, n),
        "product_id": r.integers(1, 2_001, n),
        "qty": r.integers(1, 20, n),
        "amount": r.integers(100, 500_000, n),  # cents
        "sale_date": r.integers(DAYS - 365, DAYS, n),
        "status": np.array(["N", "P", "S"])[r.integers(0, 3, n)],
    }


def etl_base(seed: int) -> pa.Table:
    r = _rng(seed, "etlbase")
    c = _etl_rows(r, np.arange(1, ETL_BASE_ROWS + 1))
    return pa.table(
        {
            "sale_id": pa.array(c["sale_id"], pa.int64()),
            "cust_id": pa.array(c["cust_id"], pa.int32()),
            "store_id": pa.array(c["store_id"], pa.int32()),
            "product_id": pa.array(c["product_id"], pa.int32()),
            "qty": pa.array(c["qty"], pa.int32()),
            "amount": _dec(c["amount"], 12),
            "sale_date": _dates(c["sale_date"]),
            "status": c["status"].tolist(),
        }
    )


def etl_stores(seed: int) -> pa.Table:
    r = _rng(seed, "etlstores")
    return pa.table(
        {
            "store_id": pa.array(range(1, ETL_STORES + 1), pa.int32()),
            "region": np.array(REGIONS)[r.integers(0, 5, ETL_STORES)].tolist(),
            "store_size": np.array(["S", "M", "L"])[r.integers(0, 3, ETL_STORES)].tolist(),
        }
    )


def etl_cycle_plan(cycle: int) -> dict:
    """Key ranges of cycle ``cycle`` (0-based).  Live keys form the window
    ``[low, high]``; each cycle appends ``new`` keys above ``high``, then the
    DELETE drops the same number from the bottom so the fact's row count
    stays level across cycles."""
    new = ETL_BATCH_ROWS - int(ETL_BATCH_ROWS * ETL_UPDATE_SHARE)
    low = 1 + cycle * new
    high = ETL_BASE_ROWS + cycle * new
    return {
        "low": low,
        "high": high,
        "new": new,
        "delete_below": low + new,  # after the merge: drop the oldest `new`
        "update_lo": low + new + 1_000,
        "update_hi": low + new + 1_999,
    }


def etl_batch_csv(seed: int, cycle: int) -> tuple[str, int, int]:
    """CSV text of one cycle's batch, its count of well-formed rows and of
    planted malformed rows."""
    r = _rng(seed, f"etl{cycle}")
    p = etl_cycle_plan(cycle)
    n_upd = ETL_BATCH_ROWS - p["new"]
    upd = r.choice(np.arange(p["low"] + p["new"] + 2_000, p["high"] + 1), n_upd, replace=False)
    ids = np.concatenate([np.sort(upd), np.arange(p["high"] + 1, p["high"] + p["new"] + 1)])
    c = _etl_rows(r, ids)
    lines = []
    for i in range(len(ids)):
        d = EPOCH + dt.timedelta(days=int(c["sale_date"][i]))
        lines.append(
            f"{c['sale_id'][i]},{c['cust_id'][i]},{c['store_id'][i]},"
            f"{c['product_id'][i]},{c['qty'][i]},"
            f"{Decimal(int(c['amount'][i])).scaleb(-2)},{d.isoformat()},{c['status'][i]}"
        )
    # planted malformed rows: unparseable int, date and decimal.
    # Their keys are far outside the live window, so discarding them is the
    # only correct outcome.
    bad = []
    for k in range(ETL_BAD_ROWS):
        key = 900_000_000 + cycle * 1_000 + k
        kind = k % 3
        if kind == 0:
            bad.append(f"{key},12,3,4,not_a_number,10.00,2020-01-01,N")
        elif kind == 1:
            bad.append(f"{key},12,3,4,5,10.00,not-a-date,N")
        else:
            bad.append(f"{key},12,3,4,5,ten,2020-01-01,N")
    pos = r.choice(len(lines) + len(bad), len(bad), replace=False)
    merged: list[str] = []
    bad_iter = iter(bad)
    good_iter = iter(lines)
    bad_pos = set(int(x) for x in pos)
    for i in range(len(lines) + len(bad)):
        merged.append(next(bad_iter) if i in bad_pos else next(good_iter))
    return "\n".join(merged) + "\n", len(lines), len(bad)
