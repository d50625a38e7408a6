"""Output checks, computed outside Spark with DuckDB.

* ``batch_kpi``: the KPI tables against an independent DuckDB
  computation of the reference's Task-1/Task-2 semantics over the same
  CSVs (:func:`expected_kpis`), within rounding tolerance.
* ``event_waves``: the streamed KPI tables against a batch run over the
  final raw zone, exactly (:func:`tables_equal`): same rows and the
  order-insensitive value hash of the repository's oracle checker,
  ``scripts/check_oracle.py``.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
from scripts.check_oracle import value_hash

_TS = "TIMESTAMP"
_CSV = {
    "products": {"id": "BIGINT", "sku": "VARCHAR", "cost": "DOUBLE", "category": "VARCHAR",
                 "name": "VARCHAR", "brand": "VARCHAR", "retail_price": "DOUBLE",
                 "department": "VARCHAR"},
    "orders": {"order_id": "BIGINT", "user_id": "BIGINT", "status": "VARCHAR",
               "created_at": _TS, "returned_at": _TS, "shipped_at": _TS,
               "delivered_at": _TS, "num_of_item": "BIGINT"},
    "order_items": {"id": "BIGINT", "order_id": "BIGINT", "user_id": "BIGINT",
                    "product_id": "BIGINT", "status": "VARCHAR", "created_at": _TS,
                    "shipped_at": _TS, "delivered_at": _TS, "returned_at": _TS,
                    "sale_price": "DOUBLE"},
}

#: Task 1 (null-drops, positive price, items→orders semi-join) and the
#: item-grain fact of Task 2, written from the reference's rules.
_FACT = """
CREATE VIEW vo AS
  SELECT order_id, CAST(created_at AS DATE) AS order_date,
         returned_at IS NOT NULL AS is_returned
  FROM orders
  WHERE order_id IS NOT NULL AND user_id IS NOT NULL AND created_at IS NOT NULL;
CREATE VIEW fact AS
  SELECT i.id, i.order_id, i.user_id, i.sale_price, o.order_date, o.is_returned,
         p.category
  FROM order_items i JOIN vo o USING (order_id)
  LEFT JOIN products p ON p.id = i.product_id
  WHERE i.id IS NOT NULL AND i.product_id IS NOT NULL AND i.sale_price IS NOT NULL
    AND i.sale_price > 0;
"""
_CATEGORY = """
SELECT category, CAST(order_date AS VARCHAR) AS order_date,
       SUM(sale_price) AS daily_revenue,
       SUM(sale_price) / COUNT(DISTINCT order_id) AS avg_order_value,
       100.0 * SUM(CAST(is_returned AS INT)) / COUNT(DISTINCT order_id) AS avg_return_rate
FROM fact WHERE category IS NOT NULL GROUP BY 1, 2
"""
_ORDER = """
SELECT CAST(order_date AS VARCHAR) AS order_date,
       COUNT(DISTINCT order_id) AS total_orders, SUM(sale_price) AS total_revenue,
       COUNT(id) AS total_items_sold,
       100.0 * SUM(CAST(is_returned AS INT)) / COUNT(*) AS return_rate,
       COUNT(DISTINCT user_id) AS unique_customers
FROM fact GROUP BY 1
"""
KEYS = {"category_kpi": ["category", "order_date"], "order_kpi": ["order_date"]}
#: Spark rounds money to cents and rates to 4 digits before x100; an
#: independent float computation may land one unit away on a half.
TOLERANCE = 0.0101


def expected_kpis(raw_dir: str) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    try:
        for name, cols in _CSV.items():
            path = os.path.join(raw_dir, "products.csv" if name == "products" else f"{name}/*.csv")
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_csv('{path}', header=true, "
                f"columns={cols!r}, timestampformat='%Y-%m-%dT%H:%M:%S')")
        con.execute(_FACT)
        return {"category_kpi": con.execute(_CATEGORY).df(),
                "order_kpi": con.execute(_ORDER).df()}
    finally:
        con.close()


def read_kpi(out_dir: str, name: str) -> pd.DataFrame | None:
    """A KPI table written by ``KeyedParquetUpsertSink`` (partitioned by
    ``order_date``), with the date as an ISO string; None if missing."""
    con = duckdb.connect()
    try:
        return con.execute(
            "SELECT * REPLACE (CAST(order_date AS VARCHAR) AS order_date) "
            "FROM read_parquet(?, hive_partitioning=true)",
            [os.path.join(out_dir, name, "*", "*.parquet")]).df()
    except duckdb.IOException as e:
        print(f"check {name}: no table under {out_dir}: {e}", file=sys.stderr)
        return None
    finally:
        con.close()


def kpis_match(expected: dict[str, pd.DataFrame], out_dir: str) -> bool:
    for name, want in expected.items():
        got = read_kpi(out_dir, name)
        if got is None:
            return False
        keys = KEYS[name]
        if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
            print(f"check {name}: shape {got.shape} != {want.shape}", file=sys.stderr)
            return False
        m = want.merge(got, on=keys, how="left", suffixes=("", "_got"), indicator=True)
        if (m["_merge"] != "both").any():
            print(f"check {name}: keys differ", file=sys.stderr)
            return False
        for col in want.columns.difference(keys):
            bad = (m[col] - m[f"{col}_got"]).abs() > TOLERANCE
            if bad.any():
                print(f"check {name}.{col}: {int(bad.sum())} rows differ", file=sys.stderr)
                return False
    return True


def tables_equal(a_dir: str, b_dir: str) -> bool:
    for name in KEYS:
        a, b = read_kpi(a_dir, name), read_kpi(b_dir, name)
        if a is None or b is None:
            return False
        cols = sorted(a.columns)
        if cols != sorted(b.columns) or len(a) != len(b) \
                or value_hash(a[cols]) != value_hash(b[cols]):
            print(f"check {name}: streamed table differs from batch", file=sys.stderr)
            return False
    return True
