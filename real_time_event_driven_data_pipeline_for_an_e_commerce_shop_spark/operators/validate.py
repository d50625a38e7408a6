"""Validation stage — the reference's Task 1, as lazy DataFrame ops.

Reference semantics (SURVEY.md §2.2/2.3; ``/root/reference/Task_1/
task_1.py:106-141``):

* P1 orders: drop rows with null ``order_id``/``user_id``/``created_at``
  (``task_1.py:125``).
* P2/P3 order_items: drop null ``id``/``product_id``/``sale_price``;
  keep ``sale_price > 0`` (``task_1.py:126-127``).
* J1 referential integrity: keep items whose ``order_id`` exists in the
  validated orders — a **left-semi join**, replacing the reference's
  driver-side ``isin(set(...))`` (``task_1.py:129-131``) which would
  need the whole orders key-set in one process; the semi-join shuffles
  (or broadcasts) instead and scales to any cardinality.
* P4 date derivation: ``order_date``/``return_date`` from timestamps
  (``task_1.py:133-136``); ``to_date`` is null-preserving exactly like
  ``pd.to_datetime(...).dt.date``.

P1–P3 are stated once, in :data:`RULES`: the validators keep the rows
no rule fails, and :func:`validation_reject_summary` counts each reject
under its first failing rule. Everything is built-in Catalyst
expressions: the null rules push into the scan as ``IsNotNull``, and
because validation is a DataFrame→DataFrame function the optimizer can
see through it into the KPI stage when the intermediate
materialization is skipped.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _is_null(col: str) -> Callable[[], Column]:
    return lambda: F.col(col).isNull()


#: Task-1 row rules per table, in priority order: ``(rule, fails)``
#: where ``fails()`` builds the Column that is true on a reject (built
#: on call — a Column needs an active SparkContext). A reject counts
#: under its FIRST failing rule, so reasons are deterministic; a
#: ``fails`` may be null only on rows an earlier rule already fails.
#: The reference README says invalid records are "logged and skipped"
#: (README.md:35); its task_1.py:106-141 drops them silently
#: (SURVEY.md §2.2).
RULES: dict[str, tuple[tuple[str, Callable[[], Column]], ...]] = {
    "orders": (
        ("null_order_id", _is_null("order_id")),
        ("null_user_id", _is_null("user_id")),
        ("null_created_at", _is_null("created_at")),
    ),
    "order_items": (
        ("null_id", _is_null("id")),
        ("null_product_id", _is_null("product_id")),
        # NaN is missing too, as for pandas ``dropna`` and ``na.drop``
        ("null_sale_price",
         lambda: F.col("sale_price").isNull() | F.isnan("sale_price")),
        ("nonpositive_sale_price", lambda: F.col("sale_price") <= 0),
    ),
}


def _passes(table: str) -> Column:
    return reduce(Column.__and__, (~fails() for _, fails in RULES[table]))


def _first_failing(table: str) -> Column:
    return F.coalesce(
        *(F.when(fails(), F.lit(rule)) for rule, fails in RULES[table])
    )


def validate_orders(orders: DataFrame) -> DataFrame:
    """P1 + P4: the orders rules, then date projections.

    ``return_date`` is derived only when the source carries
    ``returned_at`` (the TPC-H-mapped corpus has no order-level return
    timestamp; FIXTURES.md §B)."""
    out = orders.filter(_passes("orders")).withColumn(
        "order_date", F.to_date("created_at")
    )
    if "returned_at" in orders.columns:
        out = out.withColumn("return_date", F.to_date("returned_at"))
    return out


def validate_order_item_rows(order_items: DataFrame) -> DataFrame:
    """P2 + P3: the row-local item rules (J1 needs the orders; the
    event pipeline applies it when an item's order lands)."""
    return order_items.filter(_passes("order_items"))


def validate_order_items(
    order_items: DataFrame, valid_orders: DataFrame
) -> DataFrame:
    """P2 + P3 + J1: the item rules, then the order-existence semi-join."""
    return validate_order_item_rows(order_items).join(
        valid_orders.select("order_id"), "order_id", "left_semi"
    )


def validation_reject_summary(
    orders: DataFrame, order_items: DataFrame
) -> DataFrame:
    """Reject counts per (table, rule): each row of :data:`RULES`, then
    ``order_items``/``unknown_order`` — the J1 anti-join, the rows the
    reference's ``isin`` filter drops with no trace. Every rule appears,
    zero or not, so the output shape is data-independent (a clean
    corpus yields all-zero counts, not an empty frame the correctness
    gate would compare vacuously)."""
    orphans = validate_order_item_rows(order_items).join(
        validate_orders(orders).select("order_id"), "order_id", "left_anti"
    )
    counts = (
        orders.select(F.lit("orders").alias("table_name"),
                      _first_failing("orders").alias("rule"))
        .unionByName(order_items.select(
            F.lit("order_items").alias("table_name"),
            _first_failing("order_items").alias("rule")))
        .unionByName(orphans.select(
            F.lit("order_items").alias("table_name"),
            F.lit("unknown_order").alias("rule")))
        .filter(F.col("rule").isNotNull())
        .groupBy("table_name", "rule")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    rules = orders.sparkSession.createDataFrame(
        [(table, rule) for table, entries in RULES.items() for rule, _ in entries]
        + [("order_items", "unknown_order")],
        "table_name string, rule string",
    )
    return rules.join(counts, ["table_name", "rule"], "left").select(
        "table_name",
        "rule",
        F.coalesce("_n", F.lit(0)).cast("long").alias("n_rejected"),
    )


def run_validation(
    products: DataFrame, orders: DataFrame, order_items: DataFrame
) -> dict[str, DataFrame]:
    """Full Task-1 stage: returns the validated star schema, lazily.
    Products pass through unvalidated, as in the reference
    (``task_1.py:120,141``)."""
    v_orders = validate_orders(orders)
    return {
        "products": products,
        "orders": v_orders,
        "order_items": validate_order_items(order_items, v_orders),
    }
